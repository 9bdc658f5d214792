package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, sin}
import org.scalatest.funsuite.AnyFunSuite

import graft.SpecJobs.jobsOf
import graft.operators.{Dedup, Similarity, TimeSeries}

/** The round loop every iterative operator runs through
  * (`graft.operators.Iterate`): each cut round runs under the job
  * description `<op>:round<r>`, and a fixpoint that does not settle
  * within its bound fails by name.
  */
class IterateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  /** The distinct `<op>:round<r>` labels of `jobs`, in first-run order. */
  private def rounds(op: String, jobs: Seq[String]): Seq[String] =
    jobs.filter(_.startsWith(s"$op:")).distinct

  private def labels(op: String, n: Int): Seq[String] = (1 to n).map(r => s"$op:round$r")

  /** Two triangles bridged by one pair. */
  private def pairs(): DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("doc_a", "doc_b")
  }

  /** 200 deterministic 8-d vectors. */
  private def corpus(): DataFrame = spark.range(200).select(col("id").as("vec_id"),
    array((0 until 8).map(d => sin(col("id") * (0.37 * (d + 1)) + d).cast("float")): _*)
      .as("embedding"))

  test("a 3-round pageRank and a 3-round labelProp label every round, the last one included") {
    val (pr, prJobs) = jobsOf(spark)(Dedup.pageRank(pairs(), 3).collect())
    assert(pr.length === 6)
    assert(rounds("pageRank", prJobs) === labels("pageRank", 3), prJobs)
    val (lp, lpJobs) = jobsOf(spark)(Dedup.labelProp(pairs(), 3).collect())
    assert(lp.length === 6)
    assert(rounds("labelProp", lpJobs) === labels("labelProp", 3), lpJobs)
  }

  test("outliersEsd labels every round; routedCells labels all but its lazy last round") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(s"2024-01-${"%02d".format(i)}")
    val daily = ((1 to 10).map(i => (1L, d(i), 0.0)) ++
      Seq((1L, d(11), 10.0), (1L, d(12), 10.0))).toDF("user_id", "day", "v")
    val (esd, esdJobs) = jobsOf(spark)(TimeSeries.outliersEsd(daily, 3, 2.0).collect())
    assert(esd.length === 2)
    assert(rounds("outliersEsd", esdJobs) === labels("outliersEsd", 3), esdJobs)
    val (cells, cellJobs) = jobsOf(spark)(Similarity.routedCells(corpus(), 16, 4, 4, 3).collect())
    assert(cells.nonEmpty)
    assert(rounds("routedCells", cellJobs) === labels("routedCells", 2), cellJobs)
    assert(!cellJobs.exists(_.startsWith("graphWalk:")))
  }

  test("connectedComponents that cannot settle within maxIter throws by name after labelling each round") {
    import spark.implicits._
    // a 40-node path needs ~log2(40) pointer-jumping rounds, not 2
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (err, jobs) = jobsOf(spark)(intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    })
    assert(err.getMessage === "connectedComponents did not converge within 2 rounds; " +
      "raise maxIter (diameter of the candidate graph exceeds 2^maxIter)")
    assert(rounds("connectedComponents", jobs) === labels("connectedComponents", 2), jobs)
  }

  test("the reachability audit labels the rounds of both closures") {
    val (out, jobs) = jobsOf(spark)(Similarity.annGraphReachability(corpus(), 16, 4).head())
    assert(out.getAs[Long]("n_nodes") === 200L)
    val seen = rounds("reachability", jobs)
    assert(seen.nonEmpty, jobs)
    assert(seen.toSet === labels("reachability", seen.size).toSet, jobs)
    // one count job per round of each closure, at least
    assert(jobs.count(_ == "reachability:round1") >= 2, jobs)
  }
}
