package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The soak's replicas and its ladder (`graft.Soak`), at sf0.001 with
  * a top factor of 2: rungs x1 and x2, and the hot fixtures at x2.
  */
class SoakSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)
  private val base = "/root/testdata/sf0.001"
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def tempDir(): Path = {
    val d = Files.createTempDirectory("soak-spec")
    dirs += d
    d
  }

  override def afterAll(): Unit = dirs.foreach(d => Session.deleteTree(d.toFile))

  /** Every table of sf0.001, replicated 2×. */
  private lazy val x2: String = {
    val d = tempDir().resolve("x2").toString
    Soak.writeReplicas(spark, base, d, 2)
    d
  }

  private def replica(n: String): DataFrame = Tables(spark, x2, n)
  private def baseOf(n: String): DataFrame = Tables(spark, base, n)

  test("each replica keeps its base table's schema") {
    for (n <- Tables.names) assert(replica(n).schema === baseOf(n).schema, n)
  }

  test("fact tables hold f × base rows, dimension tables hold base rows") {
    for (n <- Tables.names) {
      val f = if (Soak.offsets.contains(n)) 2 else 1
      assert(replica(n).count() === f * baseOf(n).count(), n)
    }
    assert(Set("region", "nation", "supplier", "part") === Tables.names.toSet -- Soak.offsets.keySet)
  }

  test("ids are disjoint across replicas") {
    for ((n, ids) <- Soak.offsets; c <- ids) {
      def distinct(df: DataFrame) = df.select(col(c)).distinct().count()
      assert(distinct(replica(n)) === 2 * distinct(baseOf(n)), s"$n.$c")
    }
  }

  test("documents: replica 0 is the base unchanged, replica 1 rewrites every space to ' s1_'") {
    val text = baseOf("documents").collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = replica("documents").collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    assert(rows.length === 2 * text.size)
    for ((id, t) <- rows) {
      val (rep, orig) = (id / 1000000000L, id % 1000000000L)
      assert(t === (if (rep == 0) text(orig) else text(orig).replace(" ", " s1_")), id)
    }
    assert(rows.exists { case (id, t) => id >= 1000000000L && t.contains(" s1_") })
  }

  test("a two-gate ladder yields one exponent per gate; only the gate that reads events runs the hot rungs") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    // split-merge sessionization reads events under a checkpoint, so
    // its final frame lists no input file
    val growth = Soak.ladder(spark, base, tempDir().resolve("run").toString, 2,
      Seq("q1_pricing", "ts_sessionize_splitmerge"), emit = lines += _)
    assert(growth.map(_.gate) === Seq("q1_pricing", "ts_sessionize_splitmerge"))
    assert(lines.length === 2)
    for (g <- growth) {
      assert(!g.failed, g)
      assert(g.secs.map(_._1) === Seq(1, 2), g)
      assert(g.exponent.isDefined, g)
    }
    assert(growth(0).hot.isEmpty)
    assert(growth(1).hot.map(_._1) === Seq("hot20", "hot80"))
    assert(growth(1).hot.forall(_._2 > 0), growth(1))
  }

  test("a gate that throws is recorded and does not stop the ladder") {
    val gates: Map[String, Soak.Gate] = Map(
      "boom" -> ((s, _) => s.range(1).selectExpr("raise_error('boom') AS x")),
      "q1_pricing" -> SparkEntry.queries("q1_pricing"))
    val growth = Soak.ladder(spark, base, tempDir().resolve("run").toString, 2,
      Seq("boom", "q1_pricing"), gates, _ => ())
    assert(growth(0).failed && growth(0).secs.forall(_._2 < 0) && growth(0).exponent.isEmpty)
    assert(!growth(1).failed && growth(1).exponent.isDefined, growth(1))
  }

  test("an unknown gate name fails before anything is written") {
    val run = tempDir().resolve("run")
    val e = intercept[IllegalArgumentException](
      Soak.ladder(spark, base, run.toString, 2, Seq("q1_pricing", "no_such_gate"), emit = _ => ()))
    assert(e.getMessage.contains("no_such_gate"))
    assert(!Files.exists(run))
  }

  test("the soak runs gates from SparkEntry only: Soak.scala references no operator") {
    val soak = new java.io.File("src/main/scala/graft/Soak.scala")
    assert(soak.isFile, s"run from the repository root: ${soak.getAbsolutePath}")
    val src = scala.io.Source.fromFile(soak, "UTF-8")
    val text = try src.mkString finally src.close()
    assert("""\boperators\b""".r.findFirstIn(text).isEmpty,
      "Soak.scala references graft.operators — a soak gate body belongs in SparkEntry.queries")
  }
}
