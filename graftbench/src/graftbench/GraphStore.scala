package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Similarity

/** The kNN-graph vector store: built once from clustered embeddings,
  * turned over by equal-sized append and delete batches (so it keeps its
  * size), compacted every 4th write, and searched by beam walks. Write:
  * one append plus one delete (plus the compaction on every 4th). Read:
  * one batch of walks from the fixed query ids, collected to the client.
  */
final class GraphStore(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  import GraphStore._

  val name = "ann_graph_store"
  val cycleRounds = 4
  val traceCycles = 2
  val cycleSeconds = 6.0

  private val table = "bench_g_store"
  private val warmTable = "bench_g_warm"

  /** Live vectors of the measured store, in the order they are deleted. */
  private var live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  /** The initial vectors, as a frame. */
  private var base: DataFrame = _
  /** Brute-force top-k per query over `live`, recomputed after each write. */
  private var exact: Map[Long, Seq[Long]] = Map.empty
  private var exactVersion = -2
  private var version = 0
  /** Mean recall@k of each checked walk. */
  val recalls = mutable.ArrayBuffer.empty[Double]

  def setup(tr: Tracer, warmup: Boolean): Unit = {
    base = Gen.vectorFrame(spark, seed, 0L until N.toLong, Dim, NClusters)
    mark("inputs ready")
    if (warmup) {
      build(Tracer.off, warmTable)
      mark("warm-up store built")
      warm(Seq(ops(0, Tracer.off, warmTable, compact = true)) ++
        Seq.fill(WarmupWalks)(Seq(walk(Tracer.off, warmTable))))
      mark("warm-up done")
      dropStore(warmTable)
    }
    build(tr, table)
    mark("store built")
  }

  private def build(tr: Tracer, t: String): Unit = {
    dropStore(t)
    live = mutable.LinkedHashMap.empty
    for (id <- 0L until N.toLong) live(id) = Gen.vector(seed, id, Dim, NClusters)
    version += 1
    tr.call("Similarity.writeKnnGraph")(
      Similarity.writeKnnGraph(base, NCentroids, KGraph, t, Buckets, NProbe))
  }

  /** Round r turns batch r over, compacts if it is every 4th, and walks
    * if it is every 2nd: a cycle walks once on a store with two appended
    * batches and once on the compacted store.
    */
  def round(r: Int, tr: Tracer): Seq[Op] =
    ops(r, tr, table, compact = r % cycleRounds == cycleRounds - 1) ++
      (if (r % 2 == 0) Nil
       else if (r % cycleRounds == cycleRounds - 1) Seq(walk(tr, table, "walk-compacted"))
       else Seq(walk(tr, table)))

  def shortRound(tr: Tracer): Seq[Op] = ops(0, tr, table, compact = true) :+ walk(tr, table)

  /** Append batch r and delete as many of the oldest deletable ids, then compact if asked. */
  private def ops(r: Int, tr: Tracer, t: String, compact: Boolean): Seq[Op] = {
    val ids = (0 until Batch).map(i => N.toLong + r * Batch + i)
    val fresh = Gen.vectorFrame(spark, seed, ids, Dim, NClusters)
    val turnover = Op("turnover", write = true, () => {
      val gone = live.keysIterator.filter(_ >= Protected).take(Batch).toSeq
      tr.call("Similarity.appendKnnGraph")(Similarity.appendKnnGraph(fresh, t))
      tr.call("Similarity.deleteFromKnnGraph")(Similarity.deleteFromKnnGraph(
        spark.createDataFrame(java.util.Arrays.asList(gone.map(Row(_)): _*),
          StructType(Seq(StructField("vec_id", LongType)))), t))
      gone.foreach(live.remove)
      for (id <- ids) live(id) = Gen.vector(seed, id, Dim, NClusters)
      version += 1
      () => ()
    })
    val compaction = Op("compact", write = true, () => {
      tr.call("Similarity.compactKnnGraph")(Similarity.compactKnnGraph(t))
      () => ()
    })
    if (compact) Seq(turnover, compaction) else Seq(turnover)
  }

  private def walk(tr: Tracer, t: String, kind: String = "walk"): Op = Op(kind, write = false, () => {
    val rows = tr.call("Similarity.annGraphSearchStored")(
      Similarity.annGraphSearchStored(spark, t, NQueries, Beam, Rounds, K).collect())
    () => checkWalk(rows)
  })

  /** Cosines recomputed, (cos desc, vid asc) order, no self match, no
    * deleted id, at most k rows per query, every query answered, and
    * mean recall@k against the brute-force top-k at or above the floor.
    */
  private def checkWalk(rows: Array[Row]): Unit = {
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    if (corruptOnce()) got(0) = got(0).copy(_3 = got(0)._3 + 0.01)
    val byQ = got.groupBy(_._1)
    Check.ensure(byQ.keySet == (0L until NQueries.toLong).toSet,
      s"walk answered ${byQ.size} of $NQueries queries")
    for ((q, rs) <- byQ) {
      val ranked = rs.sortBy(_._4)
      Check.ensure(ranked.length <= K, s"query $q: ${ranked.length} rows > k = $K")
      Check.ensure(ranked.map(_._4).toSeq == (1L to ranked.length.toLong),
        s"query $q: ranks ${ranked.map(_._4).mkString(",")}")
      val qv = live(q)
      for (((_, vid, c, rank), i) <- ranked.zipWithIndex) {
        Check.ensure(vid != q, s"query $q matched itself")
        Check.ensure(live.contains(vid), s"query $q returned deleted or unknown id $vid")
        val want = Ref.cos(qv, live(vid))
        Check.ensure(c == want, s"query $q vid $vid: cos $c, recomputed $want")
        if (i > 0) {
          val (_, pv, pc, _) = ranked(i - 1)
          Check.ensure(pc > c || (pc == c && pv < vid),
            s"query $q: rank $rank ($vid, $c) out of order after ($pv, $pc)")
        }
      }
    }
    if (exactVersion != version) {
      exact = (0L until NQueries.toLong).map(q => q -> Ref.topK(q, live(q), live, K)).toMap
      exactVersion = version
    }
    val recall = byQ.map { case (q, rs) =>
      rs.map(_._2).toSet.intersect(exact(q).toSet).size.toDouble / K
    }.sum / NQueries
    recalls += recall
    Check.ensure(recall >= RecallFloor, f"mean recall@$K $recall%.3f below the floor $RecallFloor")
  }

  /** ns per graft_vec_dot call, from a projection over the node table:
    * the slope between two cross-join sizes, so scan and job overhead
    * cancel; median of five.
    */
  override def kernelMetrics(): Seq[(String, Double, String)] = {
    graft.functions.VectorExprs.register(spark)
    val nodes = spark.table(s"${table}_nodes").select(col("v")).localCheckpoint()
    val n = nodes.count()
    def timed(q: Int): Double = {
      val qs = base.where(col("vec_id") < q).select(col("embedding").as("qv"))
      val t0 = System.nanoTime()
      nodes.crossJoin(broadcast(qs)).select(sum(expr("graft_vec_dot(v, qv)"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    timed(KernelQ1); timed(KernelQ2)
    val slopes = (0 until 5).map { _ =>
      (timed(KernelQ2) - timed(KernelQ1)) / (n.toDouble * (KernelQ2 - KernelQ1)) * 1e9
    }
    Seq(("functions.graft_vec_dot.ns_per_dot", Stats.median(slopes), "ns"))
  }

  private def dropStore(t: String): Unit =
    for (s <- Seq("nodes", "edges", "meta", "gtombstones"))
      spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")

  def close(): Unit = dropStore(table)
}

object GraphStore {
  val N = 1000
  val Dim = 32
  val NClusters = 16
  val NCentroids = 32
  val KGraph = 16
  val NProbe = 2
  val Buckets = 8
  val Batch = 50
  val NQueries = 50
  /** Ids never deleted: the queries and the pinned codebook (ids < NCentroids). */
  val Protected = math.max(NQueries, NCentroids).toLong
  val Beam = 16
  val Rounds = 4
  val K = 10
  val WarmupWalks = 2
  val RecallFloor = 0.8
  val KernelQ1 = 16
  val KernelQ2 = 1040
}
