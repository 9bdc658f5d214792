package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries
import graft.sources.MlFeed

/** The reference's training path (training.py): daily resample, series
  * cleaning, trend / detrend / scale, X/y samples and a hash-sharded
  * feed, at the reference's windows. Write: the whole path from raw
  * events to shards. Read: one epoch through the shard-aware batcher.
  */
final class TrainFeed(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  import TrainFeed._

  val name = "ts_train_feed"
  val cycleRounds = 1
  val traceCycles = 2
  val cycleSeconds = 4.0

  private val eventsPath = s"$dir/tf_events"

  /** Per shard, the kept keys in key order with their expected (x, y)
    * and the std their scaling divided by.
    */
  private var expected: Map[Int, IndexedSeq[Sample]] = Map.empty

  def setup(tr: Tracer, warmup: Boolean): Unit = {
    Gen.eventFrame(spark, seed, NKeys, NDays, 0, NDays).write.parquet(eventsPath)
    mark("events written")
    val all = (0L until NKeys.toLong).flatMap { k =>
      val v = Gen.daily(seed, k, NDays, NDays)
      if (Ref.changes(v) < CleanThreshold) None
      else {
        val s = Ref.scaled(v, Half)
        val (x, y) = Ref.sample(s.scaled, NX, NY)
        Some(Sample(k, Ref.shardOf(k, NShards), x, y, s.std))
      }
    }.toIndexedSeq
    Check.ensure(all.size < NKeys, "generator made no series that cleaning drops")
    expected = all.groupBy(_.shard).map { case (s, xs) => s -> xs.sortBy(_.key) }
    mark("inputs ready")
    if (warmup) {
      warm((0 until WarmupRounds).map(_ => ops(Tracer.off, s"$dir/tf_feed_warm")))
      mark("warm-up done")
    }
  }

  def round(r: Int, tr: Tracer): Seq[Op] = ops(tr, s"$dir/tf_feed")

  def shortRound(tr: Tracer): Seq[Op] = round(0, tr)

  private def ops(tr: Tracer, path: String): Seq[Op] =
    Op("feed", write = true, () => { write(tr, path); () => checkLayout(path) }) +:
      Seq.fill(ReadsPerRound)(Op("epoch", write = false, () => {
        val rows = tr.call("MlFeed.batchesByShard")(
          MlFeed.batchesByShard(spark, path, BatchSize).collect())
        () => checkBatches(rows)
      }))

  private def write(tr: Tracer, path: String): Unit = {
    val events = spark.read.parquet(eventsPath)
    val daily = tr.frame("TimeSeries.resampleDaily")(TimeSeries.resampleDaily(events))
    val verdict = tr.frame("TimeSeries.cleaning")(TimeSeries.cleaning(daily, CleanThreshold))
    val kept = daily.join(verdict.where(col("keep") === 1), Seq("user_id"), "left_semi")
    val scaled = tr.frame("TimeSeries.scale")(
      TimeSeries.scale(TimeSeries.detrend(TimeSeries.trend(kept, Half))))
    val samples = tr.frame("MlFeed.samples")(MlFeed.samples(
      scaled.select(col("user_id"), col("day"), col("scaled").as("v")), NX, NY))
    tr.call("MlFeed.writeShards")(MlFeed.writeShards(samples, path, NShards))
  }

  /** One directory per non-empty shard, one parquet file in each. */
  private def checkLayout(path: String): Unit = {
    val dirs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).toSeq
    Check.ensure(dirs.map(_.getName.stripPrefix("shard=").toInt).toSet == expected.keySet,
      s"feed shards ${dirs.map(_.getName).sorted} != expected ${expected.keySet.toSeq.sorted}")
    for (d <- dirs) {
      val files = d.listFiles().count(f => f.getName.endsWith(".parquet"))
      Check.ensure(files == 1, s"${d.getName} holds $files parquet files, expected 1")
    }
  }

  /** Every kept key sits in exactly one batch: batch b of shard s holds
    * the shard's keys ranked b * BatchSize until (b + 1) * BatchSize, in
    * key order, and each carries the expected arrays.
    */
  private def checkBatches(rows: Array[Row]): Unit = {
    val got = rows.map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
      arrays(r, 3), arrays(r, 4)))
    if (corruptOnce()) got(0)._4(0)(0) += 1.0f
    val byShard = got.groupBy(_._1)
    Check.ensure(byShard.keySet == expected.keySet,
      s"batched shards ${byShard.keySet.toSeq.sorted} != expected ${expected.keySet.toSeq.sorted}")
    for ((shard, keys) <- expected) {
      val batches = byShard(shard).sortBy(_._2)
      val nb = (keys.size + BatchSize - 1) / BatchSize
      Check.ensure(batches.map(_._2).toSeq == (0 until nb),
        s"shard $shard batches ${batches.map(_._2).mkString(",")}, expected 0 until $nb")
      for ((_, b, n, xs, ys) <- batches) {
        val want = keys.slice(b * BatchSize, (b + 1) * BatchSize)
        Check.ensure(n == want.size && xs.length == n && ys.length == n && n <= BatchSize,
          s"shard $shard batch $b holds $n rows, expected ${want.size}")
        for (j <- 0 until n) {
          val s = want(j)
          val tol = 0.0015 + 0.003 / s.std
          def same(a: Array[Float], e: Array[Float], what: String): Unit = {
            Check.ensure(a.length == e.length,
              s"key ${s.key} $what has ${a.length} values, expected ${e.length}")
            var i = 0
            while (i < a.length) {
              if (math.abs(a(i) - e(i)) > tol)
                throw new CheckFailed(s"key ${s.key} $what[$i] = ${a(i)}, expected ${e(i)}")
              i += 1
            }
          }
          same(xs(j), s.x, "x")
          same(ys(j), s.y, "y")
        }
      }
    }
  }

  private def arrays(r: Row, i: Int): Array[Array[Float]] =
    r.getAs[collection.Seq[collection.Seq[Float]]](i).map(_.toArray).toArray

  def close(): Unit = ()
}

object TrainFeed {
  val NKeys = 500
  val NDays = 730
  val Half = 15
  val NX = 365
  val NY = 92
  val CleanThreshold = 20
  val NShards = 8
  val BatchSize = 32
  val ReadsPerRound = 2
  val WarmupRounds = 2

  final case class Sample(key: Long, shard: Int, x: Array[Float], y: Array[Float], std: Double)
}
