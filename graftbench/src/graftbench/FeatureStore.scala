package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries

/** The daily feature store: built once from the event history, grown by
  * 7-day ingest slices, compacted every 4th append, and served as lag
  * features. Write: one append (plus the compaction on every 4th).
  * Read: lags 1, 7, 28 and a 28-day moving average over the whole store,
  * collected to the client.
  */
final class FeatureStore(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  import FeatureStore._

  val name = "ts_feature_store"
  val cycleRounds = 4
  val traceCycles = 1
  val cycleSeconds = 4.0
  override val maxRounds = NSlices

  private val historyPath = s"$dir/fs_history"
  private val table = "bench_fs_store"
  private val warmTable = "bench_fs_warm"

  /** Every key's daily values over all generated days. */
  private var daily: Array[Array[Double]] = Array.empty
  /** The served output before the last compaction, as a digest. */
  private var preCompaction: Option[Long] = None

  def setup(tr: Tracer, warmup: Boolean): Unit = {
    Gen.eventFrame(spark, seed, NKeys, NDays, 0, BaseDays).write.parquet(historyPath)
    daily = Array.tabulate(NKeys)(k => Gen.daily(seed, k.toLong, NDays, NDays))
    mark("inputs ready")
    if (warmup) {
      spark.sql(s"DROP TABLE IF EXISTS $warmTable")
      TimeSeries.writeDailyStore(spark.read.parquet(historyPath), warmTable, Buckets)
      mark("warm-up store built")
      warm((0 until WarmupRounds).map(r => ops(r, Tracer.off, warmTable, compact = r == WarmupRounds - 1)))
      mark("warm-up done")
      spark.sql(s"DROP TABLE IF EXISTS $warmTable")
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    preCompaction = None
    tr.call("TimeSeries.writeDailyStore")(
      TimeSeries.writeDailyStore(spark.read.parquet(historyPath), table, Buckets))
    mark("store built")
  }

  /** Round r appends slice r; every 4th round also compacts, with one
    * read before the compaction and one after it.
    */
  def round(r: Int, tr: Tracer): Seq[Op] =
    ops(r, tr, table, compact = r % cycleRounds == cycleRounds - 1)

  def shortRound(tr: Tracer): Seq[Op] = ops(0, tr, table, compact = true)

  private def ops(r: Int, tr: Tracer, t: String, compact: Boolean): Seq[Op] = {
    require(r < NSlices, s"ts_feature_store: round $r needs more than the $NSlices generated slices")
    val days = BaseDays + SliceDays * (r + 1)
    val slice = Gen.localEventFrame(spark, seed, NKeys, NDays, days - SliceDays, days)
    val append = Op("append", write = true, () => {
      tr.call("TimeSeries.appendDailyStore")(TimeSeries.appendDailyStore(slice, t, Buckets))
      () => ()
    })
    def read(digest: Option[Boolean]) = Op(if (digest.contains(true)) "serve-compacted" else "serve",
        write = false, () => {
      val rows = tr.call("TimeSeries.lagFeaturesStored")(
        TimeSeries.lagFeaturesStored(spark, t, Lags, Ma).collect())
      () => checkServed(rows, days, digest)
    })
    if (compact) {
      val compaction = Op("compact", write = true, () => {
        tr.call("TimeSeries.compactDailyStore")(TimeSeries.compactDailyStore(spark, t, Buckets))
        () => ()
      })
      Seq(append, read(Some(false)), compaction, read(Some(true)))
    } else Seq(append, read(None))
  }

  /** Row count over all keys; lags, moving average and values of the
    * sampled keys; and, around a compaction, a digest of every served row
    * (`Some(false)` records it, `Some(true)` requires the recorded one).
    */
  private def checkServed(rows: Array[Row], days: Int, digest: Option[Boolean]): Unit = {
    val got = rows.map(r => (r.getLong(0),
      r.getDate(1).toLocalDate.toEpochDay - Gen.BaseEpochDay, r.getDouble(2),
      Lags.indices.map(i => r.getDouble(3 + i)), r.getDouble(3 + Lags.size)))
    if (corruptOnce()) {
      val i = got.indexWhere(_._1 % SampleEvery == 0)
      got(i) = got(i).copy(_5 = got(i)._5 + 0.5)
    }
    val perKey = days - math.max(Lags.max, Ma - 1)
    Check.ensure(got.length == NKeys * perKey,
      s"served ${got.length} rows, expected ${NKeys * perKey} ($NKeys keys x $perKey days)")
    val sampled = got.filter(_._1 % SampleEvery == 0).groupBy(_._1)
    Check.ensure(sampled.size == (NKeys + SampleEvery - 1) / SampleEvery,
      s"served ${sampled.size} sampled keys")
    for ((k, rs) <- sampled) {
      val want = Ref.lagRows(daily(k.toInt).take(days), Lags, Ma)
      val have = rs.sortBy(_._2)
      Check.ensure(have.length == want.length, s"key $k: ${have.length} rows, expected ${want.length}")
      for (((_, d, v, lags, ma), (wd, wv, wlags, wma)) <- have.zip(want)) {
        Check.ensure(d == wd && v == wv && lags == wlags && math.abs(ma - wma) <= 0.0011,
          s"key $k day $d: (v $v, lags $lags, ma $ma), expected day $wd (v $wv, lags $wlags, ma $wma)")
      }
    }
    digest.foreach { after =>
      val h = got.sortBy(g => (g._1, g._2)).foldLeft(17L)((h, g) => h * 31 + g.hashCode)
      if (!after) preCompaction = Some(h)
      else Check.ensure(preCompaction.contains(h), "served output changed across a compaction")
    }
  }

  def close(): Unit = spark.sql(s"DROP TABLE IF EXISTS $table")
}

object FeatureStore {
  val NKeys = 100
  val BaseDays = 730
  val SliceDays = 7
  val NSlices = 12
  val NDays = BaseDays + SliceDays * NSlices
  val Buckets = 8
  val Lags = Seq(1, 7, 28)
  val Ma = 28
  val SampleEvery = 8
  val WarmupRounds = 2
}
