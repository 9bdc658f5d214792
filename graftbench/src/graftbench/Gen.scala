package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, id), so the same seed gives the same inputs at any partitioning,
  * and the checks can regenerate any key or vector in plain Scala without
  * reading the program's outputs.
  */
object Gen {

  /** Day 0 of every generated series: 2020-01-01. */
  val BaseEpochDay = 18262L

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(mix(seed) ^ stream) + id))

  def r3(x: Double): Double = math.floor(x * 1000.0 + 0.5001) / 1000.0

  /** Series make-up, by share of keys: 3% constant, 3% near-constant
    * (fewer level changes than any cleaning threshold the workloads use),
    * the rest follow the reference law.
    */
  val ConstantPct = 3
  val NearConstantPct = 3
  val MaxNearConstantChanges = 8

  /** One key's daily values over days [0, nDays), 3 decimals. The law is
    * the reference's create_time_series.py: a salary-scaled exponential
    * trend `sign * e^(a * t/(n-1))`, a period-30.5 seasonal wave of one of
    * four shapes (sine, sawtooth, triangle, square), Gaussian noise, and
    * three level shifts inside the year before the 92-day forecast tail.
    */
  def series(seed: Long, key: Long, nDays: Int): Array[Double] = {
    val r = rng(seed, 1L, key)
    val kind = r.nextInt(100)
    val salary = 100.0 + r.nextInt(50) * 10.0
    if (kind < ConstantPct) Array.fill(nDays)(salary)
    else if (kind < ConstantPct + NearConstantPct) {
      val v = Array.fill(nDays)(salary)
      for (_ <- 0 until 1 + r.nextInt(MaxNearConstantChanges)) {
        val d = 1 + r.nextInt(nDays - 1)
        val a = r3(1.0 + r.nextDouble() * 10.0)
        for (i <- d until nDays) v(i) += a
      }
      v.map(r3)
    } else {
      val shape = r.nextInt(4)
      val phase = r.nextDouble()
      val sign = if (r.nextBoolean()) 1.0 else -1.0
      val a = 1.0 + r.nextDouble()
      val last = nDays - 92
      val first = math.max(0, last - 365)
      val shifts = Array.fill(3) {
        val day = first + r.nextInt(math.max(1, last - first))
        val amp = (if (r.nextBoolean()) 1.0 else -1.0) * (3.0 + r.nextGaussian())
        (day, amp)
      }
      Array.tabulate(nDays) { t =>
        val x = t / 30.5 + phase
        val tt = x - math.floor(x)
        val saw = tt * 2.0 - 1.0
        val seasonal = shape match {
          case 0 => math.sin(2.0 * math.Pi * tt) * 0.5 * salary
          case 1 => saw * -0.5 * salary
          case 2 => math.abs(saw) * salary - 1.0
          case _ => (if (tt < 0.5) 1.0 else -1.0) * 0.5 * salary
        }
        val trend = sign * math.exp(a * t / math.max(nDays - 1, 1).toDouble)
        val level = shifts.map { case (d, amp) => if (t >= d) amp else 0.0 }.sum
        r3(seasonal + salary * (trend + 0.1 * r.nextGaussian() + level))
      }
    }
  }

  /** The raw events behind one key's days [from, until): one event per
    * day, or for about 30% of days two events whose values sum to the
    * day's value. Rows are (user_id, ts in microseconds, value).
    */
  def events(seed: Long, key: Long, nDays: Int, from: Int, until: Int): Seq[(Long, Long, Double)] = {
    val v = series(seed, key, nDays)
    val r = rng(seed, 2L, key)
    (0 until until).flatMap { d =>
      val hour = r.nextInt(22).toLong
      val split = r.nextInt(10) < 3
      val part = r3(v(d) * (0.2 + 0.6 * r.nextDouble()))
      if (d < from) Nil
      else {
        val us = ((BaseEpochDay + d) * 86400L + hour * 3600L) * 1000000L
        if (split) Seq((key, us, part), (key, us + 3600L * 1000000L, v(d) - part))
        else Seq((key, us, v(d)))
      }
    }
  }

  /** The day's value as a daily resample computes it: the rounded sum of
    * the day's events, in event order (at most two, so any order gives
    * the same double).
    */
  def daily(seed: Long, key: Long, nDays: Int, until: Int): Array[Double] = {
    val byDay = events(seed, key, nDays, 0, until).groupBy { case (_, us, _) =>
      Math.floorDiv(us, 86400L * 1000000L) - BaseEpochDay
    }
    Array.tabulate(until)(d => r3(byDay(d.toLong).map(_._3).foldLeft(0.0)(_ + _)))
  }

  /** Event frame (user_id, ts, value) for keys [0, nKeys), days [from, until). */
  def eventFrame(spark: SparkSession, seed: Long, nKeys: Int, nDays: Int,
                 from: Int, until: Int): DataFrame = {
    val rows = spark.sparkContext
      .parallelize(0L until nKeys.toLong, spark.sparkContext.defaultParallelism)
      .flatMap(k => events(seed, k, nDays, from, until).map { case (u, t, v) => Row(u, t, v) })
    spark.createDataFrame(rows, EventSchema)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("value"))
  }

  /** [[eventFrame]] as a local relation, for small ingest slices. */
  def localEventFrame(spark: SparkSession, seed: Long, nKeys: Int, nDays: Int,
                      from: Int, until: Int): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList((0L until nKeys.toLong).flatMap(k => events(seed, k, nDays, from, until))
        .map { case (u, t, v) => Row(u, t, v) }: _*),
      EventSchema)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("value"))

  private val EventSchema = StructType(Seq(StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("value", DoubleType)))

  /** One clustered embedding: the centre of cluster `hash(seed, id) mod
    * nClusters` plus isotropic Gaussian noise.
    */
  def vector(seed: Long, id: Long, dim: Int, nClusters: Int): Array[Float] = {
    val r = rng(seed, 3L, id)
    val c = r.nextInt(nClusters).toLong
    val cr = rng(seed, 4L, c)
    Array.fill(dim)((cr.nextGaussian() + 0.45 * r.nextGaussian()).toFloat)
  }

  /** Embedding frame (vec_id, embedding) for the given ids, as a local relation. */
  def vectorFrame(spark: SparkSession, seed: Long, ids: Seq[Long], dim: Int,
                  nClusters: Int): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ids.map(id => Row(id, vector(seed, id, dim, nClusters).toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
}
