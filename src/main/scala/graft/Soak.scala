package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak by data: writes scaled replicas of the test tables once,
  * then runs every requested gate of [[SparkEntry.queries]] unchanged
  * on each of them and fits how its time grows with the data.
  *
  * `runMain graft.Soak [gate ...]` (default: every gate). The base
  * tables come from `SPARK_GRAFT_SF_DIR` (default sf0.1), the session
  * is `local[SPARK_GRAFT_CPUS]` (default 4), and the ladder's top
  * factor F is `SPARK_GRAFT_SOAK_FACTOR` (default 10).
  *
  * Rungs: the distinct values of {1, round(√F), F} (1, 3, 10 for the
  * default). Rung f is `<run>/x<f>/<table>.parquet`, in the [[Tables]]
  * layout, so a gate reads it exactly as it reads the base directory:
  *   - fact tables hold f replicas of the base rows, replica `rep`
  *     offsetting its ids by rep · 10⁹ ([[offsets]]) — more keys with
  *     the same per-key shape, the way a bigger corpus grows. Documents
  *     of replica rep ≥ 1 also rewrite every space to ` s<rep>_`, so
  *     shingles and minhash bands are disjoint across replicas: near-dup
  *     pairs grow f×, not f²×;
  *   - dimension tables (region, nation, supplier, part) are the base
  *     rows unchanged, which is why the gates broadcast them.
  * Two skew fixtures at factor F, `x<F>-hot20` and `x<F>-hot80`, differ
  * from `x<F>` only in `events.parquet`, where one user owns ~20% or
  * ~80% of the events. They run the gates that read `events.parquet`,
  * even under a checkpoint: the gates that fail on `x1-noevents`, a
  * copy of `x1` without it.
  *
  * Each sample starts from [[Session.resetCaches]] and sinks the gate
  * through a noop write. A gate gets one warm run at rung 1 (on
  * `x1-noevents` unless it reads events), then the min of two runs per
  * rung. A gate that throws is timed -1 and listed
  * in `errors`, and the ladder goes on. The growth exponent is the
  * least-squares slope of log t against log f. One JSON line is printed
  * per gate as it finishes, then one summary line. The replicas live
  * in a per-JVM directory under `java.io.tmpdir`, deleted at exit.
  */
object Soak {

  type Gate = (SparkSession, String) => DataFrame

  /** The fact tables and the id columns each replica offsets.
    * `o_custkey`/`c_custkey` and `o_orderkey`/`l_orderkey` move
    * together, so every join key stays inside its replica.
    */
  val offsets: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The hot-key fixtures: which events the one hot user takes. An
    * event id's offset is a multiple of 5, so the share holds per
    * replica.
    */
  private val hotUser = 424242L
  private val hotShares: Seq[(String, Column)] = Seq(
    "hot20" -> (col("event_id") % 5 === 0),
    "hot80" -> (col("event_id") % 5 < 4))

  private def rungs(factor: Int): Seq[Int] =
    Seq(1, math.round(math.sqrt(factor.toDouble)).toInt, factor).distinct.sorted

  /** Table `name` of `base` replicated `f`×, in the base column order. */
  private def replicate(spark: SparkSession, base: String, name: String, f: Int): DataFrame = {
    val raw = Tables(spark, base, name)
    offsets.get(name).fold(raw) { ids =>
      val rep = col("_rep")
      val shifted = ids.foldLeft(raw.crossJoin(spark.range(f).toDF("_rep"))) { (df, c) =>
        df.withColumn(c, col(c) + rep * 1000000000L)
      }
      val tagged = if (name != "documents") shifted
        else shifted.withColumn("text", when(rep === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit(" "),
            concat(lit(" s"), rep.cast("string"), lit("_")))))
      tagged.select(raw.columns.map(col): _*)
    }
  }

  /** Writes every [[Tables.names]] table of `base`, `f`×, under `dir`. */
  def writeReplicas(spark: SparkSession, base: String, dir: String, f: Int): Unit =
    Tables.names.foreach(n => replicate(spark, base, n, f).write.parquet(s"$dir/$n.parquet"))

  /** Hard-links every table of `from` but `events` into `to`. */
  private def linkAllButEvents(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.filter(!_.startsWith(src.resolve("events.parquet"))).forEach { p =>
      val t = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.createLink(t, p)
    } finally walk.close()
  }

  /** `from` with its events rewritten so the hot user takes the events
    * `share` selects; every other table is hard-linked from `from`.
    */
  private def writeHot(spark: SparkSession, from: String, to: String, share: Column): Unit = {
    linkAllButEvents(from, to)
    val ev = Tables(spark, from, "events")
    ev.withColumn("user_id", when(share, lit(hotUser)).otherwise(col("user_id")))
      .select(ev.columns.map(col): _*)
      .write.parquet(s"$to/events.parquet")
  }

  /** One gate's ladder: seconds per rung and per hot fixture (-1 when a
    * run threw or was skipped after a throw).
    */
  final case class Growth(gate: String, secs: Seq[(Int, Double)], hot: Seq[(String, Double)]) {
    def failed: Boolean = (secs ++ hot).exists(_._2 < 0)

    /** Least-squares slope of log t against log f over the rungs that ran. */
    def exponent: Option[Double] = {
      val pts = secs.collect { case (f, t) if t > 0 => (math.log(f), math.log(t)) }
      val (mx, my) = (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
      val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (pts.size < 2 || sxx == 0) None
      else Some(pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx)
    }

    def json: String = {
      def obj(kv: Seq[(Any, Double)]) = kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val e = exponent.fold("null")(x => f"$x%.3f")
      s"""{"gate":"$gate","secs":${obj(secs)},"exponent":$e,"hot":${obj(hot)}}"""
    }
  }

  /** Writes the rungs and the hot fixtures of `base` under `dir`, then
    * runs `names` on them, emitting each gate's line as it finishes.
    * An unknown name fails before anything is written.
    */
  def ladder(spark: SparkSession, base: String, dir: String, factor: Int,
             names: Seq[String], gates: Map[String, Gate] = SparkEntry.queries,
             emit: String => Unit = println): Seq[Growth] = {
    val unknown = names.filterNot(gates.contains)
    require(unknown.isEmpty, s"Soak: unknown gate(s) ${unknown.mkString(", ")}")
    val rs = rungs(factor)
    rs.foreach(f => writeReplicas(spark, base, s"$dir/x$f", f))
    linkAllButEvents(s"$dir/x1", s"$dir/x1-noevents")
    val hotDirs = hotShares.map { case (tag, share) =>
      writeHot(spark, s"$dir/x$factor", s"$dir/x$factor-$tag", share)
      tag -> s"$dir/x$factor-$tag"
    }
    names.map { name =>
      def run(d: String): Either[Throwable, Double] = {
        Session.resetCaches(spark)
        val t0 = System.nanoTime()
        try {
          gates(name)(spark, d).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) => Left(e) }
      }
      def report(r: Either[Throwable, Double], d: String): Option[Double] = {
        r.left.foreach(e => System.err.println(s"SOAK FAIL $name on $d: $e"))
        r.toOption
      }
      def best(d: String): Double = {
        def sample() = report(run(d), d)
        sample().flatMap(a => sample().map(math.min(a, _))).getOrElse(-1.0)
      }
      // the warm run goes to x1 without its events table: a gate that
      // reads events, even under a checkpoint, fails to find them there
      // and warms on x1 instead
      val probe = run(s"$dir/x1-noevents")
      val readsEvents = probe.left.exists(e => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("x1-noevents/events.parquet")))
      val warm = if (readsEvents) report(run(s"$dir/x1"), s"$dir/x1") else report(probe, s"$dir/x1")
      val secs = rs.map(f => f -> warm.fold(-1.0)(_ => best(s"$dir/x$f")))
      val hot = if (readsEvents && warm.isDefined) hotDirs.map { case (tag, d) => tag -> best(d) } else Nil
      val g = Growth(name, secs, hot)
      emit(g.json)
      g
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTOR", "10").toInt
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val run = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-soak-${ProcessHandle.current().pid()}")
    sys.addShutdownHook(Session.deleteTree(run))
    val t0 = System.nanoTime()
    val growth = ladder(spark, sfDir, run.getPath, factor, names)
    val errs = growth.filter(_.failed).map("\"" + _.gate + "\"").mkString("[", ",", "]")
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"soak","factor":$factor,"rungs":${rungs(factor).mkString("[", ",", "]")},""" +
      s""""unit":"sec","n":${growth.size},"errors":$errs,"wall_s":$wall,"sf":"$sfDir"}""")
    spark.stop()
  }
}
