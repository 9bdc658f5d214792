package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <scratch> [--corrupt 1]
  * }}}
  *
  * Untraced (`--trace 0`): set up the workload, then run the fixed
  * number of whole write cycles that `--seconds` asks for, and print
  * setup_s, write_s and read_s. Traced (`--trace 1`): set up and warm the
  * named workload and run its traced cycles, tracing every other op of
  * each kind; then set up the other two and trace one round of each;
  * print every per-call metric and the named workload's tracing overhead.
  * The last stdout line is the JSON result; the exit code is 0 only if
  * every check passed.
  */
object Main {
  val Workloads = Seq("ts_train_feed", "ts_feature_store", "ann_graph_store")

  def make(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "ts_train_feed" => new TrainFeed(spark, seed, s"$dir/$name")
    case "ts_feature_store" => new FeatureStore(spark, seed, s"$dir/$name")
    case "ann_graph_store" => new GraphStore(spark, seed, s"$dir/$name")
  }

  /** The closed loop: whole cycles of a workload's rounds, each op timed
    * and then checked. With `alt`, every other op of each kind is traced
    * and the op times are kept per kind and side.
    */
  final class Loop(w: Workload, alt: Option[Alternating] = None) {
    var attempted = 0
    var failed = 0
    var broken = false
    val writeCycles = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    private var r = 0
    private val seen = mutable.Map.empty[String, Int]
    private val sides = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]

    def cycle(): Unit = {
      var writeS = 0.0
      for (_ <- 0 until w.cycleRounds) {
        val ops = w.round(r, alt.getOrElse(Tracer.off))
        r += 1
        for (op <- ops if !broken) if (op.write) writeS += run(op) else reads += run(op)
      }
      writeCycles += writeS
    }

    /** Runs one op and its check; returns the op's time. */
    def run(op: Op): Double = {
      attempted += 1
      val traced = alt.exists { a =>
        val n = seen.getOrElse(op.kind, 0)
        seen(op.kind) = n + 1
        a.tracing = n % 2 == 0
        a.tracing
      }
      val t0 = System.nanoTime()
      val check = try op.run() catch {
        case e: Throwable =>
          failed += 1
          broken = true
          System.err.println(s"${w.name}: operation failed: $e")
          e.printStackTrace()
          () => ()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      try check() catch {
        case e: CheckFailed =>
          failed += 1
          System.err.println(s"${w.name}: check failed: ${e.getMessage}")
      }
      sides.getOrElseUpdate((op.kind, traced), mutable.ArrayBuffer.empty) += dt
      dt
    }

    /** Over the op kinds run both traced and untraced: the summed median
      * traced time and the summed median untraced time.
      */
    def sideMedians: (Double, Double) = {
      val both = sides.keys.map(_._1).filter(k => sides.contains((k, true)) && sides.contains((k, false)))
      def sum(traced: Boolean) = both.toSeq.map(k => Stats.median(sides((k, traced)).toSeq)).sum
      (sum(true), sum(false))
    }
  }

  /** Whether the JVM mapped the build's class-data-sharing archive; a
    * run without it starts Spark several seconds slower.
    */
  def classArchive: String =
    try java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption("UseSharedSpaces").getValue
    catch { case _: IllegalArgumentException => "unknown" }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = opts("dir")
    val corrupt = opts.get("corrupt").contains("1")

    val spark = graft.Session.local(Runtime.getRuntime.availableProcessors())
    println(f"graftbench: session ready at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s, " +
      s"class archive mapped: $classArchive")

    val (correct, attempted, failed, metrics) =
      if (!traced) {
        val w = make(workload, spark, seed, dir)
        w.setup(Tracer.off, warmup = true)
        w.corrupt = corrupt
        val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
        val loop = new Loop(w)
        val t0 = System.nanoTime()
        for (_ <- 0 until w.cycles(seconds) if !loop.broken) loop.cycle()
        println(f"graftbench $workload: ${loop.writeCycles.size} cycles, ${loop.reads.size} reads, " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s measured; write cycles " +
          loop.writeCycles.map(x => f"$x%.3f").mkString(" ") + "; reads " +
          loop.reads.map(x => f"$x%.3f").mkString(" "))
        w match {
          case g: GraphStore if g.recalls.nonEmpty =>
            println(f"graftbench recall@${GraphStore.K}: min ${g.recalls.min}%.3f")
          case _ =>
        }
        w.close()
        (loop.failed == 0 && !loop.broken, loop.attempted, loop.failed, Seq(
          ("setup_s", setupS, "s"),
          ("write_s", Stats.median(loop.writeCycles.toSeq), "s"),
          ("read_s", Stats.median(loop.reads.toSeq), "s")))
      } else {
        val listener = new CallListener
        spark.sparkContext.addSparkListener(listener)
        val on = new CallTracer(spark, listener)
        var attempted = 0
        var failed = 0
        var broken = false
        val extra = mutable.ArrayBuffer.empty[(String, Double, String)]
        for (name <- workload +: Workloads.filterNot(_ == workload) if !broken) {
          // the named workload is warmed and traces every other op of each
          // kind; the other two are traced right after their build
          val named = name == workload
          val w = make(name, spark, seed, dir)
          w.setup(on, warmup = named)
          w.corrupt = corrupt
          val loop = new Loop(w, if (named) Some(new Alternating(on)) else None)
          if (named) {
            for (_ <- 0 until w.traceCycles if !loop.broken) loop.cycle()
            val (withTrace, plain) = loop.sideMedians
            println(f"graftbench trace $name: one op of each kind takes $plain%.3f s untraced, " +
              f"$withTrace%.3f s traced (medians)")
            extra += (("trace.overhead_pct", (withTrace - plain) / plain * 100.0, "%"))
          } else for (op <- w.shortRound(on) if !loop.broken) loop.run(op)
          if (!loop.broken) extra ++= w.kernelMetrics()
          w.close()
          attempted += loop.attempted
          failed += loop.failed
          broken ||= loop.broken
        }
        (failed == 0 && !broken, attempted, failed, CallStats.metrics(on.stats.map {
          case (k, v) => k -> v.toSeq
        }) ++ extra)
      }

    spark.stop()
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    sys.exit(if (correct) 0 else 1)
  }
}
