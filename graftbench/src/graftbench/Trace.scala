package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark work seen during one invocation of a traced call. Written by
  * the listener-bus thread, read by the caller after the bus drains.
  */
final class Invocation {
  val jobStart = mutable.Map.empty[Int, Long]
  val jobEnd = mutable.Map.empty[Int, Long]
  var tasks = 0L
  var execMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** One finished invocation of a call, as reported per call. */
final case class CallStat(wallS: Double, nojobS: Double, jobs: Long, tasks: Long,
                          execS: Double, shuffleBytes: Long, spillBytes: Long)

/** Attributes Spark jobs and tasks to the traced call that is running
  * when they start. The benchmark is a single client, so at most one
  * traced call runs at a time; jobs that start outside any call are
  * ignored.
  */
final class CallListener extends SparkListener {
  @volatile var current: Invocation = null
  private val stageOwner = mutable.Map.empty[Int, Invocation]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val inv = current
    if (inv != null) {
      inv.jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageOwner(s) = inv)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val inv = current
    if (inv != null && inv.jobStart.contains(e.jobId)) inv.jobEnd(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOwner.get(e.stageId).foreach { inv =>
      val m = e.taskMetrics
      inv.tasks += 1
      if (m != null) {
        inv.execMs += m.executorRunTime
        inv.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        inv.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  def forgetStages(): Unit = stageOwner.clear()
}

/** Wraps the public graft calls a workload makes. This one is a
  * pass-through, so untraced runs execute exactly the workload's own plan.
  */
class Tracer {
  def call[T](name: String)(body: => T): T = body

  /** A DataFrame-returning call. */
  def frame(name: String)(df: => DataFrame): DataFrame = df
}

object Tracer {
  val off = new Tracer
}

/** Traces through `on` only while `tracing` is set. The loop sets it for
  * every other invocation of each kind of operation, starting with the
  * first, so traced and untraced invocations interleave and neither side
  * runs on a warmer JVM.
  */
final class Alternating(on: Tracer) extends Tracer {
  var tracing = false
  override def call[T](name: String)(body: => T): T = if (tracing) on.call(name)(body) else body
  override def frame(name: String)(df: => DataFrame): DataFrame =
    if (tracing) on.frame(name)(df) else df
}

object CallStats {
  /** The per-call metrics, each the median over the call's invocations. */
  def metrics(stats: collection.Map[String, Seq[CallStat]]): Seq[(String, Double, String)] =
    stats.toSeq.flatMap { case (call, ss) =>
      def med(f: CallStat => Double) = Stats.median(ss.map(f))
      Seq(
        (s"$call.wall_s", med(_.wallS), "s"),
        (s"$call.nojob_s", med(_.nojobS), "s"),
        (s"$call.jobs", med(_.jobs.toDouble), "count"),
        (s"$call.tasks", med(_.tasks.toDouble), "count"),
        (s"$call.exec_s", med(_.execS), "s"),
        (s"$call.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes"),
        (s"$call.spill_bytes", med(_.spillBytes.toDouble), "bytes"))
    }
}

/** Times each call and attributes its Spark work to it. Each call's
  * output is materialised at the call boundary (`frame` checkpoints the
  * returned DataFrame), so the Spark work of a call is counted for that
  * call and not for the next action downstream.
  */
final class CallTracer(spark: SparkSession, listener: CallListener) extends Tracer {
  private val sc = spark.sparkContext
  val stats: mutable.LinkedHashMap[String, mutable.ArrayBuffer[CallStat]] =
    mutable.LinkedHashMap.empty

  override def call[T](name: String)(body: => T): T = {
    BenchBus.drain(sc)
    val inv = new Invocation
    listener.current = inv
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      BenchBus.drain(sc)
      listener.current = null
      listener.forgetStages()
      stats.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += summarise(inv, wall, ms0, ms1)
    }
  }

  override def frame(name: String)(df: => DataFrame): DataFrame =
    call(name)(df.localCheckpoint(true))

  private def summarise(inv: Invocation, wall: Double, ms0: Long, ms1: Long): CallStat = {
    // union of the call's job intervals, clipped to the call's span
    val spans = inv.jobStart.toSeq.map { case (id, s) =>
      (math.max(s, ms0), math.min(inv.jobEnd.getOrElse(id, ms1), ms1))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var busyMs = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- spans) {
      if (s > curE) { if (curE > curS) busyMs += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busyMs += curE - curS
    CallStat(wall, math.max(0.0, wall - busyMs / 1000.0), inv.jobStart.size.toLong,
      inv.tasks, inv.execMs / 1000.0, inv.shuffleBytes, inv.spillBytes)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
