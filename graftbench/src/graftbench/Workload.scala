package graftbench

import org.apache.spark.sql.SparkSession

/** A failed output check. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def ensure(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** One operation of the closed loop. `kind` names the operation and the
  * store state it meets (a read of a just-compacted store is a kind of its
  * own), so that invocations of one kind are alike. `run` is the timed
  * part; the check it returns runs after the clock stops.
  */
final case class Op(kind: String, write: Boolean, run: () => (() => Unit))

/** A workload: inputs it generates from the seed, a store it builds in
  * set-up, and the write and read operations of each measured round.
  * Set-up ends with a fixed warm-up on a separate warm-up store, so every
  * measured pass starts from the same state.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: String) {
  def name: String

  /** Rounds per write cycle. write_s is the median over cycles of the
    * summed write-op time of one cycle.
    */
  def cycleRounds: Int

  /** Cycles the named workload of a traced run measures, tracing every
    * other op of each kind.
    */
  def traceCycles: Int

  /** Rounds the generated inputs last. */
  def maxRounds: Int = Int.MaxValue

  /** The share of the run length one cycle stands for: a run of
    * `seconds` measures round(seconds / cycleSeconds) cycles.
    */
  def cycleSeconds: Double

  /** Cycles a run of `seconds` measures: a count fixed by the run length
    * alone, never by the host's speed, so every run of one length does the
    * same work and measures the same stretch of the JIT warm-up curve.
    */
  def cycles(seconds: Double): Int =
    math.max(1, math.min(maxRounds / cycleRounds, math.round(seconds / cycleSeconds).toInt))

  /** When set, the first read check sees a corrupted copy of the output. */
  @volatile var corrupt = false

  protected def corruptOnce(): Boolean = {
    val c = corrupt
    corrupt = false
    c
  }

  /** Generates inputs, builds and warms the warm-up store (unless
    * `warmup` is off), then builds the measured store (the only set-up
    * call `tr` traces).
    */
  def setup(tr: Tracer, warmup: Boolean): Unit

  /** The operations of measured round `r` (0-based, counting on across passes). */
  def round(r: Int, tr: Tracer): Seq[Op]

  /** One round that calls every operation of the workload once: round 0
    * with its compaction, for a traced run's short pass.
    */
  def shortRound(tr: Tracer): Seq[Op]

  /** Extra per-layer metrics of a traced run. */
  def kernelMetrics(): Seq[(String, Double, String)] = Nil

  /** Drops the workload's tables. Files go with the run's scratch directory. */
  def close(): Unit

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs a set-up milestone with the time since the JVM started. */
  protected def mark(what: String): Unit =
    println(f"graftbench $name: $what at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

  /** Runs every op of `rounds` warm-up rounds and their checks. */
  protected def warm(rounds: Seq[Seq[Op]]): Unit =
    for (ops <- rounds; op <- ops) op.run()()
}
