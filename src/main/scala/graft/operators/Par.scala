package graft.operators

/** Run independent Spark ACTIONS concurrently (guide §2.6: the
  * scheduler happily overlaps jobs from several driver threads;
  * actions are only sequential because driver code calls them
  * sequentially). The store builders write 2-6 independent tables per
  * call; each tiny write is latency-bound (scheduler round-trips +
  * commit protocol, not compute), so overlapping them collapses the
  * builder's wall toward its slowest write — and on a cluster the
  * same overlap back-fills executors freed by another write's task
  * tail. Every task is awaited; the first failure rethrows. Callers
  * must pass actions that touch DISJOINT tables and read no table
  * another task mutates.
  */
private[graft] object Par {
  def inParallel(tasks: (() => Unit)*): Unit =
    inParallelAll(tasks).foreach(_ => ())

  /** [[inParallel]] returning each task's value, in input order — for
    * overlapping independent EAGER frame constructions (a budget
    * sweep's per-param walks, a recall gate's exact side ∥ its walk)
    * whose results the caller then composes. Same contract: tasks must
    * touch disjoint mutable state. On a failure every sibling is still
    * awaited before the first error (in input order) rethrows, so no
    * sibling's Spark jobs outlive the call.
    */
  def inParallelAll[T](tasks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = tasks.map(t => Future(t()))
    fs.map(f => Try(Await.result(f, Duration.Inf))).map(_.get)
  }

  /** Run `body` with `label` as the Spark job description of the jobs
    * it starts on this thread, restoring the caller's description
    * afterwards — so a job profile or listener can tell which phase a
    * job belongs to.
    */
  def labelled[T](spark: org.apache.spark.sql.SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Scale-adaptive fan-out for COMPUTE-HEAVY map-side operators
    * (guide §2.5 "one huge unsplittable file → repartition immediately
    * after the read"): a parquet file is only splittable at row-group
    * granularity, so a single-row-group input runs the whole scan —
    * and every per-row-expensive projection or partial aggregation
    * fused into it (Viterbi encodes, gram explodes, outer products) —
    * in ONE task regardless of cluster width. When the plan's scan
    * parallelism is below the cluster's default parallelism,
    * repartition up to it; on a wide input (any real corpus: thousands
    * of splits) this is a NO-OP, so nothing extra is shuffled at
    * scale. Only applied where per-row compute dominates the one
    * narrow exchange this costs — never blanket on table reads.
    */
  def fanOut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }
}
