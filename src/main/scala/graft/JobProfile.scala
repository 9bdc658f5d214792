package graft

import org.apache.spark.scheduler._

/** Per-query JOB-LEVEL profiler (optimization-round §1 tooling): runs
  * named queries through the bench's noop sink with a SparkListener
  * attached and reports, per query, the wall time beside the job /
  * stage / task counts and the summed executor run time — the split
  * that tells "the plan computes for N seconds" apart from "the gate
  * submits 60 tiny jobs and pays scheduling latency 60 times", which
  * at bench scale (sf0.1, 2k-600k rows) is the dominant question.
  * `runMain graft.JobProfile [query ...]` (defaults to the 10 most
  * expensive BENCH_LOCAL entries); SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS
  * as in Bench.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "ann_graph_hier_routed_inc", "ann_graph_hier_routed_stored",
      "ann_graph_hier_routed", "ann_graph_hier_filtered_takedown",
      "ann_graph_filtered_takedown", "ann_graph_hier3_inc",
      "ann_graph_hier_takedown_compact", "ann_graph_hier_filtered_recall",
      "ann_graph_reachability_stored", "ann_graph_routed_inc")

    object L extends SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicLong
      val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
      val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, Long]
      val jobDurs = new java.util.concurrent.ConcurrentLinkedQueue[Long]
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStarts(j.jobId) = j.time
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStarts.remove(j.jobId).foreach(t0 => jobDurs.add(j.time - t0))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) taskTimeMs.addAndGet(t.taskMetrics.executorRunTime)
      def reset(): Unit = {
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
        jobStarts.clear(); jobDurs.clear()
      }
      def snap(): (Int, Int, Long, Long, Seq[Long]) = {
        import scala.jdk.CollectionConverters._
        (jobs.get, stages.get, tasks.get, taskTimeMs.get,
          jobDurs.asScala.toSeq.sortBy(-_))
      }
    }
    spark.sparkContext.addSparkListener(L)

    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm at the smallest SF (the Bench convention) so codegen/JIT
    // don't read as job overhead
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      try sink(SparkEntry.queries(n)(spark, warmDir))
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sharedState.cacheManager.clearCache()
    }

    println(f"${"query"}%-36s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"taskT_s"}%8s top-job-ms")
    names.foreach { n =>
      Session.resetCaches(spark)
      L.reset()
      val t0 = System.nanoTime()
      sink(SparkEntry.queries(n)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are delivered async — give the bus a moment
      Thread.sleep(400)
      val (j, s, t, tt, durs) = L.snap()
      println(f"$n%-36s $wall%8.2f $j%5d $s%6d $t%6d ${tt / 1e3}%8.2f ${durs.take(12).mkString(",")}")
    }
    spark.stop()
  }
}
