package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job descriptions for specs that pin which Spark jobs a call runs. */
object SpecJobs {

  /** Runs `body` and returns its value with the description of every
    * Spark job it started (`-` for none).
    */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        descs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("-"))
    }
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.SpecBus.drain(sc)
      (out, scala.jdk.CollectionConverters.IteratorHasAsScala(descs.iterator).asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
