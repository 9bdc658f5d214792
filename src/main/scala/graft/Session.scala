package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Local testing runs `local[N]`; on a real cluster only `master`
  * changes — shuffle partitioning is the documented knob
  * (`spark.sql.shuffle.partitions` ≈ 2-3× total cores at 100 TB,
  * with AQE coalescing handling the long tail).
  */
object Session {

  /** Configs every entry point (Verify, Bench, tests) must share. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    // driver testdata writes TIMESTAMP(NANOS); read as long, see Tables.events
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // bucketed-table data (Formats.writeBucketed) goes to tmp, not cwd;
    // pid-suffixed so concurrent JVMs (tests + bench) never collide on
    // the same warehouse path / table names
    .config("spark.sql.warehouse.dir", warehouse)

  /** The JVM's warehouse directory, deleted by a shutdown hook that is
    * registered once, on first use — catalog tables saved by one run
    * never outlive its JVM.
    */
  private lazy val warehouse: String = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-warehouse-${ProcessHandle.current().pid()}")
    sys.addShutdownHook(deleteTree(dir))
    dir.getPath
  }

  private[graft] def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Drops what one measured run could leave for the next: cached
    * frames and the trained artifacts `Similarity` memoises.
    */
  def resetCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Similarity.clearTrainedMemo()
  }

  def local(cores: Int = 32): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
