package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, lit, sin, timestamp_seconds, to_date}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TimeSeries}

/** The generation swap every store compaction and append ends with
  * (`Store.commit`): a commit that cannot finish leaves the previous
  * generation live and its tombstones pending, and a leftover
  * `<t>_retired` table is refused before anything is renamed. The
  * failures are real catalog refusals, not test hooks: Spark will not
  * rename a managed table onto a warehouse directory that already
  * exists.
  */
class StoreCommitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  /** 400 deterministic 8-d vectors. */
  private def corpus(): DataFrame = spark.range(400).select(col("id").as("vec_id"),
    array((0 until 8).map(d => sin(col("id") * (0.37 * (d + 1)) + d).cast("float")): _*)
      .as("embedding"))

  /** Removes no codebook id (vec_id < 16), so the pinned quantizer and
    * a survivor rebuild's coincide.
    */
  private val removed = col("vec_id") % 10 === 7 && col("vec_id") >= 16

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def walk(t: String) = sorted(Similarity.annGraphSearchStored(spark, t, 20, 8, 3, 5))

  /** A flat graph store with pending takedowns. */
  private def pendingStore(t: String): Unit = {
    Similarity.writeKnnGraph(corpus(), 16, 4, t, 4)
    Similarity.deleteFromKnnGraph(corpus().where(removed).select(col("vec_id")), t)
  }

  /** The warehouse directory a managed table named `name` would get:
    * the sibling of the existing table `beside`'s directory.
    */
  private def warehouseDir(beside: String, name: String): java.io.File = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $beside")
      .where(col("col_name") === "Location").head().getString(1)
    new java.io.File(new java.io.File(new java.net.URI(loc)).getParentFile, name)
  }

  test("a leftover <t>_retired table: the compaction refuses by name and renames nothing") {
    val t = "graft_commit_left"
    pendingStore(t)
    val before = walk(t)
    val edges = sorted(spark.table(s"${t}_edges"))
    spark.range(1).write.mode("overwrite").saveAsTable(s"${t}_nodes_retired")
    try {
      val err = intercept[IllegalStateException](Similarity.compactKnnGraph(t))
      assert(err.getMessage.contains(s"${t}_nodes_retired"), err.getMessage)
      assert(!spark.catalog.tableExists(s"${t}_edges_retired"))
      assert(spark.catalog.tableExists(s"${t}_edges_compacting") &&
        spark.catalog.tableExists(s"${t}_nodes_compacting"), "staged tables stay staged")
      assert(sorted(spark.table(s"${t}_edges")) === edges)
      assert(spark.catalog.tableExists(s"${t}_gtombstones"))
      assert(walk(t) === before)
    } finally spark.sql(s"DROP TABLE ${t}_nodes_retired")
  }

  test("a rename that fails mid-commit rolls the swapped _edges back; the walk and the tombstones stand; a retry equals the survivor one-shot") {
    val t = "graft_commit_dir"
    pendingStore(t)
    val before = walk(t)
    val edges = sorted(spark.table(s"${t}_edges"))
    val nodes = sorted(spark.table(s"${t}_nodes"))
    val tombs = sorted(spark.table(s"${t}_gtombstones"))
    // `_edges` swaps first; renaming `_nodes` to `_nodes_retired` then
    // meets the stray directory
    val stray = warehouseDir(s"${t}_nodes", s"${t}_nodes_retired")
    assert(stray.mkdirs())
    try {
      val err = intercept[Exception](Similarity.compactKnnGraph(t))
      assert(err.getMessage.contains(s"${t}_nodes_retired"), err.getMessage)
      assert(!spark.catalog.tableExists(s"${t}_edges_retired") &&
        !spark.catalog.tableExists(s"${t}_nodes_retired"))
      assert(spark.catalog.tableExists(s"${t}_edges_compacting"),
        "the undone swap returns the new _edges to its staged name")
      assert(sorted(spark.table(s"${t}_edges")) === edges)
      assert(sorted(spark.table(s"${t}_nodes")) === nodes)
      assert(sorted(spark.table(s"${t}_gtombstones")) === tombs, "tombstones stay pending")
      assert(walk(t) === before)
    } finally Session.deleteTree(stray)
    Similarity.compactKnnGraph(t)
    assert(!spark.catalog.tableExists(s"${t}_gtombstones"))
    assert(!spark.catalog.tableExists(s"${t}_edges_retired") &&
      !spark.catalog.tableExists(s"${t}_nodes_retired"))
    Similarity.writeKnnGraph(corpus().where(!removed), 16, 4, s"${t}_one", 4)
    for (suf <- Seq("nodes", "edges"))
      assert(sorted(spark.table(s"${t}_$suf")) === sorted(spark.table(s"${t}_one_$suf")), suf)
    assert(walk(t) === walk(s"${t}_one"))
  }

  test("daily store: a compaction whose rename fails leaves the store serving as before") {
    val t = "graft_commit_daily"
    // 20 series, one event an hour from 2024-01-01 for 50 days
    val ev = spark.range(1200).select((col("id") % 20).as("user_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("ts"),
      (col("id") % 7).cast("double").as("value"))
    val mid = lit("2024-01-16").cast("date")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    TimeSeries.writeDailyStore(ev.where(to_date(col("ts")) < mid), t, 4)
    TimeSeries.appendDailyStore(ev.where(to_date(col("ts")) >= mid), t, 4)
    def lags() = sorted(TimeSeries.lagFeaturesStored(spark, t, Seq(1, 7), 7))
    val before = lags()
    assert(before.nonEmpty)
    val stray = warehouseDir(t, s"${t}_retired")
    assert(stray.mkdirs())
    try {
      intercept[Exception](TimeSeries.compactDailyStore(spark, t, 4))
      assert(!spark.catalog.tableExists(s"${t}_retired"))
      assert(lags() === before)
    } finally Session.deleteTree(stray)
    TimeSeries.compactDailyStore(spark, t, 4)
    assert(lags() === before)
  }

  test("only the Store module renames catalog tables") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val store = new java.io.File(root, "graft/sources/Store.scala")
    assert(store.isFile)
    val offenders = files(root).filter { f =>
      f != store && {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains("RENAME TO") finally src.close()
      }
    }
    assert(offenders.isEmpty,
      s"RENAME TO outside graft.sources.Store: ${offenders.map(_.getPath).mkString(", ")}" +
        " — swap generations with Store.commit")
  }
}
