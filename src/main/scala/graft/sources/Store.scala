package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The lifecycle every catalog-table store shares — the daily feature
  * store, the ANN index, the kNN graph (flat, routed, hier) and the
  * band, gram, BM25 and media indexes. A store is a set of catalog
  * tables named `<table>_<suffix>`: a meta table pinning the build
  * parameters, data tables, and an append-only tombstone table that
  * masks taken-down rows until a compaction folds them in. Three
  * decisions live here once:
  *
  *   - the meta guard ([[guard]], [[meta]]): a store that was never
  *     built is a directed error naming its builder;
  *   - the tombstone mask ([[pending]], [[mask]]): one broadcast
  *     `left_anti` per masked column, with no `distinct` — an anti-join
  *     is indifferent to duplicate keys, and a distinct would put a
  *     tombstone-volume shuffle inside the broadcast subtree;
  *   - the generation swap ([[commit]]): staged tables replace the live
  *     ones without a moment where a live table is missing.
  */
object Store {

  /** Fails unless `<table>_<suffix>` exists — "`kind` '`table`' has no
    * `<table>_<suffix>` table — build it with `builder`". Returns the
    * table's name. Runs no job.
    */
  def guard(spark: SparkSession, table: String, suffix: String, kind: String,
            builder: String): String = {
    val t = s"${table}_$suffix"
    require(spark.catalog.tableExists(t),
      s"$kind '$table' has no $t table — build it with $builder")
    t
  }

  /** The single row of the guarded meta table `<table>_<suffix>`. */
  def meta(spark: SparkSession, table: String, suffix: String, kind: String,
           builder: String): Row =
    spark.table(guard(spark, table, suffix, kind, builder)).head()

  /** The `key` column of the tombstone table `tsTable`, if one is
    * pending.
    */
  def pending(spark: SparkSession, tsTable: String, key: String): Option[DataFrame] =
    if (spark.catalog.tableExists(tsTable)) Some(spark.table(tsTable).select(col(key)))
    else None

  /** `rows` without the rows whose `on` columns (default: `key`) hold a
    * tombstoned id of `ts`'s `key` column; `rows` unchanged when no
    * tombstones are pending. One broadcast of the ids serves every
    * anti-join. With `on` given, `rows` must not carry a `key` column.
    */
  def mask(rows: DataFrame, ts: Option[DataFrame], key: String, on: String*): DataFrame =
    ts.fold(rows) { ts =>
      val t = broadcast(ts.select(col(key)))
      if (on.isEmpty) rows.join(t, Seq(key), "left_anti")
      else on.foldLeft(rows)((r, c) => r.join(t, col(c) === col(key), "left_anti"))
    }

  /** File tombstones: append `ids` to the tombstone table `tsTable`. */
  def file(ids: DataFrame, tsTable: String): Unit =
    ids.write.mode("append").format("parquet").saveAsTable(tsTable)

  private def retired(live: String): String = s"${live}_retired"

  /** Commit a new generation: each `(live, staged)` pair renames `live`
    * to `<live>_retired` and then `staged` to `live`; once every pair
    * has swapped, the retired tables drop and after them the folded
    * `tombstones`.
    *
    * Before it renames anything, it refuses if any `<live>_retired`
    * table exists: that is what a JVM that died mid-commit leaves, and
    * which generation should be live is then not decidable here. If a
    * rename throws, the renames already made are undone in reverse
    * order and the error is rethrown: the previous generation stays
    * live, its tombstones still pending, and the staged tables remain
    * (the next build or compaction overwrites them).
    */
  def commit(spark: SparkSession, swaps: Seq[(String, String)], tombstones: String*): Unit = {
    for ((live, _) <- swaps if spark.catalog.tableExists(retired(live)))
      throw new IllegalStateException(
        s"'${retired(live)}' exists: an earlier commit of '$live' did not finish, " +
          s"so it is unclear which generation of '$live' is live — inspect it, then " +
          s"drop it or rename it back to '$live' before committing again")
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def rename(from: String, to: String): Unit = {
      spark.sql(s"ALTER TABLE $from RENAME TO $to")
      done += from -> to
    }
    try swaps.foreach { case (live, staged) =>
      rename(live, retired(live))
      rename(staged, live)
    } catch {
      case e: Throwable =>
        for ((from, to) <- done.reverse)
          try spark.sql(s"ALTER TABLE $to RENAME TO $from")
          catch { case u: Throwable => e.addSuppressed(u) }
        throw e
    }
    swaps.foreach { case (live, _) => spark.sql(s"DROP TABLE ${retired(live)}") }
    tombstones.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
