package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Rounding.{r3, r3d}

/** Structured Streaming variants of the batch operators. The same
  * logical aggregations run incrementally with watermarked state —
  * at 100 TB/day this is the ingest path, with the batch operators
  * as the backfill path (lambda-free: identical expressions).
  */
object StreamOps {

  /** The PINNED BM25 score column for streaming triage: corpus stats
    * (N, avgdl) and per-term df COLLECT from the masked stored index
    * at plan construction (1-row + \|terms\|-row — query-sized) and
    * ride as literals over the incoming doc's token array. The
    * pinned-statistics contract made physical: the stream scores
    * every arriving doc under the distribution the index held when
    * the query started; a restart re-reads the store (the
    * substrDupStream restart-to-apply contract), and the batch twin
    * re-resolves per call.
    */
  private def bm25PinnedScore(spark: org.apache.spark.sql.SparkSession,
                              table: String, terms: Seq[String],
                              k1: Double, b: Double): Column = {
    require(terms.nonEmpty, "bm25TriageStream: query term set must be non-empty")
    require(terms.distinct.size == terms.size,
      s"bm25TriageStream: duplicate query terms " +
        s"(${terms.diff(terms.distinct).distinct.mkString(", ")}) — " +
        "a repeated term would double its score contribution; dedupe")
    val (postAll, dlens) = graft.operators.TextOps.maskedTextIndex(spark, table)
    val st = dlens.agg(count(lit(1)).cast("double"),
      avg(col("dl").cast("double"))).head()
    // against an empty (or fully-tombstoned) index AVG(dl) is NULL —
    // a directed error beats the bare NPE getDouble would throw
    require(st.getDouble(0) > 0.0,
      s"bm25TriageStream: text index '$table' holds no live docs " +
        "(empty or fully tombstoned) — corpus stats (N, avgdl) are " +
        "undefined; build or compact the index before streaming against it")
    val (nDocs, avgdl) = (st.getDouble(0), st.getDouble(1))
    val dfs = postAll.where(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    terms.map { t =>
      val df = dfs.getOrElse(t, 0.0)
      val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * size(col("toks")).cast("double") / lit(avgdl)))
    }.reduce(_ + _)
  }

  /** Streaming crawl TRIAGE at ingest: BM25-score each arriving doc
    * against the stored index's pinned statistics
    * ([[bm25PinnedScore]]) and emit those at or above `minScore` —
    * "route the relevant slice of tonight's crawl to the review feed
    * as it lands", the streaming face of
    * [[graft.operators.TextOps.bm25ScoreDelta]]. Pure per-row
    * projections: ZERO state, no watermark, append-safe on an
    * unbounded stream.
    */
  def bm25TriageStream(docs: DataFrame, table: String, terms: Seq[String],
                       minScore: Double, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame = {
    val score = bm25PinnedScore(docs.sparkSession, table, terms, k1, b)
    docs.select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("ts"), r3(score).as("score"))
      .where(col("score") >= minScore)
  }

  /** Batch twin of [[bm25TriageStream]] — identical expressions, ts
    * surfaced as µs for the oracle.
    */
  def bm25TriageStreamBatch(docs: DataFrame, table: String, terms: Seq[String],
                            minScore: Double, k1: Double = 1.2,
                            b: Double = 0.75): DataFrame = {
    val score = bm25PinnedScore(docs.sparkSession, table, terms, k1, b)
    docs.select(col("doc_id"), unix_micros(col("ts")).as("ts_us"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("ts_us"), r3(score).as("score"))
      .where(col("score") >= minScore)
  }

  /** Watermarked tumbling-window aggregate over an event stream:
    * (window, event_type) → count + value sum. Append mode emits each
    * window once the watermark passes — bounded state.
    */
  def windowAgg(events: DataFrame, watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), r3(sum(col("value"))).as("v_sum"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("v_sum"))

  /** Batch-equivalent of [[windowAgg]] — the backfill/oracle twin. */
  def windowAggBatch(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), r3(sum(col("value"))).as("v_sum"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("v_sum"))

  /** OHLC bars AT INGEST — the streaming tick-bar every market-data /
    * metrics pipeline runs: per (user, time window) open / high /
    * low / close / count / r3 mean, as a NATIVE watermarked window
    * aggregate. No custom state machine: the bar is ASSOCIATIVE —
    * open/close ride as min/max over a (ts_us, event_id, value)
    * struct (lexicographic), so partial bars from any micro-batch
    * slicing merge to the same bar, which is exactly why this stays a
    * plain `groupBy(window)` instead of flatMapGroupsWithState.
    * State per open window = one struct pair + three scalars.
    */
  def ohlcStream(events: DataFrame, watermark: String,
                 windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), windowLen))
      .agg(ohlcAggs.head, ohlcAggs.tail: _*)
      .select(ohlcOut: _*)

  /** Batch-equivalent of [[ohlcStream]] — the backfill/oracle twin. */
  def ohlcStreamBatch(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(col("user_id"), window(col("ts"), windowLen))
      .agg(ohlcAggs.head, ohlcAggs.tail: _*)
      .select(ohlcOut: _*)

  private def ohlcAggs = Seq(
    min(struct(unix_micros(col("ts")).as("t"), col("event_id"),
      col("value"))).as("o"),
    max(struct(unix_micros(col("ts")).as("t"), col("event_id"),
      col("value"))).as("c"),
    min(col("value")).as("low"), max(col("value")).as("high"),
    count(lit(1)).as("n_events"),
    r3(avg(col("value"))).as("mean_value"))

  private def ohlcOut = Seq(
    col("user_id"), unix_micros(col("window.start")).as("window_start_us"),
    col("o.value").as("open"), col("high"), col("low"),
    col("c.value").as("close"), col("n_events"), col("mean_value"))

  /** Streaming sessionization with Spark's native `session_window`
    * (gap-merged state, watermark-bounded) — the incremental twin of
    * [[graft.operators.Relational.sessionize]]; both treat a gap
    * ≥ `gap` as a session boundary. Append mode emits a session once
    * the watermark passes its close.
    */
  def sessionWindows(events: DataFrame, watermark: String, gap: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), r3(sum(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))

  /** Streaming HLL register maintenance: per (day-window, register)
    * max-rho over the event stream — the incremental half of
    * [[graft.operators.Relational.hllDailyUsers]]. Register-max is
    * associative/commutative, so this is a NATIVE watermarked window
    * aggregate (no custom state machine), and the streaming state per
    * open window is a FLAT m = 2^b rows at ANY user cardinality — the
    * whole point of shipping the sketch instead of the distinct user
    * set. The emitted register rows land in the lake; the estimator
    * (and merges across days/shards, register-wise MAX) runs
    * downstream without ever touching user ids.
    */
  def hllRegisterStream(events: DataFrame, watermark: String,
                        b: Int = 6): DataFrame =
    graft.operators.Relational.hllRhoRows(
        events.withWatermark("ts", watermark).select(col("ts"), col("user_id")),
        b, Seq("ts"))
      .groupBy(window(col("ts"), "1 day"), col("r"))
      .agg(max(col("rho")).as("mx"))
      .select(col("window.start").cast("date").as("day"), col("r"), col("mx"))

  /** Batch twin of [[hllRegisterStream]]'s register table (same
    * day bucketing, same hash) — the backfill/parity side.
    */
  def hllRegisterStreamBatch(events: DataFrame, b: Int = 6): DataFrame =
    graft.operators.Relational.hllRhoRows(
        events.select(col("ts"), col("user_id")), b, Seq("ts"))
      .groupBy(window(col("ts"), "1 day"), col("r"))
      .agg(max(col("rho")).as("mx"))
      .select(col("window.start").cast("date").as("day"), col("r"), col("mx"))

  /** The PSI core shared by [[psiDriftStream]] and [[psiDriftBatch]]:
    * ONE window aggregate whose per-type counts are conditional sums
    * over the (collected, vocabulary-bounded) baseline type list, so
    * the whole PSI — smoothing, log-ratio, k-term sum — is a map-side
    * projection of a single stateful agg. That's what makes the
    * STREAMING side legal in append mode: no second aggregation over
    * the window, no stream-stream join; per-open-window state is one
    * row of k longs.
    */
  private def psiCore(df: DataFrame, base: Seq[(String, Long)],
                      windowLen: String): DataFrame = {
    val k = base.length
    val tb = base.map(_._2).sum.toDouble
    val aggs = base.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i") }
    val g = df.groupBy(window(col("ts"), windowLen))
      .agg(aggs.head, aggs.tail: _*)
    val tw = base.indices.map(i => col(s"c$i")).reduce(_ + _)
    val psi = base.zipWithIndex.map { case ((_, nb), i) =>
      val pw = (col(s"c$i") + 1.0) / (tw + lit(k.toDouble))
      val pb = lit((nb + 1.0) / (tb + k))
      (pw - pb) * log(pw / pb)
    }.reduce(_ + _)
    g.select(unix_micros(col("window.start")).as("window_start_us"),
      tw.cast("long").as("n_events"), r3(psi).as("psi"))
  }

  /** The baseline type distribution, collected: event-type vocabulary
    * is dimension-bounded (the codebook-class `.collect()` contract),
    * and inlining it is what collapses streaming PSI to one agg.
    */
  private def psiBase(baseline: DataFrame): Seq[(String, Long)] =
    baseline.groupBy(col("event_type")).agg(count(lit(1)).as("n_b"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

  /** Streaming drift monitor: population-stability index of each
    * tumbling window's event-type mix against a STATIC baseline
    * distribution — the online alarm for "today's traffic no longer
    * looks like the training window" (PSI > 0.2 is the classic
    * retrain trigger; same smoothed formulation as
    * [[graft.operators.Eval.psi]]'s feature-space twin). Baseline
    * types the window never saw still contribute via the +1
    * smoothing; types absent from the BASELINE are ignored — freeze
    * the reference distribution before pointing a stream at it.
    *
    * Scale: state per open window is ONE row of k counters; the
    * baseline rides inlined in the plan (no join at all), so this
    * runs at ingest rate regardless of corpus size.
    */
  def psiDriftStream(events: DataFrame, baseline: DataFrame,
                     watermark: String, windowLen: String): DataFrame =
    psiCore(events.withWatermark("ts", watermark), psiBase(baseline), windowLen)

  /** Batch twin of [[psiDriftStream]] with the baseline derived from
    * the corpus itself (self-drift: windows vs the all-time mix) —
    * the backfill/gate side, byte-identical expressions.
    */
  def psiDriftBatch(events: DataFrame, windowLen: String): DataFrame =
    psiCore(events, psiBase(events), windowLen)

  /** Streaming exact-dedup: first event per content key within the
    * watermark horizon (state pruned beyond it). The incremental twin
    * of [[graft.operators.Dedup.exact]] — at ingest this drops exact
    * repeats before they ever land in the lake.
    */
  def dedupStream(events: DataFrame, watermark: String, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Batch twin of [[dedupStream]] with canonical deterministic
    * semantics: the first event per content key = min event-time,
    * tie-broken by event_id. (`dropDuplicatesWithinWatermark` keeps
    * the first ARRIVAL, which coincides with this exactly when the
    * stream is event-time ordered — the batch twin pins down the
    * deterministic answer the oracle can check.) One shuffle on the
    * content key; per-key state is a single row.
    */
  def dedupStreamBatch(events: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(keyCols.map(col) ++ Seq(col("event_id"), unix_micros(col("ts")).as("ts_us")): _*)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Streaming benchmark decontamination at INGEST: emit the doc_id of
    * every streaming document sharing a word n-gram with the (static,
    * broadcast) benchmark corpus — the eval-overlap flagging of
    * [[graft.operators.TextOps.decontaminate]] applied before data
    * ever lands in the lake. Stream-static inner join on the exploded
    * gram (the static side broadcast — stateless probe), then
    * watermarked `dropDuplicatesWithinWatermark` collapses a doc's
    * multiple gram hits to ONE emitted row; state = one key per
    * contaminated doc inside the horizon, pruned beyond it.
    */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame, n: Int,
                          watermark: String): DataFrame = {
    val bench = broadcast(
      benchmark.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(explode(graft.operators.TextOps.distinctNgrams("toks", n)).as("gram"))
        .distinct())
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("ts"),
        explode(graft.operators.TextOps.distinctNgrams("toks", n)).as("gram"))
      .join(bench, "gram")
      .select(col("doc_id"), col("ts"))
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** Batch twin of [[decontaminateStream]] with canonical
    * deterministic semantics: one row per contaminated doc with its
    * FIRST event time (min ts — the row
    * `dropDuplicatesWithinWatermark` keeps when the stream arrives in
    * event-time order; the batch twin pins the deterministic answer
    * the oracle can check). Same shape as the streaming plan: gram
    * explode, broadcast benchmark probe, per-doc collapse — one
    * shuffle on doc_id carrying only (doc_id, ts) scalars.
    */
  def decontaminateStreamBatch(docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    val bench = broadcast(
      benchmark.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(explode(graft.operators.TextOps.distinctNgrams("toks", n)).as("gram"))
        .distinct())
    docs
      .select(col("doc_id"), unix_micros(col("ts")).as("ts_us"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("ts_us"),
        explode(graft.operators.TextOps.distinctNgrams("toks", n)).as("gram"))
      .join(bench, "gram")
      .groupBy(col("doc_id"))
      .agg(min(col("ts_us")).as("ts_us"))
  }

  /** Streaming cross-corpus dedup at INGEST against a STORED
    * [[graft.operators.Dedup.writeBandIndex]] index: emit each
    * streamed document whose banded MinHash signature collides with an
    * indexed reference document at estimated Jaccard ≥ `minJaccard` —
    * "dedup tonight's crawl against the training set AS IT STREAMS",
    * the streaming face of
    * [[graft.operators.Dedup.crossDupAgainstIndex]].
    *
    * Everything is per-row or stream-static, so append mode works on
    * an unbounded stream: signatures and band slices are pure
    * projections (`graft_minhash` + array slicing), the band probe and
    * the sig-verification joins are STREAM-STATIC inner joins against
    * the bucketed catalog tables (stateless — the static side is the
    * index), and `dropDuplicatesWithinWatermark` collapses a doc's
    * multiple verified hits to ONE emitted row; state = one key per
    * flagged doc inside the horizon. Candidate pairs are NOT
    * pre-distinct'd (that would be a streaming aggregation) — a pair
    * can reach the estimate join once per shared band, a ≤ nBands
    * duplication bounded by the band count, all collapsed by the final
    * watermarked dedup.
    */
  def crossDupStream(docs: DataFrame, table: String, perms: Int,
                     rowsPerBand: Int, minJaccard: Double,
                     watermark: String): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.VectorExprs.register(spark)
    graft.operators.Dedup.requireIndexParams(spark, table, perms, rowsPerBand)
    val nBands = perms / rowsPerBand
    val rBands = graft.operators.Dedup.maskedBandTable(spark, table, "bands")
    val rSigs = graft.operators.Dedup.maskedBandTable(spark, table, "sigs")
    val sigs = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), col("ts"), expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))").as("shingles"))
      .select(col("doc_id"), col("ts"), expr(s"graft_minhash(shingles, $perms)").as("sig_a"))
    // NULL sigs (shingle-less docs) are dropped via the exploded band
    // string — a real sig's band join is a comma-join of longs and can
    // never be "" — instead of an isNotNull probe on sig_a, which
    // would re-evaluate the md5-per-shingle signature expression for
    // the filter (the bandSlices double-eval lesson)
    val banded = sigs.select(col("doc_id"), col("ts"), col("sig_a"), posexplode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> " +
          s"array_join(transform(sequence(0, ${rowsPerBand - 1}), " +
          s"r -> cast(element_at(sig_a, b * $rowsPerBand + r + 1) as string)), ','))")))
      .toDF("doc_id", "ts", "sig_a", "band", "sig")
      .where(col("sig") =!= "")
    banded
      .join(rBands.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .join(rSigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .where(r3(expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))" +
        s" / cast($perms as double)")) >= minJaccard)
      .select(col("doc_id"), col("ts"))
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** Batch twin of [[crossDupStream]]: flagged docs with their FIRST
    * event time — [[graft.operators.Dedup.crossDupAgainstIndex]]'s
    * verdict joined back to the event times (same canonical-emission
    * convention as [[decontaminateStreamBatch]]).
    */
  def crossDupStreamBatch(docs: DataFrame, table: String, perms: Int,
                          rowsPerBand: Int, minJaccard: Double): DataFrame = {
    val flagged = graft.operators.Dedup
      .crossDupAgainstIndex(docs, table, perms, rowsPerBand, minJaccard)
      .where(col("flagged") === 1).select(col("doc_id"))
    docs.select(col("doc_id"), unix_micros(col("ts")).as("ts_us"))
      .join(flagged, "doc_id")
      .groupBy(col("doc_id")).agg(min(col("ts_us")).as("ts_us"))
  }

  /** Streaming SEMANTIC dedup at INGEST against a STORED
    * [[graft.operators.Similarity.writeAnnIndex]] vector index: emit
    * each streamed vector whose cell holds an indexed vector with
    * rounded cos(v, SQ8-reconstruction) ≥ `threshold` — SemDeDup's
    * "is tonight's embedding a near-copy of the training set"
    * applied before data lands, the vector-space face of
    * [[crossDupStream]].
    *
    * Everything is per-row or stream-static, so append mode works on
    * an unbounded stream: cell assignment is a pure projection (the
    * stored quantizer rides inside the expression), the probe is a
    * STREAM-STATIC inner join on `cell` against the bucketed codes
    * table projected through the PQ decode (stateless — the static
    * side IS the index; raw corpus vectors are never read), and
    * `dropDuplicatesWithinWatermark` collapses multiple same-cell
    * witnesses to ONE emitted row. State = one key per flagged vector
    * inside the horizon.
    */
  def semanticDedupStream(vecs: DataFrame, table: String, threshold: Double,
                          watermark: String): DataFrame = {
    import graft.operators.Similarity
    val spark = vecs.sparkSession
    graft.functions.VectorExprs.register(spark)
    val encIvf = Similarity.annIndexQuantizer(spark, table)
    val recon = Similarity.annIndexRecon(spark, table)
    vecs
      .withWatermark("ts", watermark)
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("ts"), col("embedding").as("v"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"))
      .join(recon, Seq("cell"))
      .where(col("vec_id") =!= col("vec_b"))
      .where(r3(expr("graft_vec_dot(v, rv)") /
        (sqrt(expr("graft_vec_dot(v, v)")) * sqrt(expr("graft_vec_dot(rv, rv)"))))
        >= threshold)
      .select(col("vec_id"), col("ts"))
      .dropDuplicatesWithinWatermark("vec_id")
  }

  /** Batch twin of [[semanticDedupStream]]: flagged vectors with their
    * FIRST event time (the canonical-emission convention of
    * [[decontaminateStreamBatch]]/[[crossDupStreamBatch]]). Same plan
    * shape: projection-assigned cells, the stored index decoded in a
    * projection, one shuffle carrying only (vec_id, ts_us) scalars.
    */
  def semanticDedupStreamBatch(vecs: DataFrame, table: String,
                               threshold: Double): DataFrame = {
    import graft.operators.Similarity
    val spark = vecs.sparkSession
    graft.functions.VectorExprs.register(spark)
    val encIvf = Similarity.annIndexQuantizer(spark, table)
    val recon = Similarity.annIndexRecon(spark, table)
    vecs
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), unix_micros(col("ts")).as("ts_us"),
        col("embedding").as("v"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"))
      .join(recon, Seq("cell"))
      .where(col("vec_id") =!= col("vec_b"))
      .where(r3(expr("graft_vec_dot(v, rv)") /
        (sqrt(expr("graft_vec_dot(v, v)")) * sqrt(expr("graft_vec_dot(rv, rv)"))))
        >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("ts_us")).as("ts_us"))
  }

  /** Streaming EXACT-SUBSTRING decontamination at INGEST against a
    * STORED [[graft.operators.Dedup.writeSubstringIndex]] gram index:
    * emit each streamed document carrying at least one `minLen`-token
    * window the reference corpus witnesses — ExactSubstr's repeated-
    * window identity (Lee et al. 2022) applied before data lands, the
    * substring-level face of [[crossDupStream]] (51c's probe as an
    * at-ingest alarm; the full span report stays a batch job —
    * per-position span merging is a stateful window the alarm does
    * not need).
    *
    * Everything is per-row or stream-static, so append mode works on
    * an unbounded stream: window generation is a pure projection, the
    * probe is a STREAM-STATIC left-semi join against the (masked)
    * bucketed gram table — stateless, the static side IS the index —
    * and `dropDuplicatesWithinWatermark` collapses a doc's multiple
    * witnessed windows to ONE emitted row. Window length comes from
    * `_smeta`, never the caller.
    *
    * Takedown liveness contract (VERDICT r14 #4 — VERIFIED, not
    * assumed, and pinned in FeedStreamSpec): the mask is resolved
    * into the plan when the stream is built, and the static side's
    * file LISTING does not reliably track `_stombstones` generations
    * appended while the stream runs. Measured behavior on this Spark:
    * the first post-plan filing was sometimes honored by the next
    * batch, later filings were not — even after an explicit
    * `refreshTable` — i.e. mid-flight visibility is a listing-cache
    * accident, NOT a semantic. The guaranteed contract is therefore
    * RESTART-TO-APPLY: (re)starting the stream resolves every filing
    * made so far (spec-pinned), and [[substrDupStreamBatch]] — the
    * at-cadence alternative — re-resolves the mask on every call
    * (spec-pinned). Operate ingest streams accordingly: restart on
    * takedown cadence. (Per-batch re-resolution inside one streaming
    * plan would need the sink rebuilt around foreachBatch and would
    * lose the cross-batch watermark dedup — a different operator, not
    * a flag on this one.)
    */
  def substrDupStream(docs: DataFrame, table: String,
                      watermark: String): DataFrame = {
    val spark = docs.sparkSession
    val minLen = graft.operators.Dedup.gramMeta(spark, table).getAs[Int]("min_len")
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= minLen)
      .select(col("doc_id"), col("ts"), explode(expr(
        s"""transform(sequence(1, size(toks) - ${minLen - 1}),
           |  p -> array_join(slice(toks, p, $minLen), ' '))""".stripMargin))
        .as("gram"))
      .join(graft.operators.Dedup.maskedGramTable(spark, table),
        Seq("gram"), "left_semi")
      .select(col("doc_id"), col("ts"))
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** Batch twin of [[substrDupStream]]: flagged docs with their FIRST
    * event time (the canonical-emission convention of
    * [[decontaminateStreamBatch]]/[[crossDupStreamBatch]]). Same plan
    * shape: map-side window explode, one semi-join against the masked
    * bucketed gram scan, one shuffle carrying only (doc_id, ts_us)
    * scalars.
    */
  def substrDupStreamBatch(docs: DataFrame, table: String): DataFrame = {
    val spark = docs.sparkSession
    val minLen = graft.operators.Dedup.gramMeta(spark, table).getAs[Int]("min_len")
    docs
      .select(col("doc_id"), unix_micros(col("ts")).as("ts_us"),
        split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= minLen)
      .select(col("doc_id"), col("ts_us"), explode(expr(
        s"""transform(sequence(1, size(toks) - ${minLen - 1}),
           |  p -> array_join(slice(toks, p, $minLen), ' '))""".stripMargin))
        .as("gram"))
      .join(graft.operators.Dedup.maskedGramTable(spark, table),
        Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(min(col("ts_us")).as("ts_us"))
  }

  /** Per-(user, event_type) historical profile for [[anomalyStream]]:
    * rounded mean + population stddev — recomputed offline at
    * whatever cadence, read as the static side of the ingest join.
    */
  def anomalyProfile(history: DataFrame): DataFrame =
    history.groupBy(col("user_id"), col("event_type"))
      .agg(r3(avg(col("value"))).as("mu"), r3(stddev_pop(col("value"))).as("sigma"))

  /** Streaming anomaly flagging at INGEST: stream-static join of the
    * event stream against the historical profile, emitting events
    * whose rounded z-score magnitude reaches `z` — alerting the
    * moment the anomalous event lands instead of at the nightly
    * batch. Per-row verdicts, NO streaming state at all: append mode
    * holds on an unbounded stream, and the profile swap is a static-
    * side refresh. Constant-sigma groups are excluded (z undefined),
    * matching the batch twin.
    */
  def anomalyStream(events: DataFrame, profile: DataFrame, z: Double,
                    watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .join(profile.where(col("sigma") > 0.0), Seq("user_id", "event_type"))
      .withColumn("zscore", r3((col("value") - col("mu")) / col("sigma")))
      .where(abs(col("zscore")) >= z)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("value"), col("zscore"))

  /** Batch twin of [[anomalyStream]] with the profile computed from
    * the history itself — what a full replay emits.
    */
  def anomalyStreamBatch(events: DataFrame, z: Double): DataFrame =
    events
      .join(anomalyProfile(events).where(col("sigma") > 0.0),
        Seq("user_id", "event_type"))
      .withColumn("zscore", r3((col("value") - col("mu")) / col("sigma")))
      .where(abs(col("zscore")) >= z)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"), col("zscore"))

  /** Token-bucket RATE LIMITING at ingest: per-user bucket of
    * `capacity` tokens refilling one token per `refillMicros`, each
    * event spending one — the admission-control primitive in front of
    * any ingest pipeline (an abusive or runaway producer gets its
    * burst absorbed up to `capacity`, then throttled to the refill
    * rate, without touching other users). Emits EVERY event with its
    * verdict and the post-decision token level; a deployment keeps
    * the accepted side.
    *
    * State per user = (tokens, last event time) — two scalars,
    * bounded forever; the fold is event-time ordered (event_id ties)
    * per micro-batch, the ordered-ingest convention of
    * [[funnelStream]]/[[transitionsStream]]. The refill arithmetic is
    * the same fixed IEEE expression in the stream, the batch twin and
    * the oracle: `min(cap, tok + (ts − last) / refill)`.
    */
  def rateLimitStream(events: DataFrame, capacity: Double, refillMicros: Long,
                      watermark: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(capacity >= 1.0, s"rateLimitStream: capacity must be >= 1, got $capacity")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Double, Long), (Long, Long, Long, Boolean, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, evs, state) =>
          var (tok, last) = state.getOption.getOrElse((0.0, Long.MinValue))
          val out = Seq.newBuilder[(Long, Long, Long, Boolean, Double)]
          for ((_, eid, ts) <- evs.toSeq.sortBy(e => (e._3, e._2))) {
            val nt = if (last == Long.MinValue) capacity
              else math.min(capacity, tok + (ts - last) / refillMicros.toDouble)
            val acc = nt >= 1.0
            tok = if (acc) nt - 1.0 else nt
            last = ts
            out += ((user, eid, ts, acc,
              r3d(tok)))
          }
          state.update((tok, last))
          out.result().iterator
      }
      .toDF("user_id", "event_id", "ts_us", "accepted", "tokens_after")
  }

  /** Batch twin of [[rateLimitStream]]: the same fold expressed as a
    * higher-order `aggregate` over each user's event-time-ordered
    * events — per-user sequential by nature (bucket state depends on
    * every prior event), parallel across users, the packer argument.
    */
  def rateLimitStreamBatch(events: DataFrame, capacity: Double,
                           refillMicros: Long): DataFrame = {
    require(capacity >= 1.0, s"rateLimitStreamBatch: capacity must be >= 1, got $capacity")
    val cap = s"cast($capacity as double)"
    // the refill expression, inlined everywhere it is consumed so every
    // consumer computes the identical IEEE value (the HwFold lesson)
    val nt = s"(CASE WHEN s.last < 0L THEN $cap " +
      s"ELSE least($cap, s.tok + (e.ts - s.last) / $refillMicros.0D) END)"
    val fold =
      s"""aggregate(
         |  evs,
         |  named_struct('tok', $cap, 'last', -1L,
         |    'out', cast(array() as array<struct<eid:bigint, ts:bigint, acc:boolean, ta:double>>)),
         |  (s, e) -> named_struct(
         |    'tok', CASE WHEN $nt >= 1.0D THEN $nt - 1.0D ELSE $nt END,
         |    'last', e.ts,
         |    'out', array_append(s.out, named_struct(
         |      'eid', e.eid, 'ts', e.ts, 'acc', $nt >= 1.0D,
         |      'ta', floor((CASE WHEN $nt >= 1.0D THEN $nt - 1.0D ELSE $nt END) * 1000.0D + 0.5001D) / 1000.0D))),
         |  s -> s.out)""".stripMargin
    events
      .select(col("user_id"), col("event_id").as("eid"), unix_micros(col("ts")).as("ts"))
      .groupBy(col("user_id"))
      .agg(expr("sort_array(collect_list(struct(ts, eid)))").as("sorted"))
      .select(col("user_id"),
        expr("transform(sorted, x -> named_struct('eid', x.eid, 'ts', x.ts))").as("evs"))
      .select(col("user_id"), explode(expr(fold)).as("r"))
      .select(col("user_id"), col("r.eid").as("event_id"), col("r.ts").as("ts_us"),
        col("r.acc").as("accepted"), col("r.ta").as("tokens_after"))
  }

  /** Streaming funnel — the [[graft.operators.Relational.funnel]]
    * ladder as a PER-USER STATE MACHINE via
    * `flatMapGroupsWithState` (the custom-state primitive the
    * built-in windowed aggs can't express: the transition condition
    * depends on the PREVIOUS stage's accepted timestamp, not on any
    * window). State per user = (stages reached, t1, t2, t3) — a few
    * longs, bounded forever; a user emits exactly ONE row, at the
    * moment the final stage lands, then the state goes inert.
    *
    * Each micro-batch's events fold in event-time order (ties by
    * stage order), which reproduces the batch min-first-times
    * semantics on an ordered ingest — the replay/backfill shape the
    * gate verifies via [[funnelStreamBatch]]. An out-of-order
    * deployment buffers per user within the watermark before folding;
    * the fold itself is unchanged.
    *
    * Specialized to 3-stage ladders: the state/output encoders are
    * flat long tuples (a few primitive columns, never a collection
    * that grows with input).
    */
  def funnelStream(events: DataFrame, stages: Seq[String],
                   watermark: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(stages.size == 3,
      s"funnelStream: the streaming state machine is specialized to 3 stages, got $stages")
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .withWatermark("ts", watermark)
      .where(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, evs, state) =>
          var (n, t1, t2, t3) = state.getOption.getOrElse((0, 0L, 0L, 0L))
          val wasDone = n == 3
          for ((_, et, ts) <- evs.toSeq.sortBy(e => (e._3, stageIdx(e._2)))
               if n < 3) {
            if (n == 0 && et == stages(0)) { t1 = ts; n = 1 }
            else if (n == 1 && et == stages(1) && ts > t1) { t2 = ts; n = 2 }
            else if (n == 2 && et == stages(2) && ts > t2) { t3 = ts; n = 3 }
          }
          state.update((n, t1, t2, t3))
          if (!wasDone && n == 3) Iterator((user, t1, t2, t3)) else Iterator.empty
      }
      .toDF("user_id", "t1_us", "t2_us", "t3_us")
  }

  /** Watermark-sizing audit: per-user lateness of events relative to
    * the stream's running event-time high-water mark in ARRIVAL order
    * (`arrival` = ingest sequence; replay audits pass a stored arrival
    * column or, when the log records none, a deterministic synthetic
    * permutation). `n_late` at a candidate threshold = exactly the
    * rows a `withWatermark(threshold)` deployment would drop; the max
    * tells you the delay that loses nothing — measured on YOUR data
    * instead of guessed.
    *
    * One window shuffle on user (the sessionize partitioning), then a
    * map-side-combined per-user aggregate.
    */
  def lateEventsAudit(events: DataFrame, arrival: org.apache.spark.sql.Column,
                      lateThresholdUs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("arrival"), col("event_id"))
      .rowsBetween(Long.MinValue, 0)
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), arrival.as("arrival"))
      .withColumn("hwm", max(col("ts_us")).over(w))
      .withColumn("late_us", col("hwm") - col("ts_us"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > lateThresholdUs, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
  }

  /** Streaming first-order path transitions: every `(prev → next)`
    * event-type hop a user makes, emitted AT INGEST — the live feed
    * behind [[graft.operators.Relational.pathTransitions]]'s batch
    * matrix (counts/probabilities are one windowless groupBy away
    * downstream). `flatMapGroupsWithState` because the emission
    * depends on the PREVIOUS event's type, which no built-in windowed
    * agg carries across micro-batches. State per user = the last
    * (ts_us, event_id, event_type) — three scalars, bounded forever.
    *
    * Each micro-batch folds in event-time order (ties by event_id),
    * reproducing the batch lag semantics on an ordered ingest — the
    * replay/backfill equivalence [[transitionsStreamBatch]] gates.
    */
  def transitionsStream(events: DataFrame, watermark: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (Long, Long, String, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, evs, state) =>
          var last = state.getOption.getOrElse((0L, 0L, ""))
          val out = Seq.newBuilder[(Long, Long, String, String, Long)]
          for ((_, eid, et, ts) <- evs.toSeq.sortBy(e => (e._4, e._2))) {
            if (last._3.nonEmpty) out += ((user, eid, last._3, et, ts))
            last = (ts, eid, et)
          }
          state.update(last)
          out.result().iterator
      }
      .toDF("user_id", "event_id", "prev_type", "next_type", "ts_us")
  }

  /** Batch twin of [[transitionsStream]]: the per-hop rows an ordered
    * replay emits — one lag window on the sessionize/funnel user
    * partitioning, no state.
    */
  def transitionsStreamBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("prev_type"),
        col("event_type").as("next_type"), col("ts_us"))
  }

  /** Streaming last-touch attribution: each purchase emits AT INGEST
    * with the channel it's credited to — the most recent same-user
    * non-purchase event within `windowMicros`, else "direct" (the
    * live twin of [[graft.operators.Relational.attributionLastTouch]]
    * before its per-channel aggregate). State per user = the last
    * non-purchase (event-time, type) — two scalars, bounded forever;
    * the fold sorts each micro-batch by (ts, event_id), so emissions
    * are deterministic for any slicing of the event-time-ordered
    * stream (the transitionsStream delivery contract).
    */
  def attributionStream(events: DataFrame, watermark: String,
                        windowMicros: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String), (Long, Long, Long, String, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, evs, state) =>
          var last = state.getOption.getOrElse((Long.MinValue, ""))
          val out = Seq.newBuilder[(Long, Long, Long, String, Double)]
          for ((_, eid, et, ts, v) <- evs.toSeq.sortBy(e => (e._4, e._2))) {
            if (et == "purchase") {
              val ch = if (last._2.nonEmpty && ts - last._1 <= windowMicros)
                last._2 else "direct"
              out += ((user, eid, ts, ch, v))
            } else last = (ts, et)
          }
          state.update(last)
          out.result().iterator
      }
      .toDF("user_id", "event_id", "ts_us", "channel", "value")
  }

  /** Batch twin of [[attributionStream]]: the per-purchase attributed
    * rows via the same running last(ignoreNulls)-struct window the
    * aggregated report uses.
    */
  def attributionStreamBatch(events: DataFrame, windowMicros: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("prev", last(
        when(col("event_type") =!= "purchase",
          struct(col("ts_us").as("pts"), col("event_type").as("ptype"))),
        ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(col("prev").isNotNull &&
          col("ts_us") - col("prev.pts") <= windowMicros, col("prev.ptype"))
          .otherwise(lit("direct")).as("channel"),
        col("value"))
  }

  /** Streaming CDC upsert view: each arriving change that ADVANCES its
    * key's (event-time, event_id) high-water mark emits the key's NEW
    * latest row — the live materialization of
    * [[graft.operators.Relational.cdcLatest]]: stale and duplicate
    * changes (late arrivals below the mark) are absorbed silently, and
    * a downstream sink applies emissions as upserts. State per key =
    * the latest (ts_us, event_id) — two scalars, bounded forever.
    *
    * Arrival order is explicit: the input carries an `arrival` column
    * and each micro-batch folds in (arrival, event_id) order, so the
    * semantics are deterministic for any slicing of the ARRIVAL-
    * ORDERED stream — the source must deliver batches in arrival
    * order (a later arrival landing in an earlier micro-batch would
    * be folded first and change the emission set; within a batch the
    * sort makes row order irrelevant). [[cdcStreamBatch]] is the
    * gated twin under the same arrival permutation.
    */
  def cdcStream(events: DataFrame, watermark: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"), col("arrival"))
      .as[(Long, Long, String, Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, String, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, evs, state) =>
          var cur = state.getOption.getOrElse((Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[(Long, Long, Long, String, Double)]
          for ((_, eid, et, ts, v, _) <- evs.toSeq.sortBy(e => (e._6, e._2))) {
            if (ts > cur._1 || (ts == cur._1 && eid > cur._2)) {
              cur = (ts, eid)
              out += ((user, eid, ts, et, v))
            }
          }
          state.update(cur)
          out.result().iterator
      }
      .toDF("user_id", "event_id", "ts_us", "last_type", "last_value")
  }

  /** Batch twin of [[cdcStream]] under an explicit arrival
    * permutation: an event emits iff its event-time rank beats the
    * running maximum over everything that arrived before it — one
    * rank window + one running-max window, both on the user
    * partitioning.
    */
  def cdcStreamBatch(events: DataFrame, arrival: Column): DataFrame = {
    val et = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("arrival"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"), arrival.as("arrival"))
      .withColumn("etr", row_number().over(et))
      .withColumn("prevmax", max(col("etr")).over(aw))
      .where(col("prevmax").isNull || col("etr") > col("prevmax"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type").as("last_type"), col("value").as("last_value"))
  }

  /** Batch twin of [[funnelStream]]: the completed ladders with their
    * stage times — what an ordered replay of the stream emits.
    */
  def funnelStreamBatch(events: DataFrame, stages: Seq[String]): DataFrame =
    graft.operators.Relational.funnel(events, stages)
      .where(col("stage") === stages.size)
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"))

  /** Batch twin of [[sessionWindows]]. */
  def sessionWindowsBatch(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), r3(sum(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))

  /** STREAM-STREAM interval join — the attribution shape: each
    * `click` joins every `view` by the same user in the preceding
    * `windowSec` seconds (view_ts ∈ [click_ts − windowSec, click_ts],
    * inclusive). Watermarks on BOTH inputs bound the join state:
    * Spark derives each side's state retention from the watermark +
    * the time-range predicate and evicts automatically — the one
    * Structured Streaming operator class (beside windowed aggs,
    * session windows, dedup, and mapGroupsWithState machines) with
    * TWO live inputs.
    *
    * At 100 TB the join shuffles both streams on `user_id` once; the
    * range predicate is evaluated within each key's co-partitioned
    * state, never as a cross product.
    */
  def intervalJoinStream(views: DataFrame, clicks: DataFrame,
                         watermark: String, windowSec: Long): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
        col("user_id") === col("c_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("user_id"), col("click_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        col("view_id"), unix_micros(col("view_ts")).as("view_ts_us"))
  }

  /** Batch twin of [[intervalJoinStream]]: the same equi-key +
    * time-range join on a bounded replay (views/clicks split from one
    * event log by type).
    */
  def intervalJoinStreamBatch(events: DataFrame, windowSec: Long): DataFrame = {
    val v = events.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val c = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    v.join(c,
        col("user_id") === col("c_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("user_id"), col("click_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        col("view_id"), unix_micros(col("view_ts")).as("view_ts_us"))
  }
}
