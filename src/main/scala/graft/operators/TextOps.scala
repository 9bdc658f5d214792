package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Rounding.{r3, r3d}
import graft.sources.Store

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * All single-pass, per-row, codegen-friendly column expressions —
  * no shuffle at all, so they scale embarrassingly: 100 TB of text
  * maps straight through the scan.
  */
object TextOps {

  val STOPWORDS: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for")

  /** Whitespace tokens (exact split on single space, mirroring the
    * documents table's generator) and a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation).
    */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long").as("re_tokens"),
      length(col("text")).cast("long").as("chars"))

  /** Per-document top-k salient terms by tf·idf (raw term frequency ×
    * ln(nDocs / docFrequency)) — the classic keyword/topic extraction
    * over a corpus, and the relevance signal a training-data run uses
    * for topical filtering.
    *
    * Scale shape: tf = ONE map-side-combined groupBy over the token
    * explode, materialized ONCE via eager `localCheckpoint` — it is
    * |docs|×|uniq tokens/doc|, the natural materialization point —
    * so the df derivation and the join's tf side read the same blocks
    * instead of each re-scanning and re-token-aggregating the corpus
    * (two full passes over the token explosion at 100 TB; lazy
    * branch-sharing can't be trusted here because column pruning makes
    * the two subplans non-identical, defeating ReuseExchange).
    * `localCheckpoint` is a leaf, not a cacheManager entry — blocks
    * are ContextCleaner-freed when the frame drops, so the cache-
    * hygiene contract holds with no explicit release. Durability
    * caveat (same as connectedComponents'): localCheckpoint lives on
    * executor-local storage, so on a real cluster an executor loss
    * forces recomputation of the lost tf blocks from the parquet
    * lineage root; at cluster scale use a reliable `checkpoint()`
    * directory to survive executor loss.
    *
    * Skew contract: df is |vocab|-sized and rides as a BROADCAST, so
    * the tf⋈df join is map-side and never shuffles (doc_id, tok) rows
    * on raw token — which skews catastrophically on stopwords
    * ("the"-class tokens all hash to one reducer). The broadcast
    * ASSUMES the vocabulary is lexicon-bounded (≈ millions of rows at
    * most); a web-scale corpus's vocabulary (typos, numbers, code
    * fragments) is NOT lexicon-bounded and can exceed broadcast range
    * — pass `broadcastDf = false` there and rely on AQE skew-join
    * splitting of the un-hinted sort-merge join instead of shipping a
    * multi-GB vocab table to every executor (or OOMing the driver).
    * TextOpsSpec's skewed-corpus spec pins output equality of the two
    * paths on a stopword-dominated corpus. The final per-doc rank
    * partitions by doc_id — bounded by tokens-per-document, never
    * corpus-sized.
    *
    * The score is ROUNDED before ranking so the (tfidf desc, tok)
    * order is identical in any engine.
    */
  def tfidf(docs: DataFrame, k: Int, broadcastDf: Boolean = true): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfx0 = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dfx = if (broadcastDf) broadcast(dfx0) else dfx0
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfx, "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        r3(col("tf") * log(col("n_docs").cast("double") / col("df"))).as("tfidf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))))
      .where(col("rank") <= k)
  }

  /** Quality signals: character-class ratios, lexical diversity,
    * stopword density, composite score (reference analogue: the
    * series-cleaning information filter, utils.py:938, applied to text).
    */
  def quality(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val text = col("text")
    val chars = length(text)
    val alpha = chars - length(regexp_replace(text, "[a-z]", ""))
    val digit = chars - length(regexp_replace(text, "[0-9]", ""))
    val space = chars - length(expr("replace(text, ' ', '')"))
    val toks = split(text, " ")
    val nt = size(toks)
    val uniq = size(array_distinct(toks))
    val stop = size(filter(toks, t => t.isInCollection(STOPWORDS)))
    docs.select(
      Seq(col("doc_id"), chars.cast("long").as("chars"),
        r3(alpha / chars).as("alpha_ratio"),
        r3(digit / chars).as("digit_ratio"),
        r3(space / chars).as("space_ratio"),
        r3(uniq / nt).as("uniq_ratio"),
        r3(stop / nt).as("stop_ratio")) ++ keep.map(col): _*)
      .withColumn("score", r3(
        col("alpha_ratio") * 0.4 + col("uniq_ratio") * 0.2 +
          (lit(1.0) - col("stop_ratio")) * 0.2 +
          when(col("chars").between(100, 400), 0.2).otherwise(0.1)))
  }

  private val LANG_WORDS: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une"),
    "es" -> Seq("el", "la", "y", "es", "un", "una"))

  /** Stopword-vote language ID with deterministic tie precedence
    * en > de > fr > es. (A real corpus adds char-n-gram votes; the
    * plumbing — per-row lambda over the token array — is identical.)
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    def c(l: String) = size(filter(toks, t => t.isInCollection(LANG_WORDS(l))))
    docs.select(col("doc_id"), c("en").as("en_c"), c("de").as("de_c"),
        c("fr").as("fr_c"), c("es").as("es_c"))
      .withColumn("lang_pred",
        when(col("en_c") >= col("de_c") && col("en_c") >= col("fr_c") && col("en_c") >= col("es_c"), "en")
          .when(col("de_c") >= col("fr_c") && col("de_c") >= col("es_c"), "de")
          .when(col("fr_c") >= col("es_c"), "fr")
          .otherwise("es"))
      .select("doc_id", "lang_pred")
  }

  /** Polynomial rolling-hash fingerprint (base 31, mod 1e9+7) over the
    * raw characters — order-sensitive, exact integer arithmetic, so
    * bit-identical in any engine. One pass per row via the native
    * [[graft.functions.RollingHash31]] codegen expression; the
    * equivalent `aggregate(sequence(...))` higher-order lambda is
    * interpreted per character (~25× slower; [[fingerprintHof]] keeps
    * it for the parity spec).
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs.selectExpr("doc_id", "graft_rolling_hash(text) AS fp")
  }

  /** Explode-free HOF formulation of [[fingerprint]] — oracle-parity
    * reference only, not the production path.
    */
  def fingerprintHof(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr("aggregate(sequence(1, length(text)), cast(0 as bigint), " +
        "(acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)").as("fp"))

  /** Canonical text normalization for dedup/dedup-adjacent pipelines:
    * lowercase, non-alphanumerics → space, whitespace collapsed,
    * trimmed. Pure codegen string expressions, single pass, no shuffle.
    */
  def normalize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")).as("norm_text"))
      .withColumn("norm_tokens", size(split(col("norm_text"), " ")).cast("long"))

  /** Word n-gram array per row, DISTINCT within the doc, empty for
    * docs shorter than n tokens (guards Spark's `sequence(1, 0)`,
    * which would DESCEND and slice garbage).
    */
  private[graft] def distinctNgrams(toks: String, n: Int): Column =
    when(expr(s"size($toks)") >= n,
      array_distinct(expr(
        s"transform(sequence(1, size($toks) - ${n - 1}), i -> concat_ws(' ', slice($toks, i, $n)))")))
      .otherwise(array().cast("array<string>"))

  /** Benchmark n-gram decontamination: flag every training document
    * sharing at least one word n-gram with an evaluation/benchmark
    * corpus — the standard eval-overlap removal step of an LLM
    * training-data run (the GPT-3/C4 papers' 8-13-gram rule; n is the
    * caller's knob).
    *
    * Output: (doc_id, hits = distinct contaminated n-grams in the doc,
    * contaminated ∈ {0,1}) for EVERY input doc — the caller filters
    * `contaminated = 0` to keep, or audits `hits` first.
    *
    * Scale shape: the benchmark side is eval-set-sized (MBs, not TBs)
    * — its distinct n-gram set rides as a BROADCAST, so the corpus'
    * n-gram explosion is probed map-side and never shuffles. The plan's
    * exchanges: the benchmark side's distinct (eval-set-sized), the
    * per-doc hit count (map-side combined, ≤ one row per contaminated
    * doc), and the hit table's broadcast for the left join back to
    * doc_ids — none of them corpus-gram-sized.
    * At 100 TB the corpus stays a single scan → project → broadcast-
    * probe pipeline. If the benchmark set ever outgrows broadcast
    * range, drop the `broadcast` hint and let AQE pick the join — the
    * semantics don't change.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    def grams(d: DataFrame) = d
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(distinctNgrams("toks", n)).as("gram"))
    val bench = broadcast(grams(benchmark).select("gram").distinct())
    val hits = grams(docs).join(bench, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  /** Contamination REPORT: [[decontaminate]]'s boolean flag upgraded
    * to the per-document overlap fraction an audit ranks by —
    * `n_grams` (the doc's distinct word n-grams), `hits` (how many
    * appear in the benchmark corpus), `frac` = hits/n_grams (NULL for
    * docs too short to form a single n-gram). The GPT-3 appendix C
    * practice: the flag decides, the fraction explains — a doc that
    * shares one boilerplate 4-gram and a doc that IS the eval item
    * both flag, but only the report separates them.
    *
    * Same scale shape as [[decontaminate]]: benchmark grams ride as a
    * broadcast, the corpus explosion is probed map-side, the per-doc
    * aggregate is map-side combined — one corpus scan, no gram-volume
    * shuffle.
    */
  def decontaminateScore(docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    def grams(d: DataFrame) = d
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(distinctNgrams("toks", n)).as("gram"))
    val bench = broadcast(
      grams(benchmark).select("gram").distinct().withColumn("rel", lit(1)))
    val per = grams(docs).join(bench, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("rel"), lit(0))).cast("long").as("hits"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        r3(col("hits") / nullif(col("n_grams"), lit(0L))).as("frac"))
  }

  /** SPAN-level decontamination (the surgical upgrade of
    * [[decontaminate]]'s whole-doc flag): per document, every maximal
    * span of token positions covered by an `n`-gram that occurs in
    * the benchmark corpus — the exact text to CUT so the document
    * survives curation with its eval overlap removed (Lee et al.
    * 2022's strip discipline pointed across corpora; dropping whole
    * docs for one shared sentence wastes good tokens, keeping them
    * whole leaks the benchmark). Same span semantics as
    * [[graft.operators.Dedup.substringDupSpans]] — overlap/adjacency
    * merge, 1-based inclusive, all-integer.
    *
    * Scale shape: benchmark grams BROADCAST (eval suites are tiny by
    * construction); the corpus window stream is generated and probed
    * map-side, so nothing corpus-sized shuffles; the interval merge
    * windows over benchmark-hit starts only.
    */
  def decontaminateSpans(docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    val bench = broadcast(
      benchmark.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(explode(distinctNgrams("toks", n)).as("gram")).distinct())
    graft.operators.Dedup.mergeSpanStarts(
      graft.operators.Dedup.tokenWindows(docs, n)
        .join(bench, Seq("gram"), "left_semi")
        .select(col("doc_id"), col("p")),
      n)
  }

  /** Within-document repetition signals (the Gopher paper's repetition
    * filters): fraction of duplicate word n-grams and the dominance of
    * the single most frequent token. High values mark boilerplate /
    * degenerate text a training run drops.
    *
    * Pure per-row math — zero shuffle, maps straight through the scan
    * at any scale. All three signals come from ONE pass of the native
    * [[graft.functions.NgramStats]] expression (O(len·log len) per row
    * for the sorted-run top-token count); the HOF formulation it
    * replaced evaluated three interpreted lambda trees per row, and
    * the naive per-distinct-token count scan is O(uniq·len) — tens of
    * millions of steps per row at real 10K-token document lengths.
    */
  def repetition(docs: DataFrame, n: Int = 2): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        expr(s"graft_ngram_stats(toks, $n)").as("st"))
      .select(col("doc_id"),
        col("st.ngrams").cast("long").as("ngrams"),
        r3(lit(1.0) -
          col("st.n_distinct").cast("double") / col("st.ngrams")).as("dup_frac"),
        r3(col("st.top_run").cast("double") / size(col("toks"))).as("top_tok_frac"))
  }

  /** Top-k PMI collocations: pointwise mutual information
    * `ln(p(a,b) / (p(a)·p(b)))` over token pairs co-occurring within
    * a ±`window` forward window — the association mining behind
    * phrase detection and word-embedding prep (word2vec's context
    * windows; Mikolov et al.'s phrase score is PMI with a discount).
    *
    * Scale shape: pairs are generated MAP-SIDE from each doc's token
    * array (nested HOF transform — the shingle pattern with a
    * variable gap, no self-join at token volume); both count tables
    * collapse through map-side-combined groupBys, the totals come
    * from re-aggregating those VOCAB-sized frames (never a second
    * token-volume pass), and the final rank is TakeOrdered over the
    * minCount-filtered survivors.
    */
  def pmiPairs(docs: DataFrame, window: Int, minCount: Long, k: Int): DataFrame = {
    require(window >= 1, s"pmiPairs: window must be >= 1, got $window")
    val pairs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(expr(
        s"flatten(transform(sequence(1, size(toks) - 1), " +
          s"i -> transform(sequence(1, least($window, size(toks) - i)), " +
          s"d -> concat(element_at(toks, i), ' ', element_at(toks, i + d)))))")).as("pair"))
    val pairCounts = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n_ab"))
    val nPairs = pairCounts.agg(sum(col("n_ab")).as("n_pairs"))
    val uniCounts = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nTok = uniCounts.agg(sum(col("c")).as("n_tok"))
    pairCounts.where(col("n_ab") >= minCount)
      .withColumn("a", substring_index(col("pair"), " ", 1))
      .withColumn("b", substring_index(col("pair"), " ", -1))
      .join(uniCounts.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uniCounts.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(nPairs))
      .crossJoin(broadcast(nTok))
      .withColumn("pmi", r3(log(
        (col("n_ab").cast("double") / col("n_pairs")) /
          ((col("c_a").cast("double") / col("n_tok")) *
            (col("c_b").cast("double") / col("n_tok"))))))
      .select(col("a"), col("b"), col("n_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Cross-document duplicated-span ratio per doc: the fraction of a
    * document's distinct word `k`-gram spans that also occur in at
    * least one OTHER document — the per-doc contamination score behind
    * substring-level dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": duplicated spans, not whole
    * docs, are what the model memorizes). [[repetition]] measures
    * WITHIN-doc duplication; this measures ACROSS-doc.
    *
    * Scale shape: the span explode is the only stage at token volume,
    * and it collapses immediately through two map-side-combined
    * groupBys — `(doc, span)` distinct, then span → doc-frequency.
    * Both sides of the span join land on the same `span` hash
    * partitioning (Catalyst reuses the exchange), and the df side is
    * pre-shrunk to distinct spans, so a hot span costs its df count,
    * not df². AQE's skew split covers a pathological reprint span.
    */
  def dupSpanRatio(docs: DataFrame, k: Int = 5): DataFrame = {
    val spans = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $k)))")).as("span"))
      .distinct()
    val df = spans.groupBy(col("span"))
      .agg(count(lit(1)).as("span_df"))
    spans.join(df, Seq("span"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("span_df") > 1, 1L).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_ratio",
        r3(col("dup_spans").cast("double") / col("n_spans")))
  }

  /** Composite C4/Gopher-style keep/drop verdict: token-count bounds,
    * stopword-density cap, duplicate-2-gram cap — each signal emitted
    * alongside the verdict so a pipeline can audit WHY a doc dropped.
    * Thresholds compare the ROUNDED ratios (r3 both engines), so the
    * verdict is bit-stable. Per-row, zero shuffle.
    *
    * `retainAll = true` appends the computed columns AFTER the input
    * columns; the names `toks`, `st`, `n_toks`, `stop_ratio`,
    * `dup_frac`, `keep` are RESERVED in that mode (an input column by
    * one of those names would make the output ambiguous and break
    * downstream `col("keep")` at analysis time — rejected eagerly with
    * a named error instead, ADVICE r7).
    */
  def compositeFilter(docs: DataFrame, minTokens: Int = 30, maxTokens: Int = 90,
                      maxStopRatio: Double = 0.15, maxDupRatio: Double = 0.10,
                      retainAll: Boolean = false): DataFrame = {
    if (retainAll) {
      val reserved = Seq("toks", "st", "n_toks", "stop_ratio", "dup_frac", "keep")
      val clash = docs.columns.filter(reserved.contains)
      require(clash.isEmpty,
        s"compositeFilter(retainAll = true): input column(s) ${clash.mkString(", ")} " +
          s"collide with reserved output names (${reserved.mkString(", ")}); rename them first")
    }
    compositeFilterToks(docs.withColumn("toks", split(col("text"), " ")),
      minTokens, maxTokens, maxStopRatio, maxDupRatio, retainAll)
  }

  /** [[compositeFilter]] over an ALREADY-tokenized frame (a `toks`
    * array column): the verdict math with no `split` of its own, so a
    * composition that tokenizes once (e.g. [[Corpus.pipeline]]'s shared
    * tokenized checkpoint feeding both the verdict and the lm band) can
    * reuse the same pass. `retainAll` keeps every input column except
    * `toks` itself.
    */
  private[operators] def compositeFilterToks(tokenized: DataFrame,
      minTokens: Int, maxTokens: Int, maxStopRatio: Double, maxDupRatio: Double,
      retainAll: Boolean): DataFrame = {
    graft.functions.VectorExprs.register(tokenized.sparkSession)
    val toks = col("toks")
    // retainAll: keep every input column alongside the verdict — the
    // verdict stays a pure PROJECTION, so a composition can filter
    // `WHERE keep = 1` inline instead of joining a doc_id keep-list
    // back to the corpus (which would reshuffle document bodies)
    val base =
      if (retainAll) tokenized.columns.toSeq.filterNot(_ == "toks").map(col)
      else Seq(col("doc_id"))
    tokenized
      .where(size(toks) >= 2)
      .withColumn("st", expr("graft_ngram_stats(toks, 2)"))
      .select(base ++ Seq(size(toks).cast("long").as("n_toks"),
        r3(size(filter(toks, t => t.isInCollection(STOPWORDS))).cast("double") / size(toks))
          .as("stop_ratio"),
        r3(lit(1.0) -
          col("st.n_distinct").cast("double") / col("st.ngrams")).as("dup_frac")): _*)
      .withColumn("keep",
        (col("n_toks").between(minTokens, maxTokens) &&
          col("stop_ratio") <= maxStopRatio && col("dup_frac") <= maxDupRatio).cast("int"))
  }

  /** Unigram language-model score (the CCNet-style quality signal):
    * mean log-probability of the document's tokens under the corpus'
    * own unigram distribution. Low scores mark out-of-distribution /
    * garbled text; high scores mark stopword soup — both ends are
    * filter fodder.
    *
    * Scale shape mirrors [[tfidf]]'s exactly: the per-(doc_id, tok)
    * term-frequency table is materialized ONCE via eager
    * `localCheckpoint` — the SINGLE pass over the token explosion
    * (the r7 shape tokenized the corpus twice: once for vocab counts,
    * once for scoring — two full 100-TB text passes where one
    * suffices). Vocab counts are DERIVED from tf (n = Σ tf per token)
    * and the per-doc score is the tf-weighted mean
    * Σ tf·ln(n/total) / Σ tf — algebraically identical to the
    * per-token mean. The |vocab|-sized count table and the 1-row
    * total ride as BROADCASTs, so scoring is a map-side probe + one
    * (doc_id)-keyed aggregate. Same lexicon-bounded-vocabulary
    * assumption as tfidf's broadcast (millions of rows at most) —
    * web-scale vocabularies pass `broadcastCounts = false` and rely
    * on AQE skew-join splitting instead (differential spec pins path
    * equality, like tfidf's). Same localCheckpoint durability caveat
    * as tfidf: use reliable `checkpoint()` at cluster scale.
    */
  def lmScore(docs: DataFrame, broadcastCounts: Boolean = true): DataFrame =
    lmScoreFromTf(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(),
      broadcastCounts)

  /** [[lmScore]] from a pre-aggregated, MATERIALIZED (checkpointed)
    * per-(doc_id, tok) `tf` frame — lets a composition that already
    * tokenized the corpus derive the score without a second body pass
    * ([[Corpus.pipeline]]'s lm band). The frame must be a leaf: both
    * the vocab-count derivation and the scoring join read it.
    */
  private[operators] def lmScoreFromTf(tf: DataFrame,
                                       broadcastCounts: Boolean = true): DataFrame = {
    val counts0 = tf.groupBy(col("tok")).agg(sum(col("tf")).as("n"))
    val counts = if (broadcastCounts) broadcast(counts0) else counts0
    val total = counts0.agg(sum(col("n")).as("total"))
    tf.join(counts, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        r3(sum(col("tf") * log(col("n").cast("double") / col("total"))) /
          sum(col("tf"))).as("lm_score"))
  }

  /** Sequence packing for pretraining: concatenate each shard's
    * documents into one token stream (doc_id order) and cut it into
    * fixed-`budget` training sequences — each doc's placement is
    * (start_seq, start_offset, end_seq), with end_seq > start_seq
    * marking docs that straddle a sequence boundary. This is the
    * standard "concat then chunk" packing of GPT-style pretraining
    * (the alternative, first-fit bin packing, is order-dependent and
    * not deterministic under distribution).
    *
    * Scale shape: ONE shuffle on the shard column, then a per-shard
    * running sum — state is one counter per shard, never the corpus.
    * The shard column bounds partition size: at 100 TB pass a real
    * sharding key (file/bucket id), not a 5-value source tag — the
    * operator packs WITHIN shards precisely so no global stream
    * order (= single partition) is ever required.
    */
  def packSequences(docs: DataFrame, budget: Int,
                    shardCol: String = "source"): DataFrame =
    packCounts(tokenCounts(docs, shardCol), budget)

  /** [[packSequences]] with TOKENIZER-REAL counts: each document's
    * length is its [[bpeEncode]] token count under the learned merge
    * list instead of the whitespace proxy — the budget a trainer
    * actually fills is measured in TOKENIZER tokens, and whitespace
    * counts under-fill sequences exactly where BPE splits rare words.
    * Same one-shuffle placement shape; the merge list rides as a
    * literal in the zero-exchange counting projection (the
    * [[bpeEncode]] plan), so the tokenizer upgrade costs NO extra
    * shuffle or scan.
    */
  def packSequencesBpe(docs: DataFrame, budget: Int,
                       merges: Seq[(String, String)],
                       shardCol: String = "source"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val enc = graft.functions.BpeApply.encode(merges)
      .replace("\\", "\\\\").replace("'", "\\'")
    val counts = docs.select(col("doc_id"), col(shardCol).as("shard"),
      expr(s"cast(size(flatten(transform(split(text, ' '), " +
        s"w -> graft_bpe_apply(w, '$enc')))) as bigint)").as("n_tokens"))
    packCounts(counts, budget)
  }

  /** Materialize the PACKED TOKEN STREAM from [[packSequences]]'
    * placements — the content a trainer actually consumes: one row per
    * (shard, seq) with the token count and an md5 fingerprint of the
    * space-joined tokens in stream order. This closes the pipeline
    * end-to-end: raw corpus → placements → verifiable sequence
    * content (a placement bug that never scrambles counts but
    * scrambles ORDER is exactly what the fingerprint catches).
    *
    * Scale shape: token explode joins doc-level placements on doc_id
    * (compact rows), then one (shard, seq) agg whose per-group state
    * is ≤ `budget` tokens by construction — bounded regardless of
    * corpus size. No global order: sequences assemble within shards.
    */
  def packTokenStream(docs: DataFrame, budget: Int,
                      shardCol: String = "source"): DataFrame = {
    val placed = packSequences(docs, budget, shardCol)
      .select(col("doc_id"), col("shard"),
        (col("start_seq") * budget + col("start_offset")).as("stream_pos"))
    docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("idx", "tok")))
      .join(placed, Seq("doc_id"))
      .select(col("shard"),
        expr(s"(stream_pos + idx) div $budget").as("seq"),
        ((col("stream_pos") + col("idx")) % budget).as("off"), col("tok"))
      .groupBy(col("shard"), col("seq"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(expr(
          "concat_ws(' ', transform(array_sort(collect_list(struct(off, tok))), s -> s.tok))"))
          .as("fp"))
  }

  /** Seeded md5-PRNG shuffle key — the engine-portable pseudo-random
    * per-shard order shared by [[packSequencesShuffled]] and
    * [[sampleTokenBudget]] (hex strings compare identically in any
    * engine; a `rand()` order would be neither reproducible nor
    * oracle-checkable).
    */
  private def shuffleKey(seed: String): Column =
    md5(concat(lit(s"$seed:"), col("doc_id").cast("string")))

  /** Per-shard EXCLUSIVE running token sum over the given order — ONE
    * shuffle on the shard key, bounded per-shard state; the shared
    * machinery of packing and budget sampling (three operators + two
    * oracle twins depend on this exact formulation staying in
    * lockstep).
    */
  private def streamPos(orderCols: Seq[Column]): Column =
    coalesce(sum(col("n_tokens")).over(
      Window.partitionBy(col("shard")).orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** Placement columns from a `stream_pos` column: integer `div`, not
    * `/` (Spark's `/` on longs is DOUBLE division).
    */
  private def placements(budget: Int): Seq[Column] = Seq(
    col("doc_id"), col("shard"), col("n_tokens"),
    expr(s"stream_pos div $budget").as("start_seq"),
    (col("stream_pos") % budget).as("start_offset"),
    expr(s"(stream_pos + n_tokens - 1) div $budget").as("end_seq"))

  private def tokenCounts(docs: DataFrame, shardCol: String): DataFrame =
    docs.select(col("doc_id"), col(shardCol).as("shard"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))

  /** [[packSequences]] with deterministic document SHUFFLING: within
    * each shard, docs are packed in md5-PRNG order (seeded, engine-
    * portable) instead of doc_id order — training data must not be
    * packed in ingestion/id order (adjacent near-identical docs would
    * co-occupy sequences and correlate batches). Same one-shuffle
    * shape; a rerun with the same seed reproduces the exact layout on
    * any engine/partitioning (a `rand()` shuffle would do neither).
    */
  def packSequencesShuffled(docs: DataFrame, budget: Int,
                            shardCol: String = "source",
                            seed: String = "shuffle"): DataFrame =
    tokenCounts(docs, shardCol)
      .withColumn("stream_pos", streamPos(Seq(shuffleKey(seed), col("doc_id"))))
      .select(placements(budget): _*)

  /** [[packSequences]] in CURRICULUM order: within each shard, docs
    * pack in ascending [[quality]]-score order (easy/noisy first,
    * clean last — or read the stream backwards for the reverse
    * curriculum), doc_id tie-broken, so the layout is a deterministic
    * total order. The third ordering discipline beside id order
    * ([[packSequences]]) and the seeded shuffle
    * ([[packSequencesShuffled]]) — curriculum schedules (Bengio et
    * al. 2009) want exactly this: sequence position correlated with a
    * difficulty signal.
    *
    * Scale shape: the score and the token count are both computed
    * map-side where the text is; the two scalar frames co-partition
    * on doc_id; the packing shuffle still moves only scalars. The
    * emitted `score` column makes the ordering auditable downstream.
    */
  def packSequencesCurriculum(docs: DataFrame, budget: Int,
                              shardCol: String = "source"): DataFrame =
    tokenCounts(docs, shardCol)
      .join(quality(docs).select(col("doc_id").as("q_id"), col("score")),
        col("doc_id") === col("q_id")).drop("q_id")
      .withColumn("stream_pos", streamPos(Seq(col("score"), col("doc_id"))))
      .select(placements(budget) :+ col("score"): _*)

  /** [[packSequences]] over precomputed (doc_id, shard, n_tokens) —
    * the composition entry point: token counts are computed where the
    * text already is, so the packing shuffle moves 3 scalar columns,
    * never document bodies.
    */
  def packCounts(counts: DataFrame, budget: Int): DataFrame =
    counts
      .withColumn("stream_pos", streamPos(Seq(col("doc_id"))))
      .select(placements(budget): _*)

  /** Bigram LM score: mean ln P(tok | prev) over the document's bigram
    * positions, with the conditional estimated from the corpus itself
    * — P(t|p) = c(p,t) / c(p,·). The sequel to [[lmScore]]'s unigram
    * signal (CCNet uses a 5-gram KenLM; a corpus-self bigram LM is the
    * honest distributable analogue — no smoothing needed because every
    * scored bigram was counted). Degenerate repetitive text scores
    * near 0 (its bigrams are all it has); incoherent text scores very
    * negative.
    *
    * Scale shape = [[lmScore]]'s exactly: per-(doc, prev, tok) tf in
    * ONE body pass (eager localCheckpoint), corpus bigram counts AND
    * prev-marginals DERIVED from tf, both riding as broadcasts —
    * `broadcastCounts = false` for web-scale bigram vocabularies
    * (which outgrow broadcast range much sooner than unigram ones).
    * Docs with < 2 tokens are dropped (no bigram positions), the
    * [[repetition]] contract.
    */
  def lmScoreBigram(docs: DataFrame, broadcastCounts: Boolean = true): DataFrame = {
    val tf = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS p, element_at(toks, i + 1) AS t))")).as("bg"))
      .select(col("doc_id"), col("bg.p").as("p"), col("bg.t").as("t"))
      .groupBy(col("doc_id"), col("p"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cpt0 = tf.groupBy(col("p"), col("t")).agg(sum(col("tf")).as("c_pt"))
    val cp0 = cpt0.groupBy(col("p")).agg(sum(col("c_pt")).as("c_p"))
    val cpt = if (broadcastCounts) broadcast(cpt0) else cpt0
    val cp = if (broadcastCounts) broadcast(cp0) else cp0
    tf.join(cpt, Seq("p", "t")).join(cp, Seq("p"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        r3(sum(col("tf") * log(col("c_pt").cast("double") / col("c_p"))) /
          sum(col("tf"))).as("lm2_score"))
  }

  /** Interpolated Kneser-Ney bigram score per doc (Kneser & Ney 1995;
    * Chen & Goodman 1998's interpolated form with one fixed discount
    * D): `P(t|p) = max(c(p,t)−D, 0)/c(p) + λ(p)·P_cont(t)` with
    * `λ(p) = D·N1+(p,·)/c(p)` and the CONTINUATION probability
    * `P_cont(t) = N1+(·,t)/N1+(··)` — "how many contexts does t
    * complete", the correction that stops raw-frequency bigram LMs
    * over-scoring words that are frequent only inside one collocation
    * (the "San Francisco" effect). The per-doc score is the
    * tf-weighted mean ln P, comparable against [[lmScoreBigram]]'s
    * unsmoothed score at the same tokenization.
    *
    * Scale shape: the [[lmScoreBigram]] single-body-pass contract —
    * per-(doc,p,t) tf localCheckpointed (bodies tokenized once), the
    * corpus bigram-type table localCheckpointed (it feeds FOUR
    * consumers: context stats, continuation stats, the type count and
    * the scoring join), every derived stat map-side combined, the
    * 1-row type count a broadcast crossJoin, and the count tables
    * broadcast with the same web-scale escape hatch. All counts are
    * exact integers; only ln is inexact — absorbed by r3.
    */
  def lmScoreKneserNey(docs: DataFrame, discount: Double = 0.75,
                       broadcastCounts: Boolean = true): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"lmScoreKneserNey: need 0 < discount < 1, got $discount")
    val tf = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS p, element_at(toks, i + 1) AS t))")).as("bg"))
      .select(col("doc_id"), col("bg.p").as("p"), col("bg.t").as("t"))
      .groupBy(col("doc_id"), col("p"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cpt0 = tf.groupBy(col("p"), col("t")).agg(sum(col("tf")).as("c_pt"))
      .localCheckpoint()
    val pStats0 = cpt0.groupBy(col("p"))
      .agg(sum(col("c_pt")).as("c_p"), count(lit(1)).as("n1p"))
    val tStats0 = cpt0.groupBy(col("t")).agg(count(lit(1)).as("n1t"))
    val types = cpt0.agg(count(lit(1)).as("n_types"))
    val cpt = if (broadcastCounts) broadcast(cpt0) else cpt0
    val pStats = if (broadcastCounts) broadcast(pStats0) else pStats0
    val tStats = if (broadcastCounts) broadcast(tStats0) else tStats0
    val prob = greatest(col("c_pt") - lit(discount), lit(0.0)) / col("c_p") +
      (lit(discount) * col("n1p") / col("c_p")) * (col("n1t") / col("n_types"))
    tf.join(cpt, Seq("p", "t")).join(pStats, Seq("p")).join(tStats, Seq("t"))
      .crossJoin(broadcast(types))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        r3(sum(col("tf") * log(prob)) / sum(col("tf"))).as("kn_score"))
  }

  /** BM25 ranked retrieval (the Robertson/Lucene formulation) of the
    * top-k documents for a literal query term set:
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the classic sparse
    * retrieval sibling of the ANN operators (keyword search over a
    * training corpus: find the documents most about X).
    *
    * Scale shape: ONE body pass — the token array is split once per
    * row, dl = its size, and each query term's tf is a per-row filter
    * count (query terms are a literal handful, so this is a fixed
    * number of per-row loops, ZERO shuffle on bodies). The compact
    * per-doc projection (doc_id, dl, tf…) is eagerly localCheckpointed
    * — the corpus-stats aggregate AND the scoring projection both read
    * those blocks, so the text is scanned/tokenized exactly once (an
    * uncheckpointed plan evaluates `base` twice — the lmScore/tfidf
    * lesson; same executor-loss durability caveat). Corpus stats
    * (N, avgdl, per-term df) reduce to ONE row via map-side partial
    * aggs and ride back as a broadcast; scoring is map-side; the
    * final top-k is the two-phase salted rank ([[topTokens]]' shape):
    * per-salt row_number first, so the single final aggregate sees at
    * most salt·k rows — never a global sort of the corpus. The score
    * is ROUNDED before ranking (engine-identical order); docs
    * matching no term are dropped before ranking.
    *
    * FP note: dl/tf/df/N are integer-valued doubles (exact), so both
    * engines feed ln identical rationals; only ln itself and the
    * final arithmetic are inexact — absorbed by the rounding like
    * every other gate.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: query term set must be non-empty")
    val tfCols = terms.indices.map { i =>
      val t = terms(i)
      size(filter(col("toks"), x => x === lit(t))).cast("double").as(s"tf_$i")
    }
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast("double").as("dl")) ++ tfCols: _*)
      .localCheckpoint()
    val statCols = Seq(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl")) ++
      terms.indices.map(i =>
        sum((col(s"tf_$i") > 0).cast("long")).cast("double").as(s"df_$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      idf * (col(s"tf_$i") * lit(k1 + 1.0)) /
        (col(s"tf_$i") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    rankTopK(
      base.crossJoin(broadcast(stats))
        .select(col("doc_id"), r3(score).as("score"))
        .where(col("score") > 0.0),
      k)
  }

  /** The BM25 family's shared top-k tail: two-phase salted rank over a
    * (doc_id, score) frame — per-salt row_number caps the final exact
    * slice at salt·k rows, never a global sort. Scores must already be
    * rounded (rank order is rounded-score order on both engines).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(32)))
      .withColumn("r1", row_number().over(
        Window.partitionBy(col("salt")).orderBy(col("score").desc, col("doc_id"))))
      .where(col("r1") <= k).drop("salt", "r1")
      .agg(expr(s"slice(array_sort(collect_list(struct(-score AS s_neg, doc_id AS doc_id, score AS score))), 1, $k)")
        .as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.doc_id").as("doc_id"), col("t.score").as("score"),
        (col("pos") + 1).cast("long").as("rank"))

  /** Persist a corpus as a BUCKETED INVERTED INDEX — the sixth stored
    * index family (band/gram/ANN-cell/graph/hier … and now postings),
    * under the same lifecycle discipline: the 100-TB corpus pays its
    * tokenization ONCE, and every future query (and tonight's crawl
    * delta, and a licensing takedown) runs against the store.
    *
    * Layout:
    *   - `<table>_postings` (term, doc_id, tf, dl) bucketed by term —
    *     a query term's postings list is one pruned bucketed scan,
    *     and dl rides DENORMALIZED so scoring needs no doc-length
    *     join (dl is immutable for a stored doc, so denormalization
    *     cannot drift);
    *   - `<table>_dlens` (doc_id, dl) bucketed by doc_id — the corpus
    *     stats source (N, avgdl recompute under any tombstone mask)
    *     AND the membership ledger (the `_sdocs` role: append rejects
    *     already-indexed ids, takedown rejects never-indexed ids);
    *   - `<table>_tmeta` pins n_buckets.
    *
    * Unlike the gram index, postings CARRY doc attribution, so a
    * takedown needs only doc ids (no refcounts) and the mask is a
    * broadcast anti-join — but the STATS must shift with the mask too
    * (N, avgdl, df all change when docs leave), which is why queries
    * recompute them from the masked frames instead of pinning them in
    * `_tmeta` at build time.
    */
  def writeTextIndex(docs: DataFrame, table: String, nBuckets: Int): Unit = {
    val spark = docs.sparkSession
    // a rebuild under the same name must not inherit a previous
    // generation's tombstones — a stale mask would silently hide
    // freshly-indexed docs AND skew N/avgdl/df via maskedTextIndex
    spark.sql(s"DROP TABLE IF EXISTS ${table}_ttombstones")
    val base = Par.fanOut(docs).select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    // the three tables are independent — overlap the writes (Par)
    import spark.implicits._
    Par.inParallel(
      () => graft.sources.Formats.writeBucketedKeys(
        base.groupBy(col("term"), col("doc_id"), col("dl"))
          .agg(count(lit(1)).cast("long").as("tf")),
        s"${table}_postings", Seq("term"), nBuckets),
      () => graft.sources.Formats.writeBucketedKeys(
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("dl")),
        s"${table}_dlens", Seq("doc_id"), nBuckets),
      () => Seq(nBuckets).toDF("n_buckets")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_tmeta"))
  }

  /** Append new documents to a stored inverted index WITHOUT a rebuild
    * — ≡ the one-shot build because postings/dlens rows are disjoint
    * unions over disjoint doc batches (no per-key state to merge; df
    * and stats are recomputed per query from the whole store).
    * Disjointness is ENFORCED via the `_dlens` ledger (the gram
    * index's `_sdocs` contract): re-appending an indexed doc would
    * double its postings and every query would double-count its tf —
    * a directed error, never trusted to the caller.
    */
  def appendTextIndex(newDocs: DataFrame, table: String): Unit = {
    val spark = newDocs.sparkSession
    val nBuckets = textMeta(spark, table).getAs[Int]("n_buckets")
    val overlap = newDocs.select(col("doc_id")).distinct()
      .join(spark.table(s"${table}_dlens"), Seq("doc_id"), "left_semi")
      .limit(5).collect().map(_.getLong(0))
    require(overlap.isEmpty,
      s"appendTextIndex: doc ids already indexed in '$table' " +
        s"(e.g. ${overlap.mkString(", ")}) — re-appending doubles their " +
        "postings and every query double-counts their tf; append only " +
        "NEW docs (or rebuild the index)")
    val base = newDocs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    graft.sources.Formats.writeBucketedKeys(
      base.groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).cast("long").as("tf")),
      s"${table}_postings", Seq("term"), nBuckets, mode = "append")
    graft.sources.Formats.writeBucketedKeys(
      newDocs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl")),
      s"${table}_dlens", Seq("doc_id"), nBuckets, mode = "append")
  }

  /** Tombstone takedown for the stored inverted index — lifecycle
    * parity with the band/gram/ANN/graph stores: a removed licensor's
    * docs must stop being RETRIEVABLE *and* stop shifting every other
    * doc's score (they leave N, avgdl and df too — BM25 is corpus-
    * relative, so a takedown that only hid the rows would keep biasing
    * idf toward the removed corpus slice). Postings carry doc
    * attribution, so the filing is doc ids only; re-deleting while
    * tombstones live is idempotent (the anti-join mask ignores
    * duplicate ids). Never-indexed (or already-compacted) ids are a
    * directed error via the `_dlens` ledger — same contract as the
    * gram index. [[compactTextIndex]]'s [[Store.commit]] drops the
    * filing only once the new generation is live.
    */
  def deleteFromTextIndex(docs: DataFrame, table: String): Unit = {
    val spark = docs.sparkSession
    Store.guard(spark, table, "tmeta", "text index", "writeTextIndex")
    val ids = docs.select(col("doc_id")).distinct()
    val unknown = ids.join(spark.table(s"${table}_dlens"), Seq("doc_id"), "left_anti")
      .limit(5).collect().map(_.getLong(0))
    require(unknown.isEmpty,
      s"deleteFromTextIndex: doc ids not indexed in '$table' " +
        s"(e.g. ${unknown.mkString(", ")}) — never indexed, or already " +
        "compacted away")
    Store.file(ids, s"${table}_ttombstones")
  }

  /** A text index's `_tmeta` row (see [[Store.meta]]). */
  private def textMeta(spark: SparkSession, table: String): Row =
    Store.meta(spark, table, "tmeta", "text index", "writeTextIndex")

  /** The postings/dlens scans with the tombstone mask applied — the
    * ONLY way query consumers read the index (raw reads would
    * resurrect taken-down docs AND mis-weight every idf), behind the
    * `_tmeta` guard. The mask is one BROADCAST anti-join on the
    * takedown-cadence-bounded id set ([[Store.mask]]); the bucketed
    * scan's partitioning survives it.
    */
  private[graft] def maskedTextIndex(spark: SparkSession,
                                     table: String): (DataFrame, DataFrame) = {
    Store.guard(spark, table, "tmeta", "text index", "writeTextIndex")
    val ts = Store.pending(spark, s"${table}_ttombstones", "doc_id")
    (Store.mask(spark.table(s"${table}_postings"), ts, "doc_id"),
      Store.mask(spark.table(s"${table}_dlens"), ts, "doc_id"))
  }

  /** Fold accumulated tombstones into the inverted index: postings and
    * dlens minus the removed docs are written as staged bucketed
    * tables and swapped in by [[Store.commit]], which drops the
    * tombstones last (a failed commit leaves the previous generation
    * live with its tombstones pending). Queries answer identically
    * before and after (the compaction-parity contract every stored
    * family pins), and folded docs leave the `_dlens` ledger so a
    * re-delete is rejected.
    */
  def compactTextIndex(table: String): Unit = {
    val spark = SparkSession.active
    val nBuckets = textMeta(spark, table).getAs[Int]("n_buckets")
    val tsT = s"${table}_ttombstones"
    if (spark.catalog.tableExists(tsT)) {
      val (p, dl) = maskedTextIndex(spark, table)
      graft.sources.Formats.writeBucketedKeys(
        p, s"${table}_postings_compacting", Seq("term"), nBuckets)
      graft.sources.Formats.writeBucketedKeys(
        dl, s"${table}_dlens_compacting", Seq("doc_id"), nBuckets)
      Store.commit(spark, Seq("postings", "dlens")
        .map(t => s"${table}_$t" -> s"${table}_${t}_compacting"), tsT)
    }
  }

  /** BM25 against the STORED inverted index — [[bm25]] with the corpus
    * too big to re-tokenize per query: the query's postings lists come
    * off the term-bucketed scan (the `term IN (…)` filter prunes at
    * the scan; only query-term rows are ever read), corpus stats
    * (N, avgdl) reduce the masked `_dlens` frame to ONE row, per-term
    * df is a |terms|-row aggregate of the pruned postings, and scoring
    * is the broadcast-joined map-side projection feeding the shared
    * salted top-k tail. Byte-identical to [[bm25]] on the same corpus
    * (the spec pins it): dl/tf/df/N are integer-valued doubles on both
    * paths, summation-order differences sit far inside the shared
    * rounding.
    *
    * 100-TB shape: the ONLY frames that move are query-term-sized —
    * the pruned postings (Σ_t df(t) rows), a 1-row stats aggregate and
    * a |terms|-row df aggregate; document bodies are never touched.
    */
  def bm25AgainstIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                       terms: Seq[String], k: Int,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25AgainstIndex: query term set must be non-empty")
    // a repeated term would contribute one score term PER LIST INDEX
    // here but once in the postings-grouped stored path — reject the
    // ambiguity instead of silently diverging from the bm25 twin
    require(terms.distinct.size == terms.size,
      s"bm25AgainstIndex: duplicate query terms " +
        s"(${terms.diff(terms.distinct).distinct.mkString(", ")}) — " +
        "dedupe the term set; a repeat would double-count its postings")
    val (postAll, dlens) = maskedTextIndex(spark, table)
    val post = postAll.where(col("term").isin(terms: _*))
    val stats = dlens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val dfByTerm = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val contrib =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    rankTopK(
      post
        .join(broadcast(dfByTerm), Seq("term"))
        .crossJoin(broadcast(stats))
        .groupBy(col("doc_id"))
        .agg(r3(sum(contrib)).as("score"))
        .where(col("score") > 0.0),
      k)
  }

  /** Per-document unigram Shannon entropy (nats): H = ln(n) −
    * Σ tf·ln(tf) / n, plus the distinct-token count. Low entropy marks
    * repetitive/boilerplate text (the information-theoretic cousin of
    * [[repetition]]'s dup_frac — H = ln(uniq) exactly when all tokens
    * are distinct); a training-data run drops both entropy tails.
    *
    * Scale shape: one token pass → map-side-combined (doc, tok) tf →
    * one doc-keyed aggregate. Only compact (doc_id, tok-hash, tf)
    * rows ever shuffle, never bodies.
    */
  def entropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("uniq_tokens"),
        r3(log(sum(col("tf")).cast("double")) -
          sum(col("tf").cast("double") * log(col("tf").cast("double"))) /
            sum(col("tf"))).as("entropy"))

  /** Winnowing fingerprints per document (the MOSS algorithm, via the
    * native [[graft.functions.WinnowFps]] expression): one row per
    * selected (pos, fp) — any shared substring of length ≥ k + w − 1
    * between two docs is guaranteed to share a fingerprint. Per-row
    * computation, zero shuffle; ~2/(w+1) of the k-gram hashes are
    * selected, so output is a bounded fraction of the text length.
    */
  def winnow(docs: DataFrame, k: Int = 8, w: Int = 8): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs.select(col("doc_id"), explode(expr(s"graft_winnow(text, $k, $w)")).as("s"))
      .select(col("doc_id"), col("s.pos").cast("long").as("pos"), col("s.fp").as("fp"))
  }

  /** Substring-level near-dup candidates: pairs of documents sharing
    * at least `minShared` DISTINCT winnowing fingerprints — the
    * fingerprint-granular version of suffix-array substring dedup.
    * Shape mirrors the shingle-Jaccard verifier: per-doc distinct fp
    * sets, intersection via fp equi-join (never per-pair arrays),
    * doc_a < doc_b.
    *
    * `maxDocFreq` drops fingerprints appearing in more than that many
    * documents BEFORE the self-join (MOSS's ignore-ubiquitous rule).
    * This is a correctness-of-signal rule AND the scale guard: a
    * fingerprint of a common within-word substring lands every
    * document in one bucket, and a bucket self-join is QUADRATIC in
    * bucket size — the builder's own factor-10 soak ran away (>600s)
    * before the cap existed, the exact stop-shingle failure mode of
    * naive substring dedup. Ubiquitous fingerprints carry no near-dup
    * evidence (they are vocabulary artifacts), so the cap sharpens
    * the signal while bounding every bucket.
    */
  def winnowPairs(docs: DataFrame, k: Int = 8, w: Int = 8,
                  minShared: Int = 2, maxDocFreq: Long = 50L): DataFrame = {
    val fps = winnow(docs, k, w).select(col("doc_id"), col("fp")).distinct()
    // the cap itself must not be the hot spot: df is computed by a
    // MAP-SIDE-COMBINED groupBy (a corpus-wide fp partial-aggs before
    // the exchange — a window COUNT over fp would buffer all its rows
    // on one reducer). The >cap list is bounded by totalFps/cap —
    // small on most corpora but corpus-PROPORTIONAL, not constant, so
    // NO broadcast hint: AQE broadcasts it when it is in fact tiny and
    // falls back to a skew-split anti join when it is not (the hinted
    // version would OOM the driver on exactly the web-scale corpus the
    // cap exists for)
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
      .where(col("_df") > maxDocFreq).select(col("fp"))
    val rare = fps.join(hot, Seq("fp"), "left_anti")
    rare.select(col("doc_id").as("doc_a"), col("fp"))
      .join(rare.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Deterministic token-budget subsample: keep documents, in seeded
    * md5-PRNG order WITHIN each shard, while the shard's running token
    * count (exclusive of the current doc) stays under `tokenBudget` —
    * "give me a ~N-token random subsample" (the downsampling step
    * before a budgeted training run), reproducible on any engine /
    * partitioning / rerun. The first doc of a shard always survives
    * (a budget smaller than every doc still yields data); kept rows
    * carry `stream_pos` so the actual token total is auditable.
    *
    * Scale shape: ONE shuffle on the shard key + per-shard running
    * sum — identical machinery to [[packCounts]]; shard count bounds
    * partition size, per-shard budgets make the global budget
    * = Σ shards.
    */
  /** IMPORTANCE (quality-weighted) sampling — the DCLM/FineWeb-style
    * curation move: keep each document with probability equal to its
    * [[quality]] score, so high-quality text survives at full rate
    * and junk thins out proportionally, WITHOUT the hard cliff of a
    * threshold filter (41 keeps/drops; this reweights). Acceptance is
    * a deterministic md5-PRNG trial: the first 8 md5 hex digits of
    * `seed:doc_id` (a uniform 32-bit draw) compare against the score
    * mapped to the same 8-hex-digit scale — pure string comparison,
    * bit-identical in any engine, reproducible across reruns and
    * partitionings (a `rand()` trial is neither).
    *
    * Scale plan: one zero-exchange projection over the scan — the
    * score, the draw and the accept test are all map-side; no
    * shuffle anywhere.
    */
  def sampleImportance(docs: DataFrame, seed: String = "importance"): DataFrame = {
    // score ∈ [0,1] by construction; clamp the 32-bit threshold to
    // 2^32−1 so its hex stays 8 digits (score 1.0 would print 9 and
    // break the lexicographic compare)
    val thresh = format_string("%08x",
      least(floor(col("score") * 4294967296.0), lit(4294967295.0)).cast("long"))
    quality(docs, Seq("source"))
      .select(col("doc_id"), col("source"), col("score"),
        substring(shuffleKey(seed), 1, 8).as("draw"))
      .where(col("draw") < thresh)
  }

  def sampleTokenBudget(docs: DataFrame, tokenBudget: Long,
                        shardCol: String = "source",
                        seed: String = "budget"): DataFrame = {
    require(tokenBudget > 0,
      s"sampleTokenBudget: tokenBudget must be positive, got $tokenBudget " +
        "(the first-doc-per-shard guarantee assumes a positive budget)")
    tokenCounts(docs, shardCol)
      .withColumn("stream_pos", streamPos(Seq(shuffleKey(seed), col("doc_id"))))
      .where(col("stream_pos") < tokenBudget)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("stream_pos"))
  }

  /** [[sampleTokenBudget]] with TOKENIZER-REAL costs: the running
    * budget counts BPE tokens under the learned merge list instead of
    * whitespace words — the number the training run actually pays
    * (whitespace counts under-charge high-fertility text, so a
    * whitespace-budgeted sample silently overshoots the real token
    * budget by exactly the corpus fertility; see [[bpeFertility]]).
    * Same seeded md5 order, same first-doc-per-shard guarantee, same
    * auditable (n_tokens, stream_pos) output — only the cost model
    * changes.
    *
    * Scale shape: one zero-exchange BPE-encode projection
    * ([[graft.functions.BpeApply]], O(len)/row, riding the scan) +
    * the ONE shard-key shuffle and running sum of the whitespace
    * variant.
    */
  def sampleTokenBudgetBpe(docs: DataFrame, nMerges: Int, tokenBudget: Long,
                           shardCol: String = "source",
                           seed: String = "budget"): DataFrame = {
    require(tokenBudget > 0,
      s"sampleTokenBudgetBpe: tokenBudget must be positive, got $tokenBudget")
    val merges = bpeTrainMerges(docs, nMerges).map(m => (m._2, m._3))
    val enc = graft.functions.BpeApply.encode(merges)
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col(shardCol).as("shard"),
        expr(s"CAST(size(flatten(transform(split(text, ' '), " +
          s"w -> graft_bpe_apply(w, '$enc')))) AS BIGINT)").as("n_tokens"))
      .withColumn("stream_pos", streamPos(Seq(shuffleKey(seed), col("doc_id"))))
      .where(col("stream_pos") < tokenBudget)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("stream_pos"))
  }

  /** [[sampleTokenBudget]] with UNIGRAM-LM token costs — the
    * [[sampleTokenBudgetBpe]] discipline for the SentencePiece family
    * (budget sampling is tokenizer-real for BOTH tokenizer families):
    * per-doc n_tokens = Σ Viterbi piece counts under the trained ULM
    * vocabulary (pass `targetVocab`/`shrink` to budget under the
    * production-pruned vocab). Same seeded md5 order, same
    * first-doc-per-shard guarantee, same auditable output.
    *
    * Scale shape: one zero-exchange Viterbi-DP projection
    * ([[graft.functions.UlmViterbi]], O(len·maxPieceLen)/row, riding
    * the scan) + the ONE shard-key shuffle and running sum.
    */
  def sampleTokenBudgetUlm(docs: DataFrame, nSeed: Int, rounds: Int,
                           tokenBudget: Long, shardCol: String = "source",
                           seed: String = "budget", targetVocab: Int = 0,
                           shrink: Double = 0.75): DataFrame = {
    require(tokenBudget > 0,
      s"sampleTokenBudgetUlm: tokenBudget must be positive, got $tokenBudget")
    val vocab = ulmTrainVocab(docs, nSeed, rounds,
      targetVocab = targetVocab, shrink = shrink).map(v => (v._1, v._3))
    val enc = graft.functions.UlmViterbi.encode(vocab)
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col(shardCol).as("shard"),
        expr(s"CAST(size(flatten(transform(filter(split(text, ' '), " +
          s"x -> length(x) > 0), w -> graft_ulm_viterbi(w, '$enc')))) AS BIGINT)")
          .as("n_tokens"))
      .withColumn("stream_pos", streamPos(Seq(shuffleKey(seed), col("doc_id"))))
      .where(col("stream_pos") < tokenBudget)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("stream_pos"))
  }

  /** The WordPiece twin of [[sampleTokenBudgetBpe]]/[[sampleTokenBudgetUlm]]
    * — budget sampling tokenizer-real for all THREE families: the
    * running budget counts greedy longest-match WordPiece tokens under
    * the trained vocabulary (an `[UNK]` word costs 1 — the encoder's
    * exact cost model, spec-pinned identical to [[wordpieceEncode]]).
    * Same seeded md5 order, same first-doc-per-shard guarantee, same
    * auditable output columns.
    *
    * Scale shape: one zero-exchange WordPieceApply projection riding
    * the scan + the ONE shard-key shuffle and running sum.
    */
  def sampleTokenBudgetWp(docs: DataFrame, nMerges: Int, tokenBudget: Long,
                          shardCol: String = "source", seed: String = "budget",
                          maxInputChars: Int = 12): DataFrame = {
    require(tokenBudget > 0,
      s"sampleTokenBudgetWp: tokenBudget must be positive, got $tokenBudget")
    val enc = graft.functions.WordPieceApply.encode(wordpieceVocab(docs, nMerges))
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col(shardCol).as("shard"),
        expr(s"CAST(size(flatten(transform(filter(split(text, ' '), " +
          s"x -> length(x) > 0), w -> graft_wordpiece_apply(w, '$enc', $maxInputChars)))) AS BIGINT)")
          .as("n_tokens"))
      .withColumn("stream_pos", streamPos(Seq(shuffleKey(seed), col("doc_id"))))
      .where(col("stream_pos") < tokenBudget)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("stream_pos"))
  }

  /** Per-source budgets of a mixture: floor(weight × totalBudget) as
    * literal longs. Public because [[graft.OracleSql]] must embed the
    * IDENTICAL literals — one formula, both engines.
    */
  def mixtureBudgets(weights: Map[String, Double],
                     totalBudget: Long): Map[String, Long] =
    weights.map { case (s, w) => s -> math.floor(w * totalBudget).toLong }

  /** Deterministic mixture sampling (the Pile/Dolma recipe): each
    * source gets its own token budget = floor(weight × totalBudget),
    * filled in seeded md5-PRNG order — "rebalance the corpus to THIS
    * source mixture at ~N total tokens", the step that sets domain
    * proportions before a training run. Sources absent from `weights`
    * drop entirely; the first doc of every weighted source survives
    * (same guarantee as [[sampleTokenBudget]]); kept rows carry
    * `budget` and `stream_pos` so the realized mixture is auditable.
    *
    * Scale shape: identical to [[sampleTokenBudget]] — ONE shuffle on
    * the shard key + per-shard running sum. The weight table enters
    * the plan as a literal CASE expression, never a join (mixture
    * maps are config-sized by nature), and unweighted sources are
    * filtered BEFORE the window so dropped rows never shuffle.
    */
  def sampleMixture(docs: DataFrame, weights: Map[String, Double],
                    totalBudget: Long, shardCol: String = "source",
                    seed: String = "mixture"): DataFrame =
    mixtureFromCounts(tokenCounts(docs, shardCol), weights, totalBudget, seed)

  /** [[sampleMixture]] over precomputed (doc_id, shard, n_tokens) —
    * the composition entry point (the [[packCounts]] convention):
    * inside [[graft.operators.Corpus.pipeline]] the counts frame
    * already exists, so mixture selection moves 3 scalar columns and
    * never re-reads a body.
    */
  def mixtureFromCounts(counts: DataFrame, weights: Map[String, Double],
                        totalBudget: Long,
                        seed: String = "mixture"): DataFrame = {
    require(totalBudget > 0,
      s"sampleMixture: totalBudget must be positive, got $totalBudget")
    require(weights.nonEmpty,
      "sampleMixture: weights is empty — every document would drop")
    weights.foreach { case (s, w) =>
      require(w > 0,
        s"sampleMixture: weight for '$s' must be positive, got $w " +
          "(drop the key instead of zeroing it)")
    }
    val budgets = mixtureBudgets(weights, totalBudget)
    // floor(w·N) of a small positive weight can still be 0 — which
    // would silently drop the source and break the first-doc
    // guarantee the positive-weight require promises
    budgets.foreach { case (s, b) =>
      require(b > 0,
        s"sampleMixture: source '$s' gets a zero token budget " +
          s"(floor(${weights(s)} × $totalBudget)) — raise the weight " +
          "or the total, or drop the key")
    }
    val budgetExpr = budgets
      .foldLeft(lit(null).cast("long")) { case (acc, (s, b)) =>
        when(col("shard") === lit(s), lit(b)).otherwise(acc)
      }
    // the explicit isin (unlike a CASE-derived predicate) is a plain
    // IN, so it pushes through the counts projection to the scan — on
    // a source-partitioned lake that is partition PRUNING. Every
    // surviving row's shard is a weights key, so budgetExpr is
    // non-null by construction.
    counts.where(col("shard").isin(weights.keys.toSeq: _*))
      .withColumn("budget", budgetExpr)
      .withColumn("stream_pos", streamPos(Seq(shuffleKey(seed), col("doc_id"))))
      .where(col("stream_pos") < col("budget"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("budget"), col("stream_pos"))
  }

  /** One-row corpus report — the first query a user runs on a new
    * corpus: doc/token/vocab counts, exact-duplicate rate, mean doc
    * length. Two aggregate passes (doc-level + token-level), each
    * map-side partial; `countDistinct` is Spark's standard two-phase
    * distinct agg, never a driver-side set.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val tok = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("vocab"))
    docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_docs"))
      .crossJoin(broadcast(tok))
      .select(col("n_docs"), col("n_unique_docs"), col("n_tokens"), col("vocab"),
        r3(col("n_tokens").cast("double") / col("n_docs")).as("avg_tokens"),
        r3(lit(1.0) - col("n_unique_docs").cast("double") / col("n_docs")).as("dup_rate"))
  }

  /** PER-SOURCE lexical diversity report ([[corpusStats]] sliced the
    * way a mixture is tuned): doc/token/type counts, type-token ratio
    * and distinct-2 (the NLG distinct-n diversity of Li et al. 2016 at
    * n = 2) — the numbers that catch a TEMPLATED source (high volume,
    * collapsed diversity: thousands of near-identical listings score
    * distinct-2 ≈ 0) before it floods a training mixture that
    * per-document quality filters would pass one doc at a time.
    *
    * Scale shape: token and bigram streams are generated map-side and
    * collapse through map-side-combined two-phase distinct aggregates
    * on the source keying (|sources| groups); nothing corpus-sized is
    * ever sorted or windowed.
    */
  def corpusDiversity(docs: DataFrame): DataFrame = {
    val t = docs.select(col("source"), split(col("text"), " ").as("toks"))
    val uni = t.select(col("source"), explode(col("toks")).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_types"))
    val bi = t.where(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2)))")).as("bg"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bg")).as("n_bigram_types"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(uni, "source").join(bi, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        r3(col("n_types") / col("n_tokens")).as("ttr"),
        col("n_bigram_types"),
        r3(col("n_bigram_types") / col("n_bigrams")).as("distinct_2"))
  }

  /** Corpus-wide top-k tokens by frequency — vocabulary building. The
    * token explosion is reduced by a map-side-combined count, then
    * top-k is TWO-phase: per-salt top-k first, so the single-partition
    * final rank sees at most salt·k rows, never |vocab|.
    */
  def topTokens(docs: DataFrame, k: Int): DataFrame =
    topTokensFromCounts(
      docs.select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n")), k)

  /** The salted-rank half of [[topTokens]] over an existing `(token,
    * n)` count frame — shared with the sketch tier so one body scan
    * feeds both the exact top-k and the CMS cells.
    */
  private[operators] def topTokensFromCounts(counts: DataFrame, k: Int): DataFrame = {
    counts
      .withColumn("salt", pmod(xxhash64(col("token")), lit(32)))
      .withColumn("r1", row_number().over(
        Window.partitionBy(col("salt")).orderBy(col("n").desc, col("token"))))
      .where(col("r1") <= k).drop("salt", "r1")
      // final rank over the ≤ salt·k survivors as ONE aggregate (sorted
      // collect + slice + posexplode) instead of a global-window
      // row_number: same result, but no empty-partitionSpec WindowExec
      // — which both WARNs "moving all data to a single partition" on
      // every run and would genuinely be a scale bug if the input were
      // ever unbounded. The struct sorts by (-n, token) = count desc,
      // token asc, matching the per-salt phase.
      .agg(expr(s"slice(array_sort(collect_list(struct(-n AS n_neg, token AS token, n AS n))), 1, $k)")
        .as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.token").as("token"), col("t.n").as("n"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Count-Min sketch tier next to [[topTokens]]'s exact heavy
    * hitters (Cormode & Muthukrishnan 2005): `d` md5-salted hash
    * rows × `w` buckets of token counts; a token's estimate is the
    * MIN over its d cells — always ≥ the true count (one-sided), with
    * overshoot bounded by collisions (E[err] ≤ Σcounts/w per row,
    * the paper's ε = e/w regime). Published NEXT TO the exact counts
    * with the relative over-error column — the recall-gate pattern
    * for frequency sketches, completing the HLL (cardinality) and
    * sampled-quantile tiers.
    *
    * THE SCALE POINT: exact top-k must aggregate |vocab| cells
    * (fine here, heavy when the vocabulary is web-scale n-grams);
    * the sketch's state is d·w counters FLAT regardless of
    * vocabulary, map-side combined over token volume, and mergeable
    * across shards/days by cell-wise SUM — the streaming/windowed
    * frequency state the exact count can't provide. The ×d token
    * fan-out happens map-side and collapses to ≤ d·w rows per
    * partition before the one shuffle. Estimates are exact integers
    * (longs) in both engines; hashes are the shared md5-prefix PRNG,
    * so cell assignment is engine- and partitioning-independent.
    */
  def topTokensCms(docs: DataFrame, k: Int, d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && w >= 2, s"topTokensCms: need d >= 1, w >= 2, got d=$d w=$w")
    def bucket = pmod(
      conv(substring(md5(concat(col("j").cast("string"), lit(":"), col("token"))), 1, 15), 16, 10)
        .cast("bigint"),
      lit(w.toLong))
    // ONE body scan: the token-count collapse feeds both the exact
    // top-k and the sketch cells. The ×d fan-out (and its d md5s)
    // runs on the VOCABULARY with the counts as weights — never on
    // token volume (the raw-stream fan-out probed 10× heavier at the
    // 10× soak; cell totals are identical since Σ weights = Σ tokens)
    val counts = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val cells = counts
      .select(col("token"), col("n"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("j"), bucket.as("bucket"), col("n"))
      .groupBy(col("j"), col("bucket")).agg(sum(col("n")).as("cnt"))
    val cand = topTokensFromCounts(counts, k)
      .select(col("token"), col("n"), col("rank"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("token"), col("n"), col("rank"), col("j"), bucket.as("bucket"))
    cells.join(broadcast(cand), Seq("j", "bucket"))
      .groupBy(col("token"), col("n"), col("rank"))
      .agg(min(col("cnt")).as("n_cms"))
      .select(col("token"), col("rank"), col("n").as("n_exact"), col("n_cms"),
        r3((col("n_cms") - col("n")).cast("double") / col("n"), 1e6).as("over_err"))
  }

  /** Hybrid retrieval: the BM25 rank list and the dense cosine rank
    * list fused by reciprocal-rank fusion —
    * `rrf = Σ_lists 1/(rrfK + rank)`, absent list contributes 0
    * (Cormack et al. 2009, the fusion every sparse+dense production
    * retrieval stack ships; rrfK = 60 is the paper's constant). The
    * text query is `terms`; the dense query is embedding vec_id 0
    * (`doc_id ≡ vec_id` in the corpus).
    *
    * Scale shape: both candidate lists are top-`nCand` — bounded by
    * construction, not by corpus size — so the fusion join and the
    * final rank run on ≤ 2·nCand rows regardless of scale; the heavy
    * lifting stays inside [[bm25]]'s salted top-k and
    * [[graft.operators.Similarity.cosineTopK]]'s two-phase rank. The
    * final rank is the same bounded sorted-collect slice as
    * [[bm25]]'s (no empty-partition WindowExec).
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, terms: Seq[String],
                nCand: Int, k: Int, rrfK: Int = 60): DataFrame = {
    val text = bm25(docs, terms, nCand)
      .select(col("doc_id"), col("rank").as("rank_text"))
    val dense = Similarity.cosineTopK(embeddings, 1, nCand)
      .select(col("vid").as("doc_id"), col("rank").cast("long").as("rank_vec"))
    text.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        r3(coalesce(lit(1.0) / (lit(rrfK) + col("rank_text")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(rrfK) + col("rank_vec")), lit(0.0))).as("rrf"))
      .agg(expr(s"slice(array_sort(collect_list(struct(-rrf AS r_neg, doc_id AS doc_id, rrf AS rrf))), 1, $k)")
        .as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.doc_id").as("doc_id"), col("t.rrf").as("rrf"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Hybrid retrieval served ENTIRELY FROM STORES — [[hybridRrf]] with
    * neither side re-reading the corpus: the sparse list comes off the
    * BM25 inverted index ([[bm25AgainstIndex]]) and the dense list off
    * the graph store's node table
    * ([[graft.operators.Similarity.cosineTopKStored]] — the store is a
    * vector store with adjacency, so the same tables serve walks AND
    * exact rerank). Same RRF fusion, byte-equal to the recompute on
    * the same corpus; both stores' takedown masks apply, so one
    * licensing filing scrubs BOTH retrieval paths.
    *
    * 100-TB shape: the sparse side touches query-term-sized postings,
    * the dense side one vector-store scan against a broadcast query —
    * fusion stays ≤ 2·nCand rows as ever.
    */
  def hybridRrfStored(spark: org.apache.spark.sql.SparkSession,
                      textTable: String, graphTable: String,
                      terms: Seq[String], nCand: Int, k: Int,
                      rrfK: Int = 60): DataFrame = {
    val text = bm25AgainstIndex(spark, textTable, terms, nCand)
      .select(col("doc_id"), col("rank").as("rank_text"))
    val dense = Similarity.cosineTopKStored(spark, graphTable, 1, nCand)
      .select(col("vid").as("doc_id"), col("rank").cast("long").as("rank_vec"))
    text.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        r3(coalesce(lit(1.0) / (lit(rrfK) + col("rank_text")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(rrfK) + col("rank_vec")), lit(0.0))).as("rrf"))
      .agg(expr(s"slice(array_sort(collect_list(struct(-rrf AS r_neg, doc_id AS doc_id, rrf AS rrf))), 1, $k)")
        .as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.doc_id").as("doc_id"), col("t.rrf").as("rrf"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Score DELTA documents against the STORED index's corpus
    * statistics — tonight's crawl triaged under YESTERDAY's
    * distribution, without reindexing: N, avgdl and per-term df come
    * from the masked store (the pinned-statistics contract — a crawl
    * must not shift its own relevance bar mid-scoring; fold it in
    * with [[appendTextIndex]] when the night's triage is done), tf
    * and dl from the delta's own text, top-k of the delta reported.
    * The takedown mask applies to the STATS here — removed docs stop
    * biasing idf for future crawls too.
    *
    * 100-TB shape: one map-side pass over the DELTA (crawls are small;
    * the corpus is not re-read), a 1-row stats aggregate of `_dlens`
    * and a \|terms\|-row df aggregate off the pruned postings scan,
    * collected to ride as literals (query-term-sized — the codebook
    * collect contract).
    */
  def bm25ScoreDelta(deltaDocs: DataFrame, table: String, terms: Seq[String],
                     k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = deltaDocs.sparkSession
    require(terms.nonEmpty, "bm25ScoreDelta: query term set must be non-empty")
    require(terms.distinct.size == terms.size,
      s"bm25ScoreDelta: duplicate query terms " +
        s"(${terms.diff(terms.distinct).distinct.mkString(", ")}) — " +
        "a repeated term sums its per-index score term twice while the " +
        "stored path counts it once; dedupe the term set")
    val (postAll, dlens) = maskedTextIndex(spark, table)
    val stats = dlens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val dfByTerm = postAll.where(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tfCols = terms.indices.map { i =>
      size(filter(col("toks"), x => x === lit(terms(i)))).cast("double").as(s"tf_$i")
    }
    val base = deltaDocs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast("double").as("dl")) ++ tfCols: _*)
    val score = terms.indices.map { i =>
      // a term the index has never seen gets df = 0 — the standard
      // formula then yields the MAX idf (ln(1 + (N+0.5)/0.5)), the
      // honest "rare under the reference distribution" answer
      val df = lit(dfByTerm.getOrElse(terms(i), 0.0))
      val idf = log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
      idf * (col(s"tf_$i") * lit(k1 + 1.0)) /
        (col(s"tf_$i") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    rankTopK(
      base.crossJoin(broadcast(stats))
        .select(col("doc_id"), r3(score).as("score"))
        .where(col("score") > 0.0),
      k)
  }

  /** Tokenizer-REAL vocabulary utilization for the WordPiece family —
    * [[bpeTokenFreq]]'s report under greedy longest-match encoding:
    * top-k tokens of the corpus AFTER encoding, exact counts (an
    * `[UNK]` bucket appears honestly when words collapse). Per-TYPE
    * replay, TakeOrdered rank — the 58c discipline.
    */
  def wordpieceTokenFreq(docs: DataFrame, nMerges: Int, k: Int,
                         maxInputChars: Int = 12): DataFrame = {
    val enc = graft.functions.WordPieceApply.encode(wordpieceVocab(docs, nMerges))
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("c"),
        explode(expr(s"graft_wordpiece_apply(w, '$enc', $maxInputChars)")).as("token"))
      .groupBy(col("token")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))).cast("long"))
  }

  // ---------------- PII redaction ----------------

  /** PII patterns, restricted to the syntax subset whose semantics are
    * identical between Java regex (Spark codegen) and RE2 (DuckDB):
    * character classes, bounded/greedy quantifiers, `\b`, grouping —
    * no backreferences, no lookaround (RE2 has neither). The oracle
    * interpolates THESE constants, so the two sides cannot drift.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"
  val IpRe = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Deterministic PII augmentation for gates/specs: the driver corpus
    * contains no digits or addresses at all, so the redaction gate
    * injects one email, one phone and one IPv4 derived from `doc_id`
    * (identically reconstructed in the oracle SQL) — the masking is
    * then verified against text that actually exercises the patterns.
    */
  def withInjectedPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example or +1 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" at 192.168."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string")))

  /** PII redaction — the standard pre-training scrub (CCNet/Dolma ship
    * the same email/phone/IP pass): count then mask each class, email
    * → phone → IP in that order on both sides. Pure codegen'd
    * `regexp_replace`/`regexp_count` projections — no UDF, no shuffle;
    * at 100 TB this is a map-only pass that pipelines into whatever
    * filter/tokenize stage follows.
    */
  def maskPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(IpRe)).cast("long").as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit(EmailRe), lit("[EMAIL]")),
        lit(PhoneRe), lit("[PHONE]")),
        lit(IpRe), lit("[IP]")).as("masked"))

  /** One BPE merge step (Sennrich et al. 2016): corpus-weighted
    * adjacent character-pair frequencies, top-k — the inner-loop
    * primitive of tokenizer vocabulary induction (a real trainer
    * repeats this, merging the argmax pair into a new symbol each
    * round; the FIRST round's counts are what this op gates).
    *
    * Scale plan: the corpus collapses to DISTINCT words with
    * frequencies FIRST (one map-side-combined groupBy — the explode
    * that follows runs over the VOCABULARY, never corpus volume);
    * pair counts weight by word frequency and collapse map-side to
    * the pair vocabulary; the final rank is TakeOrdered over pair-
    * vocab survivors, never a global sort.
    */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)

  /** One greedy left-to-right, non-overlapping merge of adjacent
    * `(a, b)` symbol pairs into `a+b` over a symbol array — the BPE
    * merge primitive as a pure fold column (values as `lit`s, so
    * corpus-derived symbols need no SQL-literal escaping).
    */
  private def mergePairCol(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** The batch-selection collection width: each training round ranks
    * the top `MergeBatchCap + 1` pairs (the +1 row is the conservative
    * boundary when no conflict appears among the first
    * `MergeBatchCap`). The batched paths are spec-pinned byte-
    * identical to the SEQUENTIAL trainers (TokenizerBatchSpec) — the
    * gate oracles run the sequential recursive-CTE trainers, so no
    * oracle CTE mirrors this batch rule; the sequential equivalence
    * proof is what carries cross-engine parity.
    */
  private[graft] val MergeBatchCap = 512

  /** Driver-collect bound for the tokenizer word-type table: below
    * this many distinct words the exact in-memory trainer runs (the
    * fastBPE/SentencePiece shape — the type table is the k-means-
    * codebook collect class, ~2M rows ≈ 100-200 MB); above it the
    * spec-pinned-identical distributed batched loop takes over, so a
    * junk-heavy 100-TB crawl whose type table explodes routes to the
    * cluster instead of silently OOMing the driver. One count() scan
    * prices the decision.
    */
  private[graft] val TypeTableCollectMax = 2000000L

  /** Select one round's BATCH of BPE merges from the ranked pair
    * stats — the largest greedy prefix that is provably byte-identical
    * to merging its members one sequential argmax at a time
    * (the fastBPE/YouTokenToMe batching idea, with the two refinements
    * that make it EXACT rather than approximate):
    *
    *   1. STOP at the first ranked pair whose symbol set
    *      {lhs, rhs, lhs||rhs} intersects any earlier-ranked pair's
    *      symbol set, or whose product string already appears as a
    *      pair member (a product colliding with a live symbol would
    *      let post-merge occurrences STACK onto an existing pair's
    *      count). Skip-and-continue would NOT be sound: a skipped
    *      interacting pair can keep its full count (its shared symbol
    *      occurrences need not be consumed) and overtake later batch
    *      members at their sequential round — the spec pins this
    *      counterexample.
    *   2. TRUNCATE the accepted prefix to pairs with
    *      `cnt > cnt(firstConflict)` (strict). Every pair whose count
    *      a batch merge can change — and every newly-created pair —
    *      is bounded by that boundary count (interacting pairs all
    *      rank at or below the first conflict; new pairs inherit
    *      their count from an interacting original; refinement 1
    *      keeps old and new keys disjoint so counts never stack), so
    *      strict count dominance means the sequential argmax at each
    *      intermediate round is exactly the next batch member.
    *
    * Falls back to the top-ranked pair alone (the exact sequential
    * argmax) when the rule accepts nothing — worst case the batch
    * degenerates to sequential, never diverges from it. `ranked` is
    * the top `MergeBatchCap + 1` rows by (cnt DESC, lhs, rhs); with
    * no conflict among the first cap rows, row cap+1 serves as the
    * (conservative) boundary. `fullStats` is the COMPLETE pair-stats
    * frame of the round: the live-symbol collision set (rule 1's
    * `members`) must see every live pair, not just the ranked
    * horizon — a product equal to a symbol appearing only in
    * low-ranked pairs would otherwise stack post-merge occurrences
    * onto that pair's count and silently break sequential identity.
    */
  private[graft] def selectBpeBatch(ranked: Seq[(String, String, Long)],
                                    fullStats: Seq[(String, String, Long)],
                                    remaining: Int): Seq[(String, String, Long)] = {
    if (ranked.isEmpty || remaining <= 0) return Seq.empty
    val members = fullStats.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    val scan = ranked.take(MergeBatchCap)
    var used = Set.empty[String]
    var t = -1
    var i = 0
    while (i < scan.length && t < 0) {
      val (a, b, _) = scan(i)
      val prod = a + b
      if (used.contains(a) || used.contains(b) || used.contains(prod) ||
        members.contains(prod)) t = i
      else { used = used + a + b + prod; i += 1 }
    }
    val boundary =
      if (t >= 0) Some(scan(t)._3)
      else if (ranked.length > MergeBatchCap) Some(ranked(MergeBatchCap)._3)
      else None
    val upTo = if (t >= 0) t else scan.length
    val accepted = scan.take(upTo)
      .filter(p => boundary.forall(p._3 > _)).take(remaining)
    if (accepted.isEmpty) ranked.take(1) else accepted
  }

  /** Full BPE vocabulary induction (Sennrich et al. 2016): repeated
    * rounds of corpus-weighted pair-count → BATCHED argmax
    * ([[selectBpeBatch]]) → one combined merge pass, byte-identical
    * to the merge-per-round loop (the spec pins batched ≡ sequential
    * on fixtures where batch members do and don't interact, and on
    * the corpus). Returns the ordered merge list grouped by round —
    * [[bpeTrainMerges]] flattens it. Stops early if the vocabulary
    * runs out of pairs.
    *
    * Ties break by (count DESC, lhs ASC, rhs ASC) — two separate
    * symbol columns, never the concatenated pair, because
    * ("ab","c")/("a","bc") concatenate identically.
    *
    * Scale plan: ALL state is vocabulary-sized — the corpus collapses
    * to distinct words × freq in one map-side-combined groupBy before
    * round 1 and is never re-read; each ROUND (not each merge) is one
    * vocabulary-sized pair explode + aggregate, one
    * `MergeBatchCap + 1`-row TakeOrdered collect (the codebook
    * contract), and ONE map-side pass applying the whole batch as
    * chained folds (batch members share no symbols, so the folds
    * commute and equal a single simultaneous pass), localCheckpointed
    * so lineage stays flat. A production 32k-merge vocabulary costs
    * O(rounds) sequential Spark jobs instead of O(merges) — scheduler
    * latency scales with the batch count, which the soak pins. The
    * oracle unrolls the same BATCH rounds as chained CTEs with the
    * identical selection rule and the greedy merge expressed as
    * run-parity over match islands.
    */
  private[graft] def bpeTrainBatches(docs: DataFrame,
                                     nMerges: Int): Seq[Seq[(String, String, Long)]] = {
    require(nMerges >= 1, s"bpeTrain: nMerges must be >= 1, got $nMerges")
    var wf = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String, Long)]]
    var done = 0
    var exhausted = false
    while (done < nMerges && !exhausted) {
      val statsDf = wf
        // words already collapsed to one symbol have no pairs — and
        // sequence(1, 0) would DESCEND, indexing past the array
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), p ->
            |  struct(element_at(syms, p) AS a, element_at(syms, p + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .localCheckpoint(eager = true)
      val ranked = statsDf
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(MergeBatchCap + 1).collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("cnt")))
        .toSeq
      // the FULL pair stats feed rule 1's collision set — pair-vocab-
      // sized (the codebook contract, same as the WordPiece loop)
      val fullStats = statsDf.collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("cnt")))
        .toSeq
      val batch = selectBpeBatch(ranked, fullStats, nMerges - done)
      if (batch.isEmpty) exhausted = true
      else {
        out += batch
        wf = wf.select(col("freq"),
          batch.foldLeft(col("syms")) { case (c, (a, b, _)) =>
            mergePairCol(c, a, b) }.as("syms"))
          .localCheckpoint()
        done += batch.size
      }
    }
    out.toSeq
  }

  /** Code-point comparison — identical to Spark's UTF8String binary
    * order and DuckDB's VARCHAR collation (UTF-8 byte order preserves
    * code-point order; Java String's UTF-16 unit order does NOT for
    * supplementary characters, so the in-memory trainer must not use
    * it).
    */
  private def utf8Lt(x: String, y: String): Boolean = {
    val xi = x.codePoints().toArray
    val yi = y.codePoints().toArray
    var i = 0
    while (i < xi.length && i < yi.length) {
      if (xi(i) != yi(i)) return xi(i) < yi(i)
      i += 1
    }
    xi.length < yi.length
  }

  /** The exact greedy BPE merge loop over the COLLECTED word-type
    * table — the production trainer architecture (what fastBPE /
    * SentencePiece / every shipped tokenizer trainer does): ONE
    * distributed pass collapses the corpus to its sufficient statistic
    * (distinct words × frequency — the codebook-collect contract),
    * and the merge loop runs in memory, byte-identical to the
    * merge-per-round distributed trainer (spec-pinned against both it
    * and [[bpeTrainBatches]]).
    *
    * Why this beats batching the distributed loop: the measured batch
    * size of EXACT non-interacting batching is ~1.1 on natural text
    * (top-ranked pairs share high-frequency symbols — merging (t,h)
    * really does change (h,e)'s count — so the provably-safe batch
    * prefix ends at rank 2-3), which leaves wall-clock ∝ merges. Here
    * wall-clock is ONE distributed round regardless of vocabulary
    * size; a 32k-merge production vocabulary pays 32k in-memory
    * rescans of a type table, not 32k Spark scheduler round-trips.
    * At 100 TB the type table is a few million rows (~100 MB) — the
    * same collect class as the k-means codebook; if it ever cannot
    * collect, [[bpeTrainBatches]] is the distributed fallback.
    * Ordering parity: ties break by (count DESC, lhs, rhs) under
    * code-point comparison ([[utf8Lt]]), matching Spark's UTF8String
    * and DuckDB's binary collation exactly.
    */
  private[graft] def trainBpeInMemory(types: Seq[(String, Long)],
                                      nMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable.ArrayBuffer
    val words: Array[ArrayBuffer[String]] = types.iterator.map { case (w, _) =>
      val buf = new ArrayBuffer[String](w.length)
      w.codePoints().forEach(cp => buf += new String(Character.toChars(cp)))
      buf
    }.toArray
    val freqs: Array[Long] = types.iterator.map(_._2).toArray
    val out = ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < words.length) {
        val arr = words(i)
        var j = 0
        while (j < arr.length - 1) {
          val k = (arr(j), arr(j + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + freqs(i))
          j += 1
        }
        i += 1
      }
      if (cnt.isEmpty) exhausted = true
      else {
        var bk: (String, String) = null
        var bv = 0L
        cnt.foreach { case (k, v) =>
          if (bk == null || v > bv || (v == bv &&
            (utf8Lt(k._1, bk._1) || (k._1 == bk._1 && utf8Lt(k._2, bk._2)))))
            { bk = k; bv = v }
        }
        out += ((r, bk._1, bk._2, bv))
        val (a, b) = bk
        i = 0
        while (i < words.length) {
          val arr = words(i)
          if (arr.length >= 2) {
            val nb = new ArrayBuffer[String](arr.length)
            var j = 0
            while (j < arr.length) {
              if (j < arr.length - 1 && arr(j) == a && arr(j + 1) == b) {
                nb += a + b; j += 2
              } else { nb += arr(j); j += 1 }
            }
            words(i) = nb
          }
          i += 1
        }
        r += 1
      }
    }
    out.toSeq
  }

  /** BPE vocabulary induction: one distributed word-type collapse,
    * then [[trainBpeInMemory]]'s exact greedy loop — sequential-
    * equivalent merge list `(merge_rank, lhs, rhs, pair_count)` at
    * O(1) distributed rounds. Type tables above `collectMax`
    * ([[TypeTableCollectMax]]; one count() scan decides) route to the
    * spec-pinned-identical distributed [[bpeTrainBatches]] loop
    * instead of collecting — the driver-OOM guard for junk-heavy
    * crawls whose type table outgrows the codebook contract.
    */
  def bpeTrainMerges(docs: DataFrame, nMerges: Int,
                     collectMax: Long = TypeTableCollectMax): Seq[(Int, String, String, Long)] =
    // trained-artifact memo (the Similarity quantizer/codebook
    // discipline, r17): six bpe_* gates train the identical merge list
    // per bench pass; hits are counted in the shared memoHitCounter so
    // BENCH's per-query memo flags stay accurate, and the bench clears
    // the memo at each pass boundary as for every trained artifact
    Similarity.memoized(docs, s"bpemerges:$nMerges:$collectMax") {
    require(nMerges >= 1, s"bpeTrain: nMerges must be >= 1, got $nMerges")
    val typesDf = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    if (typesDf.count() > collectMax)
      bpeTrainBatches(docs, nMerges).flatten.zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
    else {
      val types = typesDf.collect()
        .map(r => (r.getAs[String]("w"), r.getAs[Long]("freq"))).toSeq
      trainBpeInMemory(types, nMerges)
    }
  }

  /** The r15 merge-per-round trainer, kept as the SPEC REFERENCE for
    * [[bpeTrainBatches]]' byte-identity claim (one distributed job +
    * one 1-row collect per merge — the shape the batched loop
    * retires).
    */
  private[graft] def bpeTrainMergesSeq(docs: DataFrame,
                                       nMerges: Int): Seq[(Int, String, String, Long)] = {
    require(nMerges >= 1, s"bpeTrain: nMerges must be >= 1, got $nMerges")
    var wf = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val best = wf
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), p ->
            |  struct(element_at(syms, p) AS a, element_at(syms, p + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val a = best.head.getAs[String]("a")
        val b = best.head.getAs[String]("b")
        out += ((r, a, b, best.head.getAs[Long]("cnt")))
        wf = wf.select(col("freq"), mergePairCol(col("syms"), a, b).as("syms"))
          .localCheckpoint()
        r += 1
      }
    }
    out.toSeq
  }

  /** [[bpeTrainMerges]] as the gate-facing frame. */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainMerges(docs, nMerges)
      .map { case (r, a, b, c) => (r.toLong, a, b, a + b, c) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Tokenize a corpus with a LEARNED merge list: per document, split
    * on spaces and run [[graft.functions.BpeApply]] on each word —
    * tokenizer-real token counts (vs [[tokenCount]]'s whitespace /
    * regex proxies) plus an md5 fingerprint of the space-joined token
    * stream, so the gate verifies token CONTENT and order, not just
    * counts.
    *
    * Scale plan: a ZERO-exchange map-side projection — the merge
    * list rides as one string literal in a constant-size plan, each
    * word encodes in O(len · nMerges) inside the scan, and nothing
    * shuffles. (For heavy merge lists over skewed vocabularies a
    * distinct-word dictionary join would trade the recompute for a
    * shuffle; the map-side shape is the right default.)
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    // SQL-literal-escape the encoded list: corpus symbols may contain
    // quotes/backslashes even though the delimiters are control chars
    val enc = graft.functions.BpeApply.encode(merges)
      .replace("\\", "\\\\").replace("'", "\\'")
    docs
      .select(col("doc_id"), expr(
        s"flatten(transform(split(text, ' '), w -> graft_bpe_apply(w, '$enc')))")
        .as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(array_join(col("toks"), " ")).as("fp"))
  }

  /** Tokenizer-REAL vocabulary utilization: the top-k tokens of the
    * corpus AFTER encoding under the learned BPE merge list, with
    * exact counts — the "is my vocabulary well-used" report a
    * tokenizer owner reads after training ([[topTokens]] counts
    * whitespace words; this counts what the model actually sees:
    * merged subwords, split rare words). A merge that never fires at
    * encode time simply never appears.
    *
    * Scale plan: the corpus collapses to DISTINCT-word counts first
    * (vocabulary volume), so the per-word BPE replay runs once per
    * TYPE, never per occurrence; token counts are Σ word_count ×
    * within-word multiplicity via one map-side explode of the
    * vocab-sized frame; rank is TakeOrdered.
    */
  /** Tokenizer FERTILITY by language: BPE tokens per whitespace word
    * and characters per token under the learned merge list — THE
    * tokenizer-equity metric of the multilingual-tokenizer literature
    * (Rust et al. 2021 "How Good is Your Tokenizer?"): a language the
    * vocabulary under-serves fragments into more tokens per word, so
    * its speakers pay more compute and context per sentence; a
    * mixture owner reads this table before fixing per-language token
    * budgets (fertility-blind budgets under-sample high-fertility
    * languages in CONTENT even when fair in tokens).
    *
    * Scale plan: the [[bpeTokenFreq]] discipline — the corpus
    * collapses to per-(lang, word) TYPE counts first, the BPE replay
    * runs once per type (never per occurrence), and the final frame
    * is |langs|-sized via one map-side-combined aggregate.
    */
  def bpeFertility(docs: DataFrame, nMerges: Int): DataFrame = {
    val merges = bpeTrainMerges(docs, nMerges).map(m => (m._2, m._3))
    val enc = graft.functions.BpeApply.encode(merges)
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .select(col("lang"), col("c"),
        length(col("w")).cast("long").as("chars"),
        size(expr(s"graft_bpe_apply(w, '$enc')")).cast("long").as("subtoks"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("subtoks")).as("n_tokens"),
        sum(col("c") * col("chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        r3(col("n_tokens") / col("n_words")).as("fertility"),
        r3(col("n_chars") / col("n_tokens")).as("chars_per_token"))
  }

  def bpeTokenFreq(docs: DataFrame, nMerges: Int, k: Int): DataFrame = {
    val merges = bpeTrainMerges(docs, nMerges).map(m => (m._2, m._3))
    val enc = graft.functions.BpeApply.encode(merges)
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("c"), explode(expr(s"graft_bpe_apply(w, '$enc')")).as("token"))
      .groupBy(col("token")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))).cast("long"))
  }

  /** Distinct words × corpus frequency — the unigram-LM trainer's only
    * corpus-volume pass (the [[bpeTrainMerges]] collapse, but keeping
    * single-char words: unigram-LM segments them too).
    */
  private def ulmWords(docs: DataFrame, maxWordLen: Int): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1 && length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Smoothed, quantized piece log-probs from raw counts: lnp =
    * r3d(ln((c+1) / Σ(c+1)), 1e6) — add-one so a kept-alphabet char with
    * zero Viterbi count stays finite, one uniform formula for the
    * seed and every EM round (and for the oracle's CTEs).
    */
  private def ulmLnp(counts: Seq[(String, Long)]): Seq[(String, Long, Double)] = {
    val tt = counts.map(_._2 + 1L).sum.toDouble
    counts.map { case (p, c) => (p, c, r3d(math.log((c + 1L).toDouble / tt), 1e6)) }
  }

  /** Unigram-LM (SentencePiece) tokenizer training, Kudo 2018 — the
    * other half of the tokenizer-real story beside [[bpeTrainMerges]]:
    * seed a piece vocabulary from frequent substrings, then hard-EM
    * (Viterbi-EM) rounds — E-step segments every word type under the
    * current piece log-probs ([[graft.functions.UlmViterbi]], the
    * exact DP the DuckDB oracle unrolls as chained position CTEs),
    * M-step recounts pieces from the Viterbi segmentations and prunes
    * multi-char pieces the corpus stopped using (the distributed
    * stand-in for the paper's likelihood-loss prune; the seed alphabet
    * is always kept so segmentation stays total). Returns the final
    * vocabulary `(piece, viterbiCount, lnp)`.
    *
    * Scale plan (the [[bpeTrainMerges]] discipline): the corpus
    * collapses ONCE to distinct words × freq; the seed pass explodes
    * substrings of the WORD-VOCABULARY (≤ types·len·maxPieceLen rows,
    * never corpus volume) and collects only the top-nSeed multi-char
    * pieces (limit-bounded) plus the alphabet (charset-sized); each
    * EM round is one vocabulary-sized map-side Viterbi explode +
    * map-side-combined count and a vocab-sized collect (the kmeans
    * codebook contract) — per-round state is O(|vocab|), rounds are
    * a small constant, nothing corpus-sized ever reaches the driver.
    *
    * Words longer than `maxWordLen` are excluded from training (the
    * oracle's DP chain is position-bounded; SentencePiece likewise
    * caps trainable sentence pieces) — the gate corpus' longest word
    * is 8, the default cap 12.
    */
  /** The PRUNE SCHEDULE toward a target vocabulary: step r's
    * multi-char piece target is max(targetVocab, ceil(nSeed·shrinkʳ)),
    * ending at the first r whose raw geometric value reaches the
    * target — Kudo 2018 §3.2's "remove the worst pieces, shrinking by
    * a fixed factor, until |V| ≤ target" made deterministic. Public
    * because [[graft.OracleSql]] must unroll the IDENTICAL literals —
    * one formula, both engines.
    */
  def ulmPruneSchedule(nSeed: Int, targetVocab: Int, shrink: Double): Seq[Int] = {
    require(targetVocab >= 1,
      s"ulmTrain: targetVocab must be >= 1, got $targetVocab")
    require(shrink > 0.0 && shrink < 1.0,
      s"ulmTrain: shrink must be in (0, 1), got $shrink")
    val steps = scala.collection.mutable.ArrayBuffer.empty[Int]
    var r = 1
    var raw = math.ceil(nSeed * shrink).toInt
    while (raw > targetVocab && steps.size < 64) {
      steps += raw
      r += 1
      raw = math.ceil(nSeed * math.pow(shrink, r)).toInt
    }
    steps += targetVocab
    steps.toSeq
  }

  def ulmTrainVocab(docs: DataFrame, nSeed: Int, rounds: Int,
                    maxPieceLen: Int = 4, maxWordLen: Int = 12,
                    targetVocab: Int = 0,
                    shrink: Double = 0.75): Seq[(String, Long, Double)] =
    // trained-artifact memo — the bpeTrainMerges discipline: five ulm_*
    // gates train the identical (40, 2) vocabulary per bench pass
    Similarity.memoized(docs,
        s"ulmvocab:$nSeed:$rounds:$maxPieceLen:$maxWordLen:$targetVocab:$shrink") {
    require(nSeed >= 1, s"ulmTrain: nSeed must be >= 1, got $nSeed")
    require(rounds >= 1, s"ulmTrain: rounds must be >= 1, got $rounds")
    require(maxPieceLen >= 2, s"ulmTrain: maxPieceLen must be >= 2, got $maxPieceLen")
    graft.functions.VectorExprs.register(docs.sparkSession)
    val words = ulmWords(docs, maxWordLen).localCheckpoint()
    // seed counts: every substring of length 1..maxPieceLen of every
    // word type, corpus-weighted (overlapping occurrences all count)
    val subs = words.select(col("freq"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)), i ->
         |  transform(sequence(i, least(i + ${maxPieceLen - 1}, length(w))), j ->
         |    substring(w, i, j - i + 1))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("c"))
    val seedMulti = subs.where(length(col("piece")) >= 2)
      .orderBy(col("c").desc, col("piece")).limit(nSeed)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val seedChars = subs.where(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val alphabet = seedChars.map(_._1).toSet
    var vocab: Seq[(String, Long, Double)] =
      ulmLnp((seedMulti ++ seedChars).toSeq.sortBy(_._1))
    def emRound(): Unit = {
      val enc = graft.functions.UlmViterbi.encode(vocab.map(v => (v._1, v._3)))
        .replace("\\", "\\\\").replace("'", "\\'")
      val cnt = words
        .select(col("freq"), explode(expr(s"graft_ulm_viterbi(w, '$enc')")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      vocab = ulmLnp(vocab
        .map { case (p, _, _) => (p, cnt.getOrElse(p, 0L)) }
        .filter { case (p, c) => c > 0 || alphabet(p) })
    }
    for (_ <- 1 to rounds) emRound()
    // PRUNE-TO-TARGET schedule (Kudo 2018 §3.2 — the knob a tokenizer
    // team actually sets): each step keeps the alphabet plus the top
    // `target_r` multi-char pieces by likelihood CONTRIBUTION
    // c·(−lnp), quantized at 1e-6 before ranking (cross-engine FP
    // discipline; the paper scores the likelihood LOSS of removal via
    // the full EM lattice — the contribution proxy drops the same
    // rarely-used, low-probability pieces first and is deterministic
    // and engine-mirrorable), re-smooths, then runs one EM round so
    // the survivors' probabilities re-equilibrate before the next cut.
    if (targetVocab > 0) {
      for (tgt <- ulmPruneSchedule(nSeed, targetVocab, shrink)) {
        val chars = vocab.filter(_._1.length == 1)
        val kept = vocab.filter(_._1.length >= 2)
          .sortBy { case (p, c, lnp) => (-r3d(c * -lnp, 1e6), p) }
          .take(tgt)
        vocab = ulmLnp((kept ++ chars).map(v => (v._1, v._2)).sortBy(_._1))
        emRound()
      }
    }
    vocab
  }

  /** [[ulmTrainVocab]] as the gate-facing frame: the shipped
    * vocabulary with each piece's final Viterbi count and smoothed
    * log-prob.
    */
  def ulmTrain(docs: DataFrame, nSeed: Int, rounds: Int,
               targetVocab: Int = 0, shrink: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    ulmTrainVocab(docs, nSeed, rounds, targetVocab = targetVocab, shrink = shrink)
      .map { case (p, c, lnp) => (p, p.length.toLong, c, lnp) }
      .toDF("piece", "piece_len", "n", "lnp")
  }

  /** Tokenize a corpus with a TRAINED unigram-LM vocabulary: per
    * document, Viterbi-segment each word under the piece log-probs —
    * the [[bpeEncode]] contract (token count + md5 of the space-joined
    * piece stream) for the SentencePiece side of the tokenizer family.
    *
    * Scale plan: ZERO-exchange map-side projection — the vocabulary
    * rides as one string literal in a constant-size plan, each word
    * segments in O(len · maxPieceLen) hash probes inside the scan.
    */
  def ulmEncode(docs: DataFrame, vocab: Seq[(String, Double)]): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val enc = graft.functions.UlmViterbi.encode(vocab)
      .replace("\\", "\\\\").replace("'", "\\'")
    docs
      .select(col("doc_id"), expr(
        s"""flatten(transform(filter(split(text, ' '), x -> length(x) > 0),
           |  w -> graft_ulm_viterbi(w, '$enc')))""".stripMargin).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(array_join(col("toks"), " ")).as("fp"))
  }

  /** Tokenizer fertility by language under the TRAINED unigram-LM
    * vocabulary — [[bpeFertility]]'s equity table for the
    * SentencePiece side, and the direct BPE-vs-ULM parity report a
    * tokenizer owner reads when choosing the family (Rust et al. 2021
    * compare exactly these two): tokens per whitespace word and chars
    * per token, per language.
    *
    * Scale plan: the [[bpeFertility]] discipline — corpus collapses to
    * per-(lang, word) TYPE counts, the Viterbi DP runs once per type
    * (never per occurrence), final frame |langs|-sized
    * map-side-combined.
    */
  def ulmFertility(docs: DataFrame, nSeed: Int, rounds: Int,
                   targetVocab: Int = 0, shrink: Double = 0.75): DataFrame = {
    val vocab = ulmTrainVocab(docs, nSeed, rounds,
      targetVocab = targetVocab, shrink = shrink).map(v => (v._1, v._3))
    val enc = graft.functions.UlmViterbi.encode(vocab)
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .select(col("lang"), col("c"),
        length(col("w")).cast("long").as("chars"),
        size(expr(s"graft_ulm_viterbi(w, '$enc')")).cast("long").as("subtoks"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("subtoks")).as("n_tokens"),
        sum(col("c") * col("chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        r3(col("n_tokens") / col("n_words")).as("fertility"),
        r3(col("n_chars") / col("n_tokens")).as("chars_per_token"))
  }

  /** Vocabulary utilization under the TRAINED unigram-LM vocabulary —
    * [[bpeTokenFreq]]'s report for the SentencePiece family: top-k
    * pieces of the corpus AFTER Viterbi segmentation, exact counts (a
    * seeded piece the EM kept but the corpus never selects simply
    * never appears — dead vocabulary shows here first). Per-TYPE
    * replay, TakeOrdered rank — the 58c discipline.
    */
  def ulmTokenFreq(docs: DataFrame, nSeed: Int, rounds: Int,
                   k: Int): DataFrame = {
    val vocab = ulmTrainVocab(docs, nSeed, rounds).map(v => (v._1, v._3))
    val enc = graft.functions.UlmViterbi.encode(vocab)
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("c"), explode(expr(s"graft_ulm_viterbi(w, '$enc')")).as("token"))
      .groupBy(col("token")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))).cast("long"))
  }

  /** WordPiece initial symbol state of a word: `[c1, ##c2, ##c3, …]` —
    * the word-boundary marking that distinguishes WordPiece from plain
    * BPE (Schuster & Nakajima 2012; the BERT convention). Invariant
    * the merge rule preserves: position-1 symbols are bare, every
    * later symbol is `##`-prefixed — so a merge pair's RIGHT half is
    * always `##`-prefixed and the merged symbol keeps the LEFT half's
    * marking.
    */
  private val WpInitSyms =
    """transform(sequence(1, length(w)), i ->
      |  IF(i = 1, substring(w, i, 1), concat('##', substring(w, i, 1))))"""
      .stripMargin

  /** WordPiece vocabulary induction — the THIRD tokenizer family
    * beside [[bpeTrainMerges]] (frequency argmax) and [[ulmTrainVocab]]
    * (EM over piece probabilities): the BPE merge loop with the
    * LIKELIHOOD score argmax — each round merges the pair maximizing
    * score(a,b) = count(ab) / (count(a)·count(b)) (the unigram-LM
    * likelihood gain of the merge, Schuster & Nakajima 2012 §III) over
    * `##`-marked symbols, quantized at 1e-6 in LOG space before
    * ranking (ln cnt − ln c_a − ln c_b — the ratio underflows 1e-6 at
    * corpus scale, its log never does; ties on raw count DESC then
    * (lhs, rhs) ASC — the cross-engine FP discipline). Returns
    * `(merge_rank, lhs, rhs, pair_count, lscore)`.
    *
    * Scale plan (the [[bpeTrainMerges]] discipline): corpus collapses
    * ONCE to distinct words × freq; each round is one vocab-sized pair
    * explode + aggregate, one vocab-sized symbol-count aggregate, two
    * broadcast-joined score lookups, a 1-row TakeOrdered argmax (the
    * only driver materialization) and a map-side merge fold,
    * localCheckpointed so lineage stays flat.
    */
  /** The exact WordPiece likelihood merge loop over the COLLECTED
    * word-type table — [[trainBpeInMemory]]'s architecture with the
    * Schuster & Nakajima score: per round, symbol counts and pair
    * counts over the in-memory type table, argmax by quantized
    * ln cnt − ln c_a − ln c_b (ties cnt DESC, then code-point order),
    * greedy non-overlapping merge. The score arithmetic is the same
    * java.lang.Math.log / floor(x·1e6 + 0.5001) the distributed
    * trainer's Catalyst expressions evaluate, so the lists are
    * byte-identical (spec-pinned). WordPiece batches measure 1.0 on
    * natural text (high scores concentrate on rare-symbol pairs whose
    * risen-score ceiling binds immediately), so the collected loop is
    * not an optimization here — it is the only shape whose wall-clock
    * does not scale with the merge count.
    */
  private[graft] def trainWpInMemory(types: Seq[(String, Long)],
                                     nMerges: Int): Seq[(Int, String, String, Long, Double)] = {
    import scala.collection.mutable.ArrayBuffer
    val words: Array[ArrayBuffer[String]] = types.iterator.map { case (w, _) =>
      val buf = new ArrayBuffer[String](w.length)
      var first = true
      w.codePoints().forEach { cp =>
        val c = new String(Character.toChars(cp))
        buf += (if (first) c else "##" + c)
        first = false
      }
      buf
    }.toArray
    val freqs: Array[Long] = types.iterator.map(_._2).toArray
    val out = ArrayBuffer.empty[(Int, String, String, Long, Double)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < words.length) {
        val arr = words(i)
        var j = 0
        while (j < arr.length) {
          symCnt.update(arr(j), symCnt.getOrElse(arr(j), 0L) + freqs(i))
          if (j < arr.length - 1) {
            val k = (arr(j), arr(j + 1))
            cnt.update(k, cnt.getOrElse(k, 0L) + freqs(i))
          }
          j += 1
        }
        i += 1
      }
      if (cnt.isEmpty) exhausted = true
      else {
        var bk: (String, String) = null
        var bv = 0L
        var bs = 0.0
        cnt.foreach { case (k, v) =>
          val s = r3d(math.log(v.toDouble) - math.log(symCnt(k._1).toDouble) -
            math.log(symCnt(k._2).toDouble), 1e6)
          if (bk == null || s > bs || (s == bs && (v > bv || (v == bv &&
            (utf8Lt(k._1, bk._1) || (k._1 == bk._1 && utf8Lt(k._2, bk._2)))))))
            { bk = k; bv = v; bs = s }
        }
        out += ((r, bk._1, bk._2, bv, bs))
        val (a, b) = bk
        val merged = a + b.stripPrefix("##")
        i = 0
        while (i < words.length) {
          val arr = words(i)
          if (arr.length >= 2) {
            val nb = new ArrayBuffer[String](arr.length)
            var j = 0
            while (j < arr.length) {
              if (j < arr.length - 1 && arr(j) == a && arr(j + 1) == b) {
                nb += merged; j += 2
              } else { nb += arr(j); j += 1 }
            }
            words(i) = nb
          }
          i += 1
        }
        r += 1
      }
    }
    out.toSeq
  }

  /** WordPiece vocabulary induction: one distributed word-type
    * collapse, then [[trainWpInMemory]]'s exact likelihood loop —
    * O(1) distributed rounds. Type tables above `collectMax` route
    * to the distributed [[wordpieceTrainBatches]] loop (the
    * [[bpeTrainMerges]] driver-OOM guard, same one-count() decision).
    */
  def wordpieceTrainMerges(docs: DataFrame, nMerges: Int,
                           collectMax: Long = TypeTableCollectMax): Seq[(Int, String, String, Long, Double)] =
    // trained-artifact memo — the bpeTrainMerges discipline
    Similarity.memoized(docs, s"wpmerges:$nMerges:$collectMax") {
    require(nMerges >= 1, s"wordpieceTrain: nMerges must be >= 1, got $nMerges")
    val typesDf = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    if (typesDf.count() > collectMax)
      wordpieceTrainBatches(docs, nMerges).flatten.zipWithIndex
        .map { case ((a, b, n, s), i) => (i + 1, a, b, n, s) }
    else {
      val types = typesDf.collect()
        .map(r => (r.getAs[String]("w"), r.getAs[Long]("freq"))).toSeq
      trainWpInMemory(types, nMerges)
    }
  }

  /** Select one round's BATCH of WordPiece merges — [[selectBpeBatch]]'s
    * stop-at-first-conflict prefix, with the truncation adapted to the
    * LIKELIHOOD ranking: unlike BPE counts (which only fall), an
    * interacting pair's score ln cnt − ln c_a − ln c_b can RISE when a
    * batch merge shrinks its members' symbol counts, so strict count
    * dominance is not enough. Instead the accepted prefix is cut at a
    * provable score ceiling over everything a batch application can
    * produce:
    *
    *   - every surviving pair q that shares a symbol with the batch
    *     scores at most ln cnt(q) − ln cLB(m) per member, where
    *     cLB(s) = max(1, c(s) − Σ_{batch pairs containing s} cnt) is
    *     the post-batch symbol-count lower bound (counts of untouched
    *     symbols cannot move, and refinement 1 of [[selectBpeBatch]]
    *     keeps product strings off live pair members so no pair's
    *     COUNT can rise);
    *   - every NEW pair contains a merged product M_j whose symbol
    *     count is at least ⌈cnt_j / 2⌉ (greedy non-overlapping merging
    *     performs at least half the pair occurrences), and any pair's
    *     score is ≤ −ln(max member count), so new pairs score at most
    *     max_j −ln⌈cnt_j / 2⌉.
    *
    * Accepted = the candidate prefix whose quantized scores strictly
    * exceed that ceiling (+2e-6 slack covering both 1e-6
    * quantizations); fallback = the top pair alone (the exact
    * sequential argmax). The ceiling is computed from the FULL
    * candidate prefix, which majorizes the bound for any accepted
    * subset — so acceptance under it stays sound.
    */
  private[graft] def selectWpBatch(ranked: Seq[(String, String, Long, Double)],
                                   fullStats: Seq[(String, String, Long)],
                                   symCnt: Map[String, Long],
                                   remaining: Int): Seq[(String, String, Long, Double)] = {
    if (ranked.isEmpty || remaining <= 0) return Seq.empty
    val members = fullStats.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    val scan = ranked.take(MergeBatchCap)
    var used = Set.empty[String]
    var t = -1
    var i = 0
    while (i < scan.length && t < 0) {
      val (a, b, _, _) = scan(i)
      val prod = a + b.stripPrefix("##")
      if (used.contains(a) || used.contains(b) || used.contains(prod) ||
        members.contains(prod)) t = i
      else { used = used + a + b + prod; i += 1 }
    }
    val b0 = scan.take(if (t >= 0) t else scan.length).take(remaining)
    if (b0.isEmpty) return ranked.take(1)
    val consumed = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    b0.foreach { case (a, b, cnt, _) => consumed(a) += cnt; consumed(b) += cnt }
    def cLB(s: String): Double = math.max(1L, symCnt(s) - consumed(s)).toDouble
    val touched = b0.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    val inBatch = b0.iterator.map(p => (p._1, p._2)).toSet
    val ubExist = fullStats.iterator
      .filter(q => (touched.contains(q._1) || touched.contains(q._2)) &&
        !inBatch.contains((q._1, q._2)))
      .map(q => math.log(q._3.toDouble) - math.log(cLB(q._1)) - math.log(cLB(q._2)))
      .foldLeft(Double.NegativeInfinity)(math.max)
    val ubNew = b0.iterator.map(p => -math.log(math.ceil(p._3 / 2.0)))
      .foldLeft(Double.NegativeInfinity)(math.max)
    val ub = math.max(ubExist, ubNew) + 2e-6
    val accepted = b0.filter(_._4 > ub)
    if (accepted.isEmpty) ranked.take(1) else accepted
  }

  /** WordPiece vocabulary induction, BATCHED ([[bpeTrainBatches]]'
    * loop with the likelihood argmax and [[selectWpBatch]]'s score-
    * ceiling rule): each ROUND is one vocab-sized pair aggregate with
    * the two broadcast score joins, one symbol-count collect (symbol-
    * vocab-sized — the codebook contract), one full-pair-stats collect
    * for the interaction ceiling (pair-vocab-sized), and ONE combined
    * merge pass — O(rounds) Spark jobs instead of O(merges). Spec-
    * pinned byte-identical to the merge-per-round trainer.
    */
  private[graft] def wordpieceTrainBatches(docs: DataFrame,
                                           nMerges: Int): Seq[Seq[(String, String, Long, Double)]] = {
    require(nMerges >= 1, s"wordpieceTrain: nMerges must be >= 1, got $nMerges")
    var wf = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr(WpInitSyms).as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String, Long, Double)]]
    var done = 0
    var exhausted = false
    while (done < nMerges && !exhausted) {
      val symCnt = wf.select(col("freq"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("c"))
      val statsDf = wf.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), p ->
            |  struct(element_at(syms, p) AS a, element_at(syms, p + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .join(broadcast(symCnt.select(col("s").as("a"), col("c").as("ca"))), Seq("a"))
        .join(broadcast(symCnt.select(col("s").as("b"), col("c").as("cb"))), Seq("b"))
        .select(col("a"), col("b"), col("cnt"),
          r3(log(col("cnt").cast("double")) - log(col("ca").cast("double")) -
            log(col("cb").cast("double")), 1e6).as("lscore"))
        .localCheckpoint(eager = true)
      val ranked = statsDf
        .orderBy(col("lscore").desc, col("cnt").desc, col("a"), col("b"))
        .limit(MergeBatchCap + 1).collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
          r.getAs[Long]("cnt"), r.getAs[Double]("lscore"))).toSeq
      val fullStats = statsDf.select(col("a"), col("b"), col("cnt")).collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("cnt")))
        .toSeq
      val syms = symCnt.collect()
        .map(r => r.getAs[String]("s") -> r.getAs[Long]("c")).toMap
      val batch = selectWpBatch(ranked, fullStats, syms, nMerges - done)
      if (batch.isEmpty) exhausted = true
      else {
        out += batch
        // merged keeps the left half's ## marking; the right half is
        // always ##-prefixed (the WpInitSyms invariant)
        wf = wf.select(col("freq"),
          batch.foldLeft(col("syms")) { case (c, (a, b, _, _)) =>
            val merged = a + b.stripPrefix("##")
            aggregate(c, array().cast("array<string>"), (acc, s) =>
              when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
                .otherwise(concat(acc, array(s)))) }.as("syms"))
          .localCheckpoint()
        done += batch.size
      }
    }
    out.toSeq
  }

  /** The r15 merge-per-round WordPiece trainer — the SPEC REFERENCE
    * for [[wordpieceTrainBatches]]' byte-identity claim.
    */
  private[graft] def wordpieceTrainMergesSeq(docs: DataFrame,
                                             nMerges: Int): Seq[(Int, String, String, Long, Double)] = {
    require(nMerges >= 1, s"wordpieceTrain: nMerges must be >= 1, got $nMerges")
    var wf = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr(WpInitSyms).as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Double)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val symCnt = wf.select(col("freq"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("c"))
      val best = wf.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), p ->
            |  struct(element_at(syms, p) AS a, element_at(syms, p + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .join(broadcast(symCnt.select(col("s").as("a"), col("c").as("ca"))), Seq("a"))
        .join(broadcast(symCnt.select(col("s").as("b"), col("c").as("cb"))), Seq("b"))
        .select(col("a"), col("b"), col("cnt"),
          r3(log(col("cnt").cast("double")) - log(col("ca").cast("double")) -
            log(col("cb").cast("double")), 1e6).as("lscore"))
        .orderBy(col("lscore").desc, col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val a = best.head.getAs[String]("a")
        val b = best.head.getAs[String]("b")
        out += ((r, a, b, best.head.getAs[Long]("cnt"),
          best.head.getAs[Double]("lscore")))
        // merged keeps the left half's ## marking; the right half is
        // always ##-prefixed (the WpInitSyms invariant)
        val merged = a + b.stripPrefix("##")
        wf = wf.select(col("freq"),
          aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
            when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
              .otherwise(concat(acc, array(s)))).as("syms"))
          .localCheckpoint()
        r += 1
      }
    }
    out.toSeq
  }

  /** [[wordpieceTrainMerges]] as the gate-facing frame. */
  def wordpieceTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordpieceTrainMerges(docs, nMerges)
      .map { case (r, a, b, c, s) =>
        (r.toLong, a, b, a + b.stripPrefix("##"), c, s) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count", "lscore")
  }

  /** The ENCODING vocabulary a WordPiece trainer ships: the initial
    * alphabet (bare first chars + `##`-marked continuations — charset-
    * sized) plus every merge product, deduplicated (two merge paths
    * can produce the same string) and sorted. This is what
    * [[wordpieceEncode]] greedy-matches against — NOT the merge list:
    * WordPiece encoding replays the vocabulary, not the merges.
    */
  def wordpieceVocab(docs: DataFrame, nMerges: Int): Seq[String] = {
    val alphabet = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .select(explode(expr(WpInitSyms)).as("s")).distinct()
      .collect().map(_.getString(0))
    (alphabet ++ wordpieceTrainMerges(docs, nMerges)
      .map { case (_, a, b, _, _) => a + b.stripPrefix("##") })
      .distinct.sorted
  }

  /** Tokenize a corpus with a TRAINED WordPiece vocabulary: per word,
    * greedy longest-match-first via [[graft.functions.WordPieceApply]]
    * (start pieces at position 1, `##` continuations after; no match
    * or over-length word → `[UNK]`) — the [[bpeEncode]] contract
    * (token count + md5 content fingerprint) for the BERT side of the
    * tokenizer family.
    *
    * Scale plan: ZERO-exchange map-side projection — the vocabulary
    * rides as one string literal, each word encodes in
    * O(len · maxPieceLen) hash probes inside the scan.
    */
  def wordpieceEncode(docs: DataFrame, vocab: Seq[String],
                      maxInputChars: Int = 12): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val enc = graft.functions.WordPieceApply.encode(vocab)
      .replace("\\", "\\\\").replace("'", "\\'")
    docs
      .select(col("doc_id"), expr(
        s"""flatten(transform(filter(split(text, ' '), x -> length(x) > 0),
           |  w -> graft_wordpiece_apply(w, '$enc', $maxInputChars)))""".stripMargin)
        .as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(array_join(col("toks"), " ")).as("fp"))
  }

  /** Tokenizer fertility by language under the trained WordPiece
    * vocabulary — the third column of the family-equity comparison
    * ([[bpeFertility]] / [[ulmFertility]] / this): tokens per
    * whitespace word and chars per token, per language; an `[UNK]`
    * word costs 1 token (information destroyed, not compressed — the
    * honest accounting).
    *
    * Scale plan: the [[bpeFertility]] discipline — per-(lang, word)
    * TYPE counts, greedy match once per type, |langs|-sized result.
    */
  def wordpieceFertility(docs: DataFrame, nMerges: Int,
                         maxInputChars: Int = 12): DataFrame = {
    val vocab = wordpieceVocab(docs, nMerges)
    val enc = graft.functions.WordPieceApply.encode(vocab)
      .replace("\\", "\\\\").replace("'", "\\'")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .select(col("lang"), col("c"),
        length(col("w")).cast("long").as("chars"),
        size(expr(s"graft_wordpiece_apply(w, '$enc', $maxInputChars)"))
          .cast("long").as("subtoks"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("subtoks")).as("n_tokens"),
        sum(col("c") * col("chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        r3(col("n_tokens") / col("n_words")).as("fertility"),
        r3(col("n_chars") / col("n_tokens")).as("chars_per_token"))
  }

  /** Overlapping token-window chunking — the RAG/embedding prep pass
    * (LangChain/LlamaIndex-style fixed-size splitter): chunk i covers
    * tokens [i·stride, i·stride + size), i = 0.. while i·stride < n,
    * so consecutive chunks overlap by size − stride tokens and the
    * final (possibly short) tail is kept. Output: one row per chunk
    * with its token count and an md5 fingerprint of the space-joined
    * window — enough for a downstream embedder join and for the gate
    * to verify CONTENT, not just counts (an off-by-one in the window
    * start passes every count check and fails the fingerprint).
    *
    * Scale plan: pure map-side — one split per row, a bounded
    * sequence explode (⌈n/stride⌉ per doc), `slice` on the shared
    * token array; no shuffle anywhere, partitions perfectly.
    */
  def chunkDocs(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"chunkDocs: need 0 < stride <= size, got size=$chunkSize stride=$stride")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, cast((size(toks) - 1) / $stride as int))")).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_id"),
        expr(s"slice(toks, ci * $stride + 1, $chunkSize)").as("ch"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ch")).cast("long").as("n_tokens"),
        md5(array_join(col("ch"), " ")).as("fp"))
  }

  /** TEMPERATURE-scaled mixture (Conneau & Lample 2019's multilingual
    * sampling): per-source weights derived from the OBSERVED token
    * mass, w_s ∝ n_s^(1/T) — T = 1 reproduces natural proportions,
    * T → ∞ approaches uniform, the standard up-weighting of tail
    * sources (low-resource languages, rare domains) before a training
    * run — then the [[sampleMixture]] fill at those weights. Weights
    * are r3-rounded before budgeting so both engines floor the same
    * number; the exponent 1/T is computed ONCE in Scala and shared
    * with the oracle as a literal.
    *
    * Scale plan: one extra |sources|-row aggregate + collect (the
    * config-sized materialization contract) on top of
    * [[mixtureFromCounts]]'s one-shuffle fill; the counts frame is
    * checkpointed so the body pass runs once.
    */
  def sampleTemperature(docs: DataFrame, temperature: Double, totalBudget: Long,
                        shardCol: String = "source",
                        seed: String = "mixture"): DataFrame = {
    require(temperature > 0,
      s"sampleTemperature: temperature must be positive, got $temperature")
    val invT = 1.0 / temperature
    val counts = tokenCounts(docs, shardCol).localCheckpoint()
    val totals = counts.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("nt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val raw = totals.map { case (s, n) => s -> math.pow(n.toDouble, invT) }
    val z = raw.map(_._2).sum
    val weights = raw.map { case (s, w) =>
      s -> r3d(w / z)
    }.toMap
    mixtureFromCounts(counts, weights, totalBudget, seed)
  }

  /** TRENDING tokens between two corpus snapshots (old = even doc_id,
    * new = odd — the deterministic stand-in for crawl generations):
    * per token the smoothed log frequency-ratio
    * ln[((c_new+1)/(t_new+1)) / ((c_old+1)/(t_old+1))], top-k rising
    * — the corpus-drift diagnostic a data-freshness audit reads
    * before retraining (new entities surface here long before they
    * move aggregate stats). Add-one smoothing keeps tokens absent
    * from one snapshot finite and ranked.
    *
    * Scale plan: one map-side-combined token count (vocab-sized, both
    * snapshot counts in one conditional aggregate — a single corpus
    * pass), totals re-aggregated from the vocab frame (never a second
    * token pass) riding back as a 1-row broadcast; the rank is
    * TakeOrdered over the vocab frame, never a global sort.
    */
  def tokenTrending(docs: DataFrame, k: Int): DataFrame = {
    val counts = docs
      .select(pmod(col("doc_id"), lit(2L)).cast("int").as("grp"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("c_old"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c_new"))
    val tot = counts.agg(sum(col("c_old")).as("t_old"), sum(col("c_new")).as("t_new"))
    counts.crossJoin(broadcast(tot))
      .select(col("token"), col("c_old"), col("c_new"),
        r3(log(((col("c_new") + 1.0) / (col("t_new") + 1.0)) /
          ((col("c_old") + 1.0) / (col("t_old") + 1.0)))).as("score"))
      .orderBy(col("score").desc, col("token"))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("token"))).cast("long"))
  }

  /** Cross-document boilerplate signal (the CCNet/RefinedWeb dedup-
    * before-train preprocessing family, Wenzek et al. 2020): an
    * n-gram POSITION is boilerplate when its gram appears in ≥
    * `minDf` DISTINCT documents — headers, navigation chrome, license
    * blurbs and mirrored spans all light up, while document-unique
    * prose stays dark. Emits one row per doc with ≥ n tokens:
    * `(doc_id, ngrams, bp_hits, bp_ratio)`; a curation run drops or
    * down-weights high-ratio docs, complementary to the WITHIN-doc
    * [[repetition]] signal and the pairwise [[dupSpanRatio]] — this
    * one needs no candidate pairs, so it catches 1000-way mirrored
    * chrome that pairwise dedup meets only O(pairs) at a time.
    *
    * Scale plan: grams are generated MAP-SIDE from each doc's token
    * array (the [[chunkDocs]] slice pattern — no self-join). Two
    * gram-keyed exchanges, both map-side combined: the per-doc
    * DISTINCT + document-frequency count (gram-vocabulary-sized,
    * Zipf-truncated), and the per-doc hit count (≤ one row per doc).
    * The frequent set itself is the Zipf HEAD (df ≥ minDf) — small,
    * broadcast back over a second scan, so the corpus-volume gram
    * stream is probed map-side and never shuffles raw. At 100 TB the
    * df table is the only heavy shuffle; hash grams to 64-bit first
    * if vocabulary width ever dominates (semantics unchanged modulo
    * md5 collisions).
    */
  def boilerplate(docs: DataFrame, n: Int, minDf: Int): DataFrame = {
    require(n >= 1 && minDf >= 2,
      s"boilerplate: need n >= 1 and minDf >= 2, got n=$n minDf=$minDf")
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= n)
    def grams(d: DataFrame) = d.select(col("doc_id"), explode(expr(
      s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))"))
      .as("gram"))
    val frequent = broadcast(
      grams(toks).select(col("doc_id"), col("gram")).distinct()
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .where(col("df") >= minDf).select("gram"))
    val hits = grams(toks).join(frequent, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("bp_hits"))
    toks.select(col("doc_id"),
        (size(col("toks")) - (n - 1)).cast("long").as("ngrams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ngrams"),
        coalesce(col("bp_hits"), lit(0L)).as("bp_hits"),
        r3(coalesce(col("bp_hits"), lit(0L)) / col("ngrams")).as("bp_ratio"))
  }
}
