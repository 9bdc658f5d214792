package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Eval, Similarity, TextOps, TimeSeries}

/** Exchange censuses for the fifth-block operators: each test executes
  * the real plan (AQE off → statically inspectable) and counts the
  * shuffles, pinning the scale claim each operator's docstring makes.
  * A regression that introduces an extra shuffle — a lost exchange
  * reuse, a predicate that stops pushing, an accidental repartition —
  * fails here before it costs anything at scale.
  */
class PlanCensusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  val dir = "/root/testdata/sf0.001"

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
    } finally prev.foreach(conf.set("spark.sql.adaptive.enabled", _))
  }

  test("ts_ohlc is ONE map-side-combined shuffle (endpoints ride the struct aggregate)") {
    val df = graft.operators.Relational.ohlcBars(Tables.events(spark, dir))
    // exactly ONE: the (user, day) aggregate; endpoints need no window
    assert(shuffles(df).size === 1)
  }

  test("attribution_linear: the purchase-touch join + the per-purchase window + the channel agg") {
    val df = graft.operators.Relational.attributionLinear(Tables.events(spark, dir), 86400000000L)
    // the user-key join exchange + the per-purchase count window /
    // channel aggregate sharing the second exchange
    assert(shuffles(df).size === 2)
  }

  test("cohort_ltv exchange census") {
    val df = graft.operators.Relational.cohortLtv(Tables.events(spark, dir))
    // distinct weeks, per-user cohort, sizes, cells, the cumulative
    // window - one exchange each, the triangle never re-shuffles raw
    assert(shuffles(df).size === 5)
  }

  test("dedup_substring_exact: gram count + span-merge window, the probe rides a broadcast") {
    val df = graft.operators.Dedup.substringDupSpans(Tables.documents(spark, dir), 8)
    // exactly TWO: the map-side-combined gram count and the doc_id
    // span-merge window; the repeated-set probe rides a broadcast so
    // the corpus-volume window stream never shuffles
    assert(shuffles(df).size === 2)
  }

  test("substring stored probe: the tombstone mask adds ZERO shuffles") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    Dedup.writeSubstringIndex(docs.where(col("doc_id") % 2 === 1), 6,
      "graft_subidx_census", 4)
    // untombstoned: ONE shuffle — the doc_id span-merge window; the
    // gram probe rides a broadcast at census scale (beyond the
    // broadcast threshold it is the bucketed SMJ with one probe-side
    // exchange and still ZERO on the stored scan)
    val plain = shuffles(Dedup.substringSpansAgainstIndex(
      docs.where(col("doc_id") % 2 === 0), "graft_subidx_census")).size
    assert(plain === 1)
    // masked: exactly TWO more, and both are the tombstone-side
    // countDistinct's phases over TOMBSTONE-volume rows
    // (takedown-cadence-bounded) — the gram/probe side itself gains
    // nothing: the net-refcount SUM is bucket-local and the tombstone
    // aggregate joins back as a BROADCAST
    Dedup.deleteFromSubstringIndex(docs.where(col("doc_id") % 4 === 1),
      "graft_subidx_census")
    val masked = shuffles(Dedup.substringSpansAgainstIndex(
      docs.where(col("doc_id") % 2 === 0), "graft_subidx_census")).size
    assert(masked === plain + 2,
      "the takedown mask must only add the tombstone-volume countDistinct phases")
    spark.sql("DROP TABLE IF EXISTS graft_subidx_census_grams")
    spark.sql("DROP TABLE IF EXISTS graft_subidx_census_smeta")
    spark.sql("DROP TABLE IF EXISTS graft_subidx_census_sdocs")
    spark.sql("DROP TABLE IF EXISTS graft_subidx_census_stombstones")
  }

  test("stream_substrdup batch twin: gram probe + doc collapse, windows explode map-side") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    Dedup.writeSubstringIndex(docs.where(col("doc_id") % 2 === 1), 6,
      "graft_subidx_census2", 4)
    val df = graft.streaming.StreamOps.substrDupStreamBatch(
      docs.where(col("doc_id") % 2 === 0)
        .withColumn("ts", timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L)),
      "graft_subidx_census2")
    // exactly ONE: the (doc_id, min ts) collapse — window generation
    // is a pure map and the gram semi-join rides a broadcast at
    // census scale (bucketed SMJ with one probe-side exchange beyond
    // the threshold, still zero on the stored scan)
    assert(shuffles(df).size === 1)
    spark.sql("DROP TABLE IF EXISTS graft_subidx_census2_grams")
    spark.sql("DROP TABLE IF EXISTS graft_subidx_census2_smeta")
  }

  test("decontaminate_spans: benchmark distinct + span-merge window only") {
    val docs = Tables.documents(spark, dir)
    val df = TextOps.decontaminateSpans(docs, docs.where(col("doc_id") % 50 === 0), 4)
    // the benchmark-gram distinct + the span-merge window; the
    // corpus probe is broadcast
    assert(shuffles(df).size === 2)
  }

  test("corpus_diversity exchange census") {
    val df = TextOps.corpusDiversity(Tables.documents(spark, dir))
    // two two-phase distinct aggregates (2 each) + the doc count; the
    // |sources|-sized joins broadcast
    assert(shuffles(df).size === 5)
  }

  test("chunk_documents is a pure map: ZERO shuffles") {
    assert(shuffles(TextOps.chunkDocs(Tables.documents(spark, dir), 64, 48)).isEmpty)
  }

  test("pca_power projection: the corpus-facing side has zero shuffles (one scan + literal dot)") {
    // the covariance aggregate runs (and shuffles) during pcaPower's
    // driver fit; the RETURNED projection frame must be scan → project
    val proj = Similarity.pcaPower(Tables.embeddings(spark, dir), nOut = 10)
    assert(shuffles(proj).isEmpty, "projection must be a zero-exchange map")
  }

  test("target_encode: one stats shuffle, encode side is map-only (broadcast back)") {
    val df = Eval.targetEncode(Tables.events(spark, dir))
    val s = shuffles(df)
    assert(s.size === 1, s"expected only the per-category stats aggregate: ${s.size}")
  }

  test("ts_cusum: mean/sd windows and the collect share ONE key exchange") {
    val df = TimeSeries.cusum(
      TimeSeries.resampleDaily(Tables.events(spark, dir)), 0.25, 3.0)
    // resample groupBy shuffles on (user, day); the window + collect
    // chain shuffles once on user — 2 total, nothing more
    assert(shuffles(df).size === 2)
  }

  test("q17: per-part stats and the threshold join stay broadcast (single agg shuffle at most)") {
    val q = SparkEntry.queries("q17_small_qty")(spark, dir)
    val plan = {
      val conf = spark.conf
      conf.set("spark.sql.adaptive.enabled", "false")
      try { q.write.format("noop").mode("overwrite").save(); q.queryExecution.executedPlan }
      finally conf.set("spark.sql.adaptive.enabled", "true")
    }
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.size >= 2, "brand parts AND per-part stats must broadcast")
    val shuf = plan.collect { case e: ShuffleExchangeExec => e }
    // the stats aggregate shuffles on partkey; the final 1-row agg's
    // partials move in a single-partition exchange — nothing else may
    assert(shuf.size <= 2, s"unexpected extra shuffles:\n$plan")
  }

  test("bpe_merge_step: exactly two shuffles — the word collapse and the pair collapse") {
    val df = TextOps.bpePairCounts(Tables.documents(spark, dir), 30)
    // word-frequency groupBy + pair groupBy; the top-k is TakeOrdered
    assert(shuffles(df).size === 2)
  }

  test("ann_hamming: signature side carries no shuffle below the rank (one projection + broadcast)") {
    val df = Similarity.annHammingTopK(Tables.embeddings(spark, dir), 32, 3, 3)
    // the only exchanges belong to the two-phase salted rank windows —
    // the signature computation and scoring never shuffle
    val s = shuffles(df)
    assert(s.size <= 2, s"only the salted-rank exchanges allowed: ${s.size}")
  }

  test("sample_fixed_k: WindowGroupLimit prunes below the stratum exchange") {
    val df = graft.operators.Relational.sampleFixedPerStratum(
      Tables.documents(spark, dir), 5, "panel")
    val conf = spark.conf
    conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan.toString
    } finally conf.set("spark.sql.adaptive.enabled", "true")
    assert(plan.contains("WindowGroupLimit"),
      s"rank pruning must run below the exchange:\n$plan")
  }

  test("bpe_encode is a pure map: ZERO shuffles, merge list as one literal") {
    val df = TextOps.bpeEncode(Tables.documents(spark, dir),
      Seq(("t", "h"), ("th", "e")))
    assert(shuffles(df).isEmpty, "encode must be a zero-exchange projection")
  }

  test("trained rotation projection: zero shuffles (one scan through HouseholderChain)") {
    val us = Array(Array.tabulate(64)(i => if (i < 2) 0.707 else 0.0))
    val df = Similarity.rotateEmbeddingsBy(Tables.embeddings(spark, dir), us)
    assert(shuffles(df).isEmpty, "rotation must be a zero-exchange map")
  }

  test("hll rolling distinct: register collapse partial-aggs map-side; bounded exchanges") {
    val df = graft.operators.Relational.activeUsersRollingApprox(
      Tables.events(spark, dir), 7)
    val s = shuffles(df)
    // daily registers agg + window-merged registers agg + estimator agg
    // on the sketch side; distinct + dau + rolling aggs on the exact
    // side published next to it; the day spine broadcasts. Every one
    // of these exchanges carries register- or day-bounded rows — the
    // census pins that no FURTHER shuffle (e.g. a lost broadcast
    // turning the spine fan-out into a shuffle join) sneaks in.
    assert(s.size <= 8, s"unexpected extra shuffles: ${s.size}")
    val bcasts = {
      df.queryExecution.executedPlan.collect { case b: BroadcastExchangeExec => b }
    }
    assert(bcasts.nonEmpty, "the day spine must broadcast")
  }

  test("ts_vol_ewma: resample + key collapse, exactly TWO exchanges") {
    val df = TimeSeries.volEwma(
      TimeSeries.resampleDaily(Tables.events(spark, dir)), 0.06)
    assert(shuffles(df).size === 2)
  }

  test("revenue_cube: Expand feeds ONE partially-aggregated exchange") {
    val df = graft.operators.Relational.revenueCube(Tables.orders(spark, dir))
    val s = shuffles(df)
    assert(s.size === 1, s"cube must aggregate through one exchange: ${s.size}")
    val expands = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.size === 1, "grouping sets plan via a single Expand")
  }

  test("q11_revenue_share: partkey agg + 1-row scalar agg, threshold joins broadcast") {
    val q = SparkEntry.queries("q11_revenue_share")(spark, dir)
    val plan = {
      val conf = spark.conf
      conf.set("spark.sql.adaptive.enabled", "false")
      try { q.write.format("noop").mode("overwrite").save(); q.queryExecution.executedPlan }
      finally conf.set("spark.sql.adaptive.enabled", "true")
    }
    val shuf = plan.collect { case e: ShuffleExchangeExec => e }
    // per-part aggregate + the single-partition partials of the 1-row
    // total + the gate's output sort; nothing else may shuffle
    assert(shuf.size === 3, s"expected 3 exchanges: ${shuf.size}")
    // the total aggregates the SAME partkey exchange the per-part side
    // built — one lineitem scan, not two (the scale property)
    val reused = plan.collect {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }
    assert(reused.nonEmpty, "the partkey aggregate exchange must be reused")
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.nonEmpty, "the scalar threshold must broadcast")
  }

  test("token_topk_cms: candidate side broadcasts into the sketch; bounded exchanges") {
    val df = TextOps.topTokensCms(Tables.documents(spark, dir), 10)
    val s = shuffles(df)
    // sketch cell aggregate + the exact top-k's own census (count agg,
    // salt window, final 1-partition slice) + the final min-of-cells
    // agg; the candidate join must NOT add a shuffle
    assert(s.size <= 6, s"unexpected extra shuffles: ${s.size}")
    val bcasts = df.queryExecution.executedPlan.collect {
      case b: BroadcastExchangeExec => b
    }
    assert(bcasts.nonEmpty, "candidates must broadcast into the cell join")
  }

  test("composed OPQ-IVFADC adds no exchange over the unrotated composition") {
    val e = Tables.embeddings(spark, dir)
    val plain = shuffles(Similarity.annIvfPqTopKTrained(e, 8, 16, 4, 2, 5, 5)).size
    val rotated = shuffles(
      Similarity.annIvfPqRotatedTrained(e, 8, 16, 4, 2, 5, 5)).size
    assert(rotated === plain,
      s"rotation must ride the same scan: rotated=$rotated plain=$plain")
  }

  test("q19: quantity hull and brand IN reach the scans as pushed filters") {
    val q = SparkEntry.queries("q19_disjunctive")(spark, dir)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val liScan = scans.find(_.schema.fieldNames.contains("l_quantity")).get
    assert(liScan.dataFilters.exists(_.toString.contains("l_quantity")),
      s"quantity hull must push to the lineitem scan: ${liScan.dataFilters}")
    val pScan = scans.find(_.schema.fieldNames.contains("p_brand")).get
    assert(pScan.dataFilters.exists(_.toString.toLowerCase.contains("p_brand")),
      s"brand IN must push to the part scan: ${pScan.dataFilters}")
  }

  test("q21: ONE lineitem scan — the EXISTS/NOT-EXISTS pair never re-scans") {
    val q = SparkEntry.queries("q21_waiting")(spark, dir)
    val liScans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.schema.fieldNames.contains("l_suppkey") => f
    }
    assert(liScans.size === 1,
      s"the collapsed Q21 must read lineitem exactly once: ${liScans.size}")
  }

  test("q20: the correlated subquery collapses to one conditional-agg lineitem scan") {
    val q = SparkEntry.queries("q20_excess")(spark, dir)
    val liScans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.schema.fieldNames.contains("l_quantity") => f
    }
    assert(liScans.size === 1,
      s"both quantity sums must come from one scan: ${liScans.size}")
  }

  test("q2: the per-part min broadcasts back — no shuffle above the cost aggregate") {
    val q = SparkEntry.queries("q2_min_cost")(spark, dir)
    val s = shuffles(q)
    // one exchange for the (part, supplier) cost aggregate, one for the
    // |parts|-sized min (tiny input), one for the final orderBy range —
    // nothing re-shuffles the joined-back cost rows
    assert(s.size <= 3, s"expected cost agg + parts-min + sort only: ${s.size}")
  }

  test("feature_hash: the (user, bucket) sum is the ONLY shuffle — features explode map-side") {
    val s = shuffles(Eval.featureHash(Tables.events(spark, dir), 16))
    assert(s.size === 1, s"expected one map-side-combined sum: ${s.size}")
  }

  test("text_boilerplate: both gram exchanges map-side combine; the frequent set broadcasts back") {
    val df = TextOps.boilerplate(Tables.documents(spark, dir), 3, 5)
    val conf = spark.conf
    conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan
    } finally conf.set("spark.sql.adaptive.enabled", "true")
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.nonEmpty, "the Zipf-head frequent set must broadcast onto the gram stream")
    val shuf = plan.collect { case e: ShuffleExchangeExec => e }
    // per-doc-distinct grams, the df count, the per-doc hit count, and
    // the doc-frame join back — nothing may shuffle the RAW positional
    // gram stream twice
    assert(shuf.size <= 4, s"unexpected extra shuffles: ${shuf.size}")
  }

  test("ab_lift: nothing after the per-user flag scales — 2-row then 1-row aggregates") {
    val s = shuffles(Eval.abLift(Tables.events(spark, dir), "purchase", 14))
    // user-keyed flag agg + the arm agg + the single-row compose
    assert(s.size === 3, s"expected user + arm + scalar exchanges: ${s.size}")
  }

  test("ts_hurst: one key numbering exchange, then w-bounded block aggregates") {
    val s = shuffles(TimeSeries.hurst(
      TimeSeries.resampleDaily(Tables.events(spark, dir)), Seq(4, 8, 16)))
    // resample + row_number + (key,w,blk) agg + (key,w) avg + final
    // pivot agg — all post-explode state is w-bounded arrays
    assert(s.size <= 5, s"unexpected extra shuffles: ${s.size}")
  }

  test("ts_rolling_corr: all five running sums ride the one key exchange (resample + window)") {
    val s = shuffles(TimeSeries.rollingCorr(Tables.events(spark, dir), 7))
    assert(s.size === 2, s"expected resample + window exchanges only: ${s.size}")
  }

  test("ts_scale_robust: both percentile windows share the one key exchange") {
    val s = shuffles(TimeSeries.scaleRobust(
      TimeSeries.resampleDaily(Tables.events(spark, dir))))
    assert(s.size === 2, s"expected resample + window exchanges only: ${s.size}")
  }

  test("embedding_drift: one explode aggregate + the 2-dim-row pivot, nothing corpus-sized after") {
    val s = shuffles(Similarity.embeddingDrift(Tables.embeddings(spark, dir)))
    assert(s.size <= 3, s"unexpected extra shuffles: ${s.size}")
  }

  test("token_trending: vocab-sized aggregates + TakeOrdered, never a global sort of the corpus") {
    val df = TextOps.tokenTrending(Tables.documents(spark, dir), 20)
    val conf = spark.conf
    conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan
    } finally conf.set("spark.sql.adaptive.enabled", "true")
    // the rank is TakeOrdered over the k survivors — a full SortExec
    // over the vocabulary would betray an orderBy planned as a sort
    val takeOrdered = plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }
    assert(takeOrdered.nonEmpty, "top-k must plan as TakeOrderedAndProject")
    assert(shuffles(df).size <= 3)
  }

  test("ann_matryoshka: the shortlist broadcasts back — stage 2 adds no corpus shuffle") {
    val df = Similarity.annMatryoshka(Tables.embeddings(spark, dir), 16, 5, 25, 5)
    val conf = spark.conf
    conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan
    } finally conf.set("spark.sql.adaptive.enabled", "true")
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.size >= 3, "queries (x2) and the shortlist must broadcast")
    val shuf = plan.collect { case e: ShuffleExchangeExec => e }
    // the salted two-phase top-k's two rank exchanges + the rerank's
    // tiny-frame window — no additional corpus-volume exchange
    assert(shuf.size <= 3, s"unexpected extra shuffles: ${shuf.size}")
  }

  test("bm25 stored query: only query-term-sized frames shuffle; the mask adds no exchange, duplicate filings change nothing") {
    val docs = Tables.documents(spark, dir)
    TextOps.writeTextIndex(docs, "graft_bm25idx_census", 4)
    val q = TextOps.bm25AgainstIndex(spark, "graft_bm25idx_census",
      Seq("scan", "merge", "key"), 10)
    val plain = shuffles(q).size
    // the per-term df aggregate is bucket-local (term-bucketed scan —
    // zero exchange); what remains is the 1-row stats aggregate, the
    // query-term-sized doc_id score aggregate, and the salted top-k
    // tail's two rank exchanges — nothing corpus-volume beyond the
    // skinny _dlens stats scan
    assert(plain === 4, s"bm25 stored query: got $plain shuffles")
    // the mask is one broadcast anti-join per scan with no distinct on
    // the tombstone side (an anti-join is duplicate-safe), so it adds
    // no exchange at all — one fewer than the earlier distinct mask
    TextOps.deleteFromTextIndex(docs.where(col("doc_id") % 4 === 1),
      "graft_bm25idx_census")
    def query() = TextOps.bm25AgainstIndex(spark, "graft_bm25idx_census",
      Seq("scan", "merge", "key"), 10)
    val masked = shuffles(query()).size
    assert(masked === plain,
      s"the mask must add no exchange, got $masked vs $plain")
    // filing the same docs again leaves every answer as it was
    def answers() = query().collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val once = answers()
    TextOps.deleteFromTextIndex(docs.where(col("doc_id") % 4 === 1),
      "graft_bm25idx_census")
    assert(spark.table("graft_bm25idx_census_ttombstones").count() >
      spark.table("graft_bm25idx_census_ttombstones").distinct().count())
    assert(answers() === once)
  }

  test("wordpiece_encode is a ZERO-exchange map-side projection") {
    val docs = Tables.documents(spark, dir)
    val vocab = TextOps.wordpieceVocab(docs, 4)
    assert(shuffles(TextOps.wordpieceEncode(docs, vocab)).size === 0)
  }

  test("eval_fairness: one (grp, score) collapse + the grp window; the final agg reuses the partitioning") {
    val df = Eval.fairness(Eval.stopRatioScoredByGroup(Tables.documents(spark, dir)))
    assert(shuffles(df).size === 2)
  }

  test("filtered walk serving tail: candidate-sized joins broadcast; only the qid rank window shuffles") {
    // the plan AFTER the last per-round checkpoint — the shape every
    // query pays at serve time: score (node join + broadcast q +
    // label join) feeding the per-qid rank window. The node and label
    // joins must ride broadcasts of the budget-bounded visited side
    // (a shuffle there would be a corpus-volume exchange at scale);
    // the ONLY ShuffleExchange allowed is the qid window partitioning
    // (+ the r16 bridge adds NOTHING here — bridge joins live inside
    // the checkpointed rounds, on frontier-sized frames)
    val df = Similarity.annGraphSearchFiltered(
      Tables.embeddings(spark, dir), 16, 4, 5, 8, 2, 4, 4)
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    val (shuf, bcast) = try {
      df.write.format("noop").mode("overwrite").save()
      (df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e },
        df.queryExecution.executedPlan.collect { case b: BroadcastExchangeExec => b })
    } finally prev.foreach(conf.set("spark.sql.adaptive.enabled", _))
    assert(shuf.size === 1, s"expected ONLY the qid rank-window exchange, got ${shuf.size}")
    assert(bcast.nonEmpty, "the candidate-sized join sides must broadcast")
  }

  test("multimodal_budget split-merge: the corpus-volume window keys on (modality, bucket); offsets broadcast") {
    val media = graft.sources.Multimodal.ingestMixed(Tables.documents(spark, dir))
    val df = graft.sources.Multimodal.budgetSample(media, 4000L)
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    val (shuf, bcast) = try {
      df.write.format("noop").mode("overwrite").save()
      (df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e },
        df.queryExecution.executedPlan.collect { case b: BroadcastExchangeExec => b })
    } finally prev.foreach(conf.set("spark.sql.adaptive.enabled", _))
    // exactly THREE: the (modality, bucket) byte-sum aggregate, the
    // TINY modality-keyed offset window (≤ |modalities|·256 rows),
    // and the corpus-volume running-sum window on (modality, bucket)
    // — the one that was a 3-partition wall before the split-merge.
    // The offsets must join back as a BROADCAST, never an exchange.
    assert(shuf.size === 3, s"expected 3 exchanges, got ${shuf.size}")
    assert(bcast.nonEmpty, "bucket offsets must broadcast back")
    val corpusWindow = shuf.map(_.outputPartitioning).collect {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
        if h.expressions.size == 2 => h
    }
    assert(corpusWindow.nonEmpty,
      "the running-sum window must partition on the TWO-column (modality, bucket) key")
  }

  test("media index dedup verdicts: ZERO exchanges off the digest-bucketed scan, masked or not") {
    import graft.sources.Multimodal
    val media = Multimodal.ingestMixed(Tables.documents(spark, dir))
    Multimodal.writeMediaIndex(media, "graft_media_census", 4)
    assert(shuffles(Multimodal.mediaDedupAgainstIndex(spark, "graft_media_census"))
      .isEmpty, "both verdict windows must ride the bucketed scan's partitioning")
    Multimodal.deleteFromMediaIndex(media.where(col("media_id") % 10 === 7)
      .select(col("media_id")), "graft_media_census")
    assert(shuffles(Multimodal.mediaDedupAgainstIndex(spark, "graft_media_census"))
      .isEmpty, "the tombstone mask is a broadcast anti-join — zero extra exchanges")
    for (s <- Seq("media", "mmeta", "mtombstones"))
      spark.sql(s"DROP TABLE IF EXISTS graft_media_census_$s")
  }

  test("decontaminate_semantic: benchmark broadcasts; only the compact verdict aggregate shuffles") {
    val df = Similarity.semanticDecontaminate(
      Tables.embeddings(spark, dir), 16, 2, 0.3)
    val shuf = shuffles(df)
    // exactly ONE: the (vec_id, cell) verdict aggregate of scalar
    // rows, partial-agged map-side — cell assignment is a projection
    // on the scan (codebook inside graft_ivf_cell) and the tiny
    // probe-exploded benchmark side joins in as a BROADCAST, so the
    // corpus-volume vector stream never crosses the wire
    assert(shuf.size === 1, s"expected 1 exchange, got ${shuf.size}")
    val bcast = df.queryExecution.executedPlan.collect {
      case b: BroadcastExchangeExec => b }
    assert(bcast.nonEmpty, "the benchmark side must broadcast")
  }
}
