package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Rounding.{r3, r3d}

/** Model-evaluation and feature-engineering operators — the scoring
  * half of a training pipeline (the reference scores its forecasts in
  * src/demo/scoring.py; these are the classifier-side analogues a
  * data-curation pipeline needs: does a quality feature actually
  * discriminate the target?).
  *
  * All designs collapse the event/document volume to a tiny per-score
  * or per-category frame BEFORE any global window, so the only
  * single-partition stages run over at most ~1e3 rows no matter the
  * input size.
  */
object Eval {

  /** Kendall rank correlation between two rankings of the same query
    * batch (tau-a — ranks within a list are distinct, so no tie
    * correction applies), plus the set overlap: per query,
    * `n_common` (items in both top-k lists), `tau` over the common
    * items (NULL below 2 — no pair to compare, the honest
    * undefined), and the Jaccard of the two lists. The ORDER
    * companion to the recall gates: recall says the approximate tier
    * found the right items, tau says it kept them in the right
    * ORDER — a reranker consuming the list cares about exactly the
    * difference.
    *
    * Scale shape: both inputs are query-batch-sized (nQueries·k
    * rows); the pair join is k²-bounded per query and every aggregate
    * is map-side combined — driver-trivial at any corpus scale, the
    * cost lives in the rankers.
    */
  def rankCorr(a: DataFrame, b: DataFrame): DataFrame = {
    val ja = a.select(col("qid"), col("vid"), col("rank").cast("long").as("ra"))
    val jb = b.select(col("qid"), col("vid"), col("rank").cast("long").as("rb"))
    val common = ja.join(jb, Seq("qid", "vid"))
    val pairs = common.as("x").join(common.as("y"),
        col("x.qid") === col("y.qid") && col("x.vid") < col("y.vid"))
      .groupBy(col("x.qid").as("qid"))
      .agg(sum(signum(col("x.ra") - col("y.ra")) *
        signum(col("x.rb") - col("y.rb"))).cast("long").as("s"))
    val counts = common.groupBy(col("qid")).agg(count(lit(1)).as("n_common"))
    val na = ja.groupBy(col("qid")).agg(count(lit(1)).as("n_a"))
    val nb = jb.groupBy(col("qid")).agg(count(lit(1)).as("n_b"))
    na.join(nb, Seq("qid"))
      .join(counts, Seq("qid"), "left")
      .join(pairs, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(coalesce(col("n_common"), lit(0L)) >= 2,
          r3(col("s") / (col("n_common") * (col("n_common") - 1) / lit(2.0))))
          .as("tau"),
        r3(coalesce(col("n_common"), lit(0L)) /
          (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))))
          .as("jaccard"))
  }

  /** NDCG@k of an approximate ranking against an exact one
    * (Järvelin & Kekäläinen 2002) — the GRADED retrieval metric next
    * to the recall gates: recall counts how many of the true top-k
    * were found at all, NDCG also scores WHERE the approx ranking put
    * them (a tier that finds all five answers but bottom-ranks the
    * best one loses NDCG, not recall). Relevance of an approx hit at
    * exact rank e is `k+1−e`; discount is 1/ln(rank+1) (any log base
    * cancels in the DCG/IDCG ratio); IDCG is the closed-form constant
    * Σ(k+1−i)/ln(i+1), computed once driver-side and shared with the
    * oracle as a literal.
    *
    * `exact`/`approx` are any `(qid, vid, rank)` frames (compose with
    * [[Similarity.cosineTopK]] and any ANN tier). One k²-bounded
    * left join per query + a map-side-combined aggregate — cost lives
    * entirely in producing the input rankings.
    */
  def ndcg(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"ndcg: need k >= 1, got $k")
    val idcg = (1 to k).map(i => (k + 1 - i).toDouble / math.log((i + 1).toDouble)).sum
    val ex = exact.select(col("qid"), col("vid"), col("rank").cast("long").as("rank_e"))
    approx.select(col("qid"), col("vid"), col("rank").cast("long").as("rank_a"))
      .join(ex, Seq("qid", "vid"), "left")
      .groupBy(col("qid"))
      .agg(
        count(when(col("rank_e").isNotNull, 1)).as("n_rel"),
        r3(sum(
          when(col("rank_e").isNotNull,
            (lit((k + 1).toLong) - col("rank_e")) / log(col("rank_a") + lit(1)))
            .otherwise(lit(0.0))) / lit(idcg)).as("ndcg"))
  }

  /** Mean-reciprocal-rank inputs per query: the APPROX ranking's
    * first position that lands in the exact top-k (Voorhees 1999's
    * TREC QA metric) — the "how deep must a user scroll" companion
    * to [[ndcg]]'s graded gain. Emits one row per query:
    * `first_rank` (NULL when no approx result is relevant — the
    * honest miss, not a sentinel) and `rr` = 1/first_rank (0 on
    * miss); the corpus MRR is avg(rr), left to the reader so the
    * per-query diagnostic stays in the gate hash.
    *
    * Scale shape: both inputs are query-batch-sized (nQueries·k
    * rows); the join and group are driver-trivial at any corpus
    * scale because the heavy lifting happened inside the rankers.
    */
  def mrr(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ex = exact.select(col("qid"), col("vid"), lit(1).as("rel"))
    approx.select(col("qid"), col("vid"), col("rank").cast("long").as("rank_a"))
      .join(ex, Seq("qid", "vid"), "left")
      .groupBy(col("qid"))
      .agg(min(when(col("rel").isNotNull, col("rank_a"))).as("first_rank"))
      .select(col("qid"), col("first_rank"),
        r3(coalesce(lit(1.0) / col("first_rank"), lit(0.0))).as("rr"))
  }

  /** Mann-Whitney AUC of `score` against boolean `label` — exact,
    * tie-aware (ties contribute half).
    *
    * Scale plan: ONE map-side-combined groupBy collapses the corpus to
    * per-distinct-score (n_pos, n_neg) counts; the cumulative window
    * then runs over that collapsed frame (≤1001 rows for an r3-rounded
    * [0,1] score), never the data. AUC = Σ_s nP(s)·(N_below(s) +
    * ½·nN(s)) / (NP·NN). All window inputs are exact integers and
    * halves, so the sum is bit-identical in any engine; one rounded
    * division at the end.
    */
  def auc(scored: DataFrame): DataFrame = {
    val per = scored.groupBy(col("score")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("np"),
      sum(when(col("label"), 0L).otherwise(1L)).as("nn"))
    val below = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("below_n", coalesce(sum(col("nn")).over(below), lit(0L)))
      .agg(
        sum(col("np")).cast("long").as("n_pos"),
        sum(col("nn")).cast("long").as("n_neg"),
        r3(sum(col("np").cast("double") *
            (col("below_n").cast("double") + col("nn").cast("double") * 0.5)) /
          (sum(col("np")).cast("double") * sum(col("nn")).cast("double")))
          .as("auc"))
  }

  /** Precision/recall sweep: one row per distinct score threshold t
    * (predict positive when score ≥ t), with exact TP/FP counts.
    * Same collapsed-frame design as [[auc]]: the descending cumulative
    * window runs over distinct scores only.
    */
  /** Cumulative GAINS / LIFT table (the campaign-targeting view of
    * the ranking: "mail the top decile, capture X% of responders at
    * Y× the base rate"): rank by score descending, cut into
    * `nBuckets` grouped deciles, and report each bucket's positive
    * capture rate and lift over the corpus base rate. Buckets are
    * assigned at DISTINCT-SCORE granularity (a score group lands
    * wholly in the bucket its first row falls in) — NTILE over raw
    * rows is tie-order-dependent and engine-ambiguous; grouped
    * deciles are deterministic and honest about ties.
    *
    * Scale plan: the same collapsed-frame design as [[auc]] — the
    * corpus reduces map-side to per-distinct-score counts and every
    * window runs post-collapse.
    */
  def liftCurve(scored: DataFrame, nBuckets: Int = 10): DataFrame = {
    val per = scored.groupBy(col("score")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("np"),
      count(lit(1)).as("n"))
    val cumBefore = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    per
      .withColumn("before", coalesce(sum(col("n")).over(cumBefore), lit(0L)))
      .withColumn("total", sum(col("n")).over(all))
      .withColumn("pos_total", sum(col("np")).over(all))
      .withColumn("bucket",
        least(floor(col("before") * lit(nBuckets) / col("total")),
          lit(nBuckets - 1)).cast("long"))
      .groupBy(col("bucket"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("np")).cast("long").as("n_pos"),
        max(col("total")).as("total"), max(col("pos_total")).as("pos_total"))
      .select(col("bucket"), col("n"), col("n_pos"),
        r3(col("n_pos").cast("double") / col("pos_total")).as("capture"),
        r3((col("n_pos").cast("double") / col("n")) /
          (col("pos_total").cast("double") / col("total"))).as("lift"))
  }

  /** The F1-optimal operating point of the [[prCurve]] sweep: the
    * threshold maximizing F1 = 2·tp/(tp + fp + P) (algebraically
    * 2PR/(P+R) with fn = P − tp substituted — one fraction of exact
    * integers, so the argmax ordering is engine-deterministic), ties
    * broken toward the HIGHER threshold (the stricter classifier).
    * This is the one-row answer a model card quotes next to AUC: the
    * curve says how good the ranking is, this says where to cut it.
    *
    * Scale plan: same collapsed-frame design as [[auc]] — the corpus
    * reduces map-side to per-distinct-score counts (≤1001 rows for a
    * 3-decimal score), and every window runs on the collapsed frame.
    */
  def f1Best(scored: DataFrame): DataFrame = {
    val per = scored.groupBy(col("score").as("thresh")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("np"),
      sum(when(col("label"), 0L).otherwise(1L)).as("nn"))
    val cum = Window.orderBy(col("thresh").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    per
      .withColumn("tp", sum(col("np")).over(cum).cast("long"))
      .withColumn("fp", sum(col("nn")).over(cum).cast("long"))
      .withColumn("pos_total", sum(col("np")).over(all).cast("long"))
      .withColumn("f1x",
        lit(2.0) * col("tp") / (col("tp") + col("fp") + col("pos_total")))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("f1x").desc, col("thresh").desc)))
      .where(col("rn") === 1)
      .select(col("thresh"), col("tp"), col("fp"), r3(col("f1x")).as("f1"))
  }

  def prCurve(scored: DataFrame): DataFrame = {
    val per = scored.groupBy(col("score").as("thresh")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("np"),
      sum(when(col("label"), 0L).otherwise(1L)).as("nn"))
    val cum = Window.orderBy(col("thresh").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    per
      .withColumn("tp", sum(col("np")).over(cum))
      .withColumn("fp", sum(col("nn")).over(cum))
      .withColumn("pos_total", sum(col("np")).over(all))
      .select(
        col("thresh"),
        col("tp").cast("long").as("tp"),
        col("fp").cast("long").as("fp"),
        r3(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        r3(col("tp").cast("double") / col("pos_total").cast("double"))
          .as("recall"))
  }

  /** The gate's scored frame: stopword density ([[TextOps.quality]]'s
    * `stop_ratio`) as the score, `lang = 'en'` as the label — a real
    * feature-evaluation question (how well does English-stopword
    * density detect English documents?) with a fully deterministic
    * oracle. Both halves are codegen projections over one scan.
    */
  def stopRatioScored(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val stop = size(filter(toks, t => t.isInCollection(TextOps.STOPWORDS)))
    docs.select(
      r3(stop.cast("double") / size(toks)).as("score"),
      (col("lang") === "en").as("label"))
  }

  /** [[stopRatioScored]] with the document SOURCE as the fairness
    * group — the slice column of [[fairness]]'s audit.
    */
  def stopRatioScoredByGroup(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val stop = size(filter(toks, t => t.isInCollection(TextOps.STOPWORDS)))
    docs.select(
      col("source").as("grp"),
      r3(stop.cast("double") / size(toks)).as("score"),
      (col("lang") === "en").as("label"))
  }

  /** GROUP-FAIRNESS audit of a scored frame — the slice-wise eval
    * every production classifier ships beside its headline AUC
    * (Barocas-Hardt-Narayanan's group-metrics battery): per group its
    * size, positive count, POSITIVE RATE (the demographic-parity
    * column — read the gap across rows), mean score (score-shift
    * drift), and the GROUP-RESTRICTED Mann-Whitney AUC (per-slice
    * ranking quality — a model can hold headline AUC while collapsing
    * on one slice; this is where that shows). A single-class group's
    * AUC is NULL (undefined, never a sentinel — and guarded
    * identically on both engines: Spark's 0/0 is NaN, DuckDB's is
    * NULL, so the CASE must fire BEFORE the division).
    *
    * Scale plan: [[auc]]'s collapsed-frame design partitioned by
    * group — one map-side-combined (grp, score) collapse (≤
    * groups·1001 rows for r3-rounded scores), the cumulative window
    * and final aggregate both run post-collapse; all window inputs
    * exact integers, one rounded division per output column.
    */
  def fairness(scored: DataFrame): DataFrame = {
    val per = scored.groupBy(col("grp"), col("score")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("np"),
      sum(when(col("label"), 0L).otherwise(1L)).as("nn"))
    val below = Window.partitionBy(col("grp")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("below_n", coalesce(sum(col("nn")).over(below), lit(0L)))
      .groupBy(col("grp"))
      .agg(
        sum(col("np") + col("nn")).cast("long").as("n"),
        sum(col("np")).cast("long").as("n_pos"),
        r3(sum(col("np")).cast("double") /
          sum(col("np") + col("nn")).cast("double")).as("pos_rate"),
        r3(sum((col("np") + col("nn")).cast("double") * col("score")) /
          sum(col("np") + col("nn")).cast("double")).as("avg_score"),
        when(sum(col("np")) > 0 && sum(col("nn")) > 0,
          r3(sum(col("np").cast("double") *
              (col("below_n").cast("double") + col("nn").cast("double") * 0.5)) /
            (sum(col("np")).cast("double") * sum(col("nn")).cast("double"))))
          .as("auc_grp"))
  }

  /** EQUALIZED-ODDS audit at a fixed decision threshold — the
    * companion to [[fairness]]'s threshold-free AUC view: per group
    * the TPR and FPR of "predict positive when score ≥ t" (Hardt et
    * al. 2016: a classifier satisfies equalized odds when both rates
    * match across groups — read the gaps across rows). Rates are NULL
    * when the group lacks the class (no positives → TPR undefined),
    * guarded BEFORE the division on both engines.
    *
    * Scale plan: ONE map-side-combined groupBy over \|groups\| keys —
    * four conditional counts per group, nothing else.
    */
  def fairnessOdds(scored: DataFrame, thresh: Double): DataFrame =
    scored.groupBy(col("grp"))
      .agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("np"),
        sum(when(col("label"), 0L).otherwise(1L)).as("nn"),
        sum(when(col("label") && col("score") >= thresh, 1L).otherwise(0L)).as("tp"),
        sum(when(!col("label") && col("score") >= thresh, 1L).otherwise(0L)).as("fp"))
      .select(col("grp"),
        col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        when(col("np") > 0,
          r3(col("tp").cast("double") / col("np").cast("double"))).as("tpr"),
        when(col("nn") > 0,
          r3(col("fp").cast("double") / col("nn").cast("double"))).as("fpr"))

  /** Two-sample Kolmogorov–Smirnov statistic of `score` between the
    * positive and negative classes — the distribution-free "does this
    * feature separate the classes at all" test beside [[auc]]'s
    * ranking view. KS = max over thresholds of |F⁺(s) − F⁻(s)|.
    *
    * Scale plan: the same collapsed-frame design as [[auc]] — the
    * corpus reduces to per-distinct-score (n_pos, n_neg) counts
    * map-side, and the cumulative window runs over ≤1001 rows. The
    * per-row CDF gap is rounded BEFORE the max so the argmax can't
    * flip on last-ulp noise.
    */
  def ks(scored: DataFrame): DataFrame = {
    val per = scored.groupBy(col("score")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("np"),
      sum(when(col("label"), 0L).otherwise(1L)).as("nn"))
    val cum = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    per
      .withColumn("cp", sum(col("np")).over(cum))
      .withColumn("cn", sum(col("nn")).over(cum))
      .withColumn("tp", sum(col("np")).over(all))
      .withColumn("tn", sum(col("nn")).over(all))
      .select(r3(abs(col("cp").cast("double") / col("tp").cast("double") -
        col("cn").cast("double") / col("tn").cast("double"))).as("gap"),
        col("tp"), col("tn"))
      .groupBy(col("tp").cast("long").as("n_pos"), col("tn").cast("long").as("n_neg"))
      .agg(max(col("gap")).as("ks"))
  }

  // z for a 95% two-sided interval; z² precomputed once in Scala so
  // the oracle inlines the SAME double (1.96² ≠ 3.8416 in IEEE)
  private[graft] val Z95 = 1.96
  private[graft] val Z95sq = 1.96 * 1.96

  /** Two-arm A/B readout over a DETERMINISTIC md5 assignment (arm =
    * md5("ab:" + user_id) % 2 — the engine-reproducible stand-in for
    * the experiment system's hash bucketing): per arm the user count,
    * converter count (≥ 1 `convType` event), conversion rate and its
    * Wilson 95% interval (the interval that stays honest at small n
    * and extreme rates, unlike the normal approximation), plus the
    * absolute lift and the pooled two-proportion z statistic. One
    * row; |z| > 1.96 rejects equal rates at 95%.
    *
    * Every input to the arithmetic is an INTEGER count, so the whole
    * readout is bit-deterministic with no rounding contract needed —
    * r3 only formats the outputs.
    *
    * Scale plan: one user-keyed exchange (the per-user converted
    * flag), then a 2-row conditional aggregate; Wilson/z math is a
    * scalar select on a 1-row frame. Nothing downstream of the first
    * groupBy scales with event volume.
    */
  def abLift(events: DataFrame, convType: String = "purchase",
             minEvents: Int = 1): DataFrame = {
    val armOf = (conv(substring(md5(concat(lit("ab:"),
      col("user_id").cast("string"))), 1, 8), 16, 10).cast("bigint") % 2L).cast("int")
    val perUser = events.groupBy(col("user_id"))
      .agg((sum((col("event_type") === convType).cast("int")) >= minEvents)
        .cast("int").as("converted"))
      .select(armOf.as("arm"), col("converted"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).cast("long").as("cv"))
    def side(a: Int, c: String) = sum(when(col("arm") === a, col(c))).cast("long")
    val m = arms.agg(
      side(0, "n").as("n_a"), side(0, "cv").as("conv_a"),
      side(1, "n").as("n_b"), side(1, "cv").as("conv_b"))
    def wilson(p: Column, n: Column) = {
      val den = lit(1.0) + lit(Z95sq) / n
      val center = (p + lit(Z95sq) / (lit(2.0) * n)) / den
      val half = lit(Z95) * sqrt(p * (lit(1.0) - p) / n +
        lit(Z95sq) / (lit(4.0) * n * n)) / den
      (r3(center - half), r3(center + half))
    }
    // explicit double ratios — ANSI mode plans long/long as integral
    // division (divide-by-zero at runtime, 0/1 results otherwise)
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val (loA, hiA) = wilson(pa, col("n_a"))
    val (loB, hiB) = wilson(pb, col("n_b"))
    m.select(col("n_a"), col("conv_a"), r3(pa).as("rate_a"),
      loA.as("lo_a"), hiA.as("hi_a"),
      col("n_b"), col("conv_b"), r3(pb).as("rate_b"),
      loB.as("lo_b"), hiB.as("hi_b"),
      r3(pb - pa).as("lift"),
      // nullif: a degenerate experiment (every / no user converts)
      // yields z = NULL, not an ANSI divide-by-zero
      r3((pb - pa) / nullif(sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), lit(0.0))).as("z_stat"))
  }

  /** CUPED variance reduction for the same two arms (Deng et al.
    * 2013): Y = each user's post-period metric (sum of `value` on/after
    * `splitDay`), X = the PRE-period metric — unaffected by treatment,
    * so θ = cov(X,Y)/var(X) (pooled) yields the adjusted metric
    * Y − θ(X − μ_X) with identical expected lift but var shrunk by
    * ρ²·var(Y). Emits per-arm raw and adjusted means, θ, both lifts,
    * and the achieved variance-reduction ratio 1 − var(Y−θX)/var(Y) —
    * the number that says how much smaller the experiment could have
    * been.
    *
    * Determinism: per-user X/Y are r3'd sums (the resampleDaily
    * contract); per-arm MOMENT sums are r3'd once, and every scalar
    * downstream is exact arithmetic over those rounded moments — the
    * engines cannot diverge past the ε guard.
    *
    * Scale plan: one user-keyed exchange with conditional map-side
    * sums, one 2-row moment aggregate, scalar math on a 1-row frame.
    */
  def abCuped(events: DataFrame, splitDay: String): DataFrame = {
    val armOf = (conv(substring(md5(concat(lit("ab:"),
      col("user_id").cast("string"))), 1, 8), 16, 10).cast("bigint") % 2L).cast("int")
    val perUser = events.groupBy(col("user_id"))
      .agg(
        r3(coalesce(sum(when(to_date(col("ts")) < lit(splitDay).cast("date"),
          col("value"))), lit(0.0))).as("x"),
        r3(coalesce(sum(when(to_date(col("ts")) >= lit(splitDay).cast("date"),
          col("value"))), lit(0.0))).as("y"))
      .select(armOf.as("arm"), col("x"), col("y"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).cast("double").as("n"),
        r3(sum(col("x"))).as("sx"), r3(sum(col("y"))).as("sy"),
        r3(sum(col("x") * col("x"))).as("sxx"),
        r3(sum(col("x") * col("y"))).as("sxy"),
        r3(sum(col("y") * col("y"))).as("syy"))
    def side(a: Int, c: String) = sum(when(col("arm") === a, col(c)))
    val m = arms.agg(
      side(0, "n").as("n_a"), side(0, "sx").as("sx_a"), side(0, "sy").as("sy_a"),
      side(1, "n").as("n_b"), side(1, "sx").as("sx_b"), side(1, "sy").as("sy_b"),
      (side(0, "n") + side(1, "n")).as("n"),
      (side(0, "sx") + side(1, "sx")).as("sx"),
      (side(0, "sy") + side(1, "sy")).as("sy"),
      (side(0, "sxx") + side(1, "sxx")).as("sxx"),
      (side(0, "sxy") + side(1, "sxy")).as("sxy"),
      (side(0, "syy") + side(1, "syy")).as("syy"))
    val mx = col("sx") / col("n")
    val my = col("sy") / col("n")
    val varX = col("sxx") / col("n") - mx * mx
    val varY = col("syy") / col("n") - my * my
    val covXY = col("sxy") / col("n") - mx * my
    val theta = covXY / varX
    val varAdj = varY - theta * covXY   // var(Y − θX) = varY − cov²/varX
    val yAdj = (a: String) =>
      col(s"sy_$a") / col(s"n_$a") - theta * (col(s"sx_$a") / col(s"n_$a") - mx)
    m.select(
      col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
      r3(theta).as("theta"),
      r3(col("sy_a") / col("n_a")).as("y_a"),
      r3(col("sy_b") / col("n_b")).as("y_b"),
      r3(yAdj("a")).as("yadj_a"), r3(yAdj("b")).as("yadj_b"),
      r3(col("sy_b") / col("n_b") - col("sy_a") / col("n_a")).as("lift_raw"),
      r3(yAdj("b") - yAdj("a")).as("lift_cuped"),
      r3(lit(1.0) - varAdj / varY).as("var_reduction"))
  }

  /** Population Stability Index between two score populations (even /
    * odd doc_id halves — train-time vs serve-time batches): decile
    * edges from the REFERENCE half (exact interpolated quantiles,
    * r3'd), both halves binned against them, per-bin Laplace-smoothed
    * shares, PSI = Σ (p_a − p_b)·ln(p_a/p_b) — THE model-monitoring
    * drift number (rule of thumb: <0.1 stable, 0.1-0.25 watch, >0.25
    * shifted), beside [[graft.operators.Similarity.embeddingDrift]]'s
    * per-dimension view. Emits the full per-bin audit (counts,
    * contribution) with the total riding every row. Empty bins appear
    * (count 0) — smoothing keeps their contribution finite.
    *
    * Scale plan: one corpus pass scores and collapses to (grp, bin)
    * counts map-side; edges are one reference-half aggregate
    * (≤ nBins−1 doubles, collected under the codebook contract) that
    * re-enter the plan as literals; everything downstream is
    * nBins-sized.
    */
  def psi(docs: DataFrame, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"psi: nBins must be >= 2, got $nBins")
    val toks = split(col("text"), " ")
    val stop = size(filter(toks, t =>
      t.isInCollection(graft.operators.TextOps.STOPWORDS)))
    val scored = docs.select(
      pmod(col("doc_id"), lit(2L)).cast("int").as("grp"),
      r3(stop.cast("double") / size(toks)).as("score")).localCheckpoint()
    val qs = (1 until nBins).map(i => i.toDouble / nBins)
    val edges = scored.where(col("grp") === 0)
      .agg(expr(s"percentile(score, array(${qs.mkString("D, ")}D))").as("e"))
      .head().getSeq[Double](0)
      .map(r3d(_))
    val edgeArr = edges.map(e => s"${e}D").mkString("array(", ", ", ")")
    val binned = scored
      .select(col("grp"), expr(s"size(filter($edgeArr, e -> e < score))").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"))
    val spine = docs.sparkSession.range(nBins)
      .select(col("id").cast("int").as("bin"))
    val tot = Window.partitionBy()
    val pA = (col("n_a") + 1.0) / (col("ta") + lit(nBins.toDouble))
    val pB = (col("n_b") + 1.0) / (col("tb") + lit(nBins.toDouble))
    spine.join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("ta", sum(col("n_a")).over(tot))
      .withColumn("tb", sum(col("n_b")).over(tot))
      .select(col("bin").cast("long").as("bin"), col("n_a"), col("n_b"),
        r3((pA - pB) * log(pA / pB)).as("contrib"),
        r3(sum((pA - pB) * log(pA / pB)).over(tot)).as("psi"))
  }

  /** Hashing-trick feature vector per user (Weinberger et al. 2009):
    * each event contributes its categorical features (event type,
    * day-of-week) hashed into one of `b` buckets with a ±1 sign from
    * an independent hash bit — the fixed-width encoding that needs NO
    * vocabulary pass, survives unseen categories, and keeps E[x·x']
    * unbiased (the sign trick cancels collision cross-terms). Output
    * is long-format `(user_id, bucket, v)` with v = the signed count,
    * ready to pivot into the ML-feed edge.
    *
    * Scale plan: features are generated map-side (array explode, ×2
    * per event), the only exchange is the (user, bucket)-keyed
    * map-side-combined sum; integer arithmetic end-to-end, so the
    * frame is exact. At 100 TB this is one pass + one combine —
    * exactly the shape a vocabulary-indexed encoder (two passes + a
    * dictionary join) cannot beat.
    */
  def featureHash(events: DataFrame, b: Int): DataFrame = {
    require(b >= 2, s"featureHash: b must be >= 2, got $b")
    events
      .select(col("user_id"), explode(array(
        concat(lit("et:"), col("event_type")),
        concat(lit("dow:"), dayofweek(col("ts")).cast("string")))).as("feat"))
      .select(col("user_id"),
        (conv(substring(md5(col("feat")), 1, 8), 16, 10)
          .cast("bigint") % b).cast("long").as("bucket"),
        (conv(substring(md5(col("feat")), 9, 1), 16, 10)
          .cast("bigint") % 2L * 2L - 1L).as("sign"))
      .groupBy(col("user_id"), col("bucket"))
      .agg(sum(col("sign")).as("v"))
  }

  /** Calibration (reliability) table of a [0,1] score against the
    * label: decile bins, per-bin count, mean score and positive rate
    * — how far the score is from being a probability. One map-side-
    * combined groupBy over ≤10 groups.
    */
  def calibration(scored: DataFrame): DataFrame =
    scored
      .withColumn("bin", least(floor(col("score") * 10.0).cast("long"), lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        r3(sum(col("score")) / count(lit(1))).as("mean_score"),
        r3(sum(when(col("label"), 1.0).otherwise(0.0)) / count(lit(1))).as("pos_rate"))

  /** Leave-one-out target encoding of a categorical column: each row's
    * encoding is the mean target of its category EXCLUDING the row
    * itself — the standard leakage-free categorical feature. NULL for
    * singleton categories.
    *
    * Scale plan: one map-side-combined groupBy to per-category
    * (n, Σtarget) scalars, broadcast back onto the stream — the encode
    * itself is a map-only projection; no window over the data, no
    * second shuffle.
    */
  def targetEncode(events: DataFrame): DataFrame = {
    val vr = r3(col("value"))
    val stats = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(r3(col("value"))).as("s"))
    events.join(broadcast(stats), Seq("event_type"))
      .select(
        col("event_id"), col("event_type"),
        when(col("n") > 1,
          r3((col("s") - vr) / (col("n") - 1).cast("double")))
          .as("loo"))
  }

  /** Exact-quantile feature binning: bin boundaries are the
    * interpolated p25/p50/p75 of the (rounded) daily values, computed
    * once as a 1-row aggregate and broadcast; the binning itself is a
    * map-only comparison (`bin = 1 + Σ (v > boundary)`). The gate
    * audits per-bin count/min/max/mean. At 100 TB the boundary agg is
    * the only shuffle and approx boundaries (t-digest) would slot in
    * without changing the binning side.
    */
  def featureBins(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(
      r3(expr("percentile(v, 0.25)")).as("b1"),
      r3(expr("percentile(v, 0.5)")).as("b2"),
      r3(expr("percentile(v, 0.75)")).as("b3"))
    daily.join(broadcast(bounds))
      .withColumn("bin",
        (lit(1) + (col("v") > col("b1")).cast("int")
          + (col("v") > col("b2")).cast("int")
          + (col("v") > col("b3")).cast("int")).cast("long"))
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        r3(sum(col("v")) / count(lit(1))).as("mean_v"))
  }

  /** [[featureBins]]' SKETCH tier: quantile bounds estimated on the
    * deterministic md5-PRNG sample (the kmeans_fit_sampled bucket
    * arithmetic over (user_id, day)), published NEXT TO the exact
    * bounds with their absolute error — one row per quantile.
    *
    * Why sampling and not a t-digest: a t-digest's centroid state
    * depends on insertion/merge ORDER, so two engines (or two runs of
    * one engine) produce different digests for the same data — not
    * hash-gateable, and not even run-reproducible on a cluster. The
    * deterministic sample bounds ARE, and the error gate plays the
    * same role the ANN recall gates play for the quantizer tiers.
    *
    * THE SCALE POINT: the exact side's `percentile` materializes and
    * sorts EVERY value on one reducer per group; the sampled side
    * sorts keep/nBuckets of it (a knob — at 100 TB sample ~1e6 rows
    * and the sort is executor-trivial), and the sample membership is
    * a map-side hash filter that composes with pushdown. Error ~
    * O(1/√sample) per the DKW bound, pinned by the spec.
    */
  def featureBinsApprox(daily: DataFrame, keep: Int = 3,
                        nBuckets: Int = 10): DataFrame = {
    require(keep >= 1 && keep <= nBuckets,
      s"featureBinsApprox: need 1 <= keep <= nBuckets, got keep=$keep nBuckets=$nBuckets")
    val bucket = conv(substring(
      md5(concat_ws("|", col("user_id"), col("day"))), 1, 4), 16, 10)
      .cast("int") % nBuckets
    val ex = daily.agg(
      count(lit(1)).as("n_total"),
      r3(expr("percentile(v, 0.25)")).as("e1"),
      r3(expr("percentile(v, 0.5)")).as("e2"),
      r3(expr("percentile(v, 0.75)")).as("e3"))
    val ap = daily.where(bucket < keep).agg(
      count(lit(1)).as("n_sample"),
      r3(expr("percentile(v, 0.25)")).as("a1"),
      r3(expr("percentile(v, 0.5)")).as("a2"),
      r3(expr("percentile(v, 0.75)")).as("a3"))
    ex.crossJoin(ap)
      .select(explode(expr(
        """array(
          |  named_struct('q', 0.25D, 'exact_v', e1, 'approx_v', a1),
          |  named_struct('q', 0.5D,  'exact_v', e2, 'approx_v', a2),
          |  named_struct('q', 0.75D, 'exact_v', e3, 'approx_v', a3))"""
          .stripMargin)).as("t"),
        col("n_total"), col("n_sample"))
      .select(col("t.q").as("q"), col("t.exact_v").as("exact_v"),
        col("t.approx_v").as("approx_v"),
        r3(abs(col("t.exact_v") - col("t.approx_v"))).as("abs_err"),
        col("n_sample"), col("n_total"))
  }
}
