package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Rounding.r3

/** Relational operators beyond plain groupBy/join: as-of join,
  * sessionization, grouped top-k. All single-shuffle designs that
  * survive 100-TB inputs (no cross products, no global sorts).
  */
object Relational {

  /** As-of join: for each left row `(key, day, …)` attach the most
    * recent right row with `r.day <= l.day` (inclusive), per key.
    *
    * Spark-first plan: UNION the two sides, tag right rows so equal-day
    * right rows sort before left rows, then a single
    * `last(value, ignoreNulls)` running window per key carries the
    * latest right value forward. One shuffle on `key`, bounded state,
    * no range-explosion — the classic distributed as-of merge. (A
    * sort-merge ASOF of two 100-TB tables co-partitions on key the
    * same way; DuckDB's native ASOF JOIN is the oracle.)
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               payload: Seq[String]): DataFrame =
    asofWith(left, right, key, time, payload, forward = false)

  /** FORWARD as-of: each left row carries the EARLIEST right payload
    * with right time ≥ left time (inclusive) — "what happened next"
    * (time-to-event joins, next-maintenance lookups), the mirror of
    * [[asofJoin]]'s "most recent state". Same union + single-window
    * plan, just scanned descending.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
                      time: String, payload: Seq[String]): DataFrame =
    asofWith(left, right, key, time, payload, forward = true)

  /** The shared union-tag-window as-of core: both sides union into one
    * frame, ONE key exchange, the payload carried by a running
    * last-non-null over the (time, side) ordering — ascending for
    * backward, descending for forward; the side tiebreak makes the
    * same-instant right row visible to the left row in both
    * directions (inclusive semantics, = DuckDB `ASOF JOIN ON >=`/`<=`).
    */
  private def asofWith(left: DataFrame, right: DataFrame, key: String,
                       time: String, payload: Seq[String],
                       forward: Boolean): DataFrame = {
    val lTagged = left.withColumn("_side", lit(1))
      .select(Seq(col(key), col(time), col("_side")) ++
        left.columns.filterNot(c => c == key || c == time).map(col) ++
        payload.map(c => lit(null).cast(right.schema(c).dataType).as(s"_r_$c")): _*)
    val rTagged = right.withColumn("_side", lit(0))
      .select(Seq(col(key), col(time), col("_side")) ++
        left.columns.filterNot(c => c == key || c == time).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(c => col(c).as(s"_r_$c")): _*)
    val ord = if (forward) col(time).desc else col(time).asc
    val w = Window.partitionBy(key).orderBy(ord, col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = lTagged.unionByName(rTagged)
      .select(col("*") +: payload.map(c =>
        last(col(s"_r_$c"), ignoreNulls = true).over(w).as(s"asof_$c")): _*)
    carried.where(col("_side") === 1)
      .drop("_side")
      .drop(payload.map(c => s"_r_$c"): _*)
  }

  /** NEAREST as-of over a DATE time column: per left row, the closer
    * of the backward and forward matches by day distance, backward on
    * ties (and whichever side exists when only one does) — kdb's
    * `nearest aj`. Requires `rightTime` ∈ payload (both candidates
    * must carry their own day to be compared) and a left frame UNIQUE
    * on (key, time) — the recombining join is keyed on exactly that.
    * Two window passes + one per-key-sized join — still a two-exchange
    * plan, no corpus re-scan.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      time: String, rightTime: String,
                      payload: Seq[String]): DataFrame = {
    require(payload.contains(rightTime),
      s"asofJoinNearest: rightTime=$rightTime must be in payload")
    val b = asofWith(left, right, key, time, payload, forward = false)
    val f = asofWith(left, right, key, time, payload, forward = true)
      .select(Seq(col(key), col(time)) ++
        payload.map(c => col(s"asof_$c").as(s"_fwd_$c")): _*)
    val bd = datediff(col(time), col(s"asof_$rightTime"))
    val fd = datediff(col(s"_fwd_$rightTime"), col(time))
    val useB = col(s"asof_$rightTime").isNotNull &&
      (col(s"_fwd_$rightTime").isNull || bd <= fd)
    b.join(f, Seq(key, time))
      .select(Seq(col(key), col(time)) ++
        left.columns.filterNot(c => c == key || c == time).map(col) ++
        payload.map(c =>
          when(useB, col(s"asof_$c")).otherwise(col(s"_fwd_$c")).as(s"near_$c")): _*)
  }

  /** Gap-based sessionization of an event stream: a new session starts
    * when the gap to the previous event of the same key reaches
    * `gapMicros` (same boundary rule as Spark's `session_window`,
    * whose streaming twin is [[graft.streaming.StreamOps.sessionWindows]]). Emits one row per session with start/end (epoch µs),
    * event count and value sum. Single shuffle on key; the running
    * sum of session-starts is bounded per-key state, streaming-friendly.
    */
  def sessionize(events: DataFrame, gapMicros: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val flagged = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) >= gapMicros, 1)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        r3(sum(col("value"))).as("sum_value"))
  }

  /** [[sessionize]] with the events-sized hot-key window REMOVED —
    * bounded-gap SPLIT-MERGE, result-identical (the gate shares
    * `sessionize`'s oracle): events bucket by fixed time ranges of
    * `widthMicros`, sessionize runs INSIDE each (user, bucket)
    * partition — the skew split: a hot user's window partition
    * shrinks from its whole history to one bucket's worth — then
    * sessions straddling bucket boundaries are stitched on a per-user
    * frame of BOUNDARY sessions only (each bucket's first and last;
    * an interior session has within-bucket neighbours ≥ gap away on
    * both sides by construction, so it can never merge).
    *
    * Why the stitch is exact: buckets are time-disjoint, so boundary
    * sessions in start order are consecutive runs of the true event
    * stream; components of one true session are therefore CONSECUTIVE
    * rows satisfying the gap rule, and the running-sum chain id
    * reassembles exactly the true session. `widthMicros` is purely a
    * load-balance knob — any value ≥ 1 is correct (pick ≈ the hot
    * key's per-task budget; sessions longer than a bucket just chain
    * through the merge).
    *
    * Why every step is skew-proof at 100 TB:
    *   - the event-volume window keys on (user, bucket), never bare
    *     user — the hot partition is width-bounded;
    *   - the merge chain windows over ≤ 2·occupied-buckets rows per
    *     user (time-bounded, event-count-independent);
    *   - session NUMBERING is two-level arithmetic — the within-bucket
    *     rank (already paid on the split partitioning) plus per-user
    *     cumulative offsets over the bucket-indexed frame:
    *     session_no = Σ_{i<k} m_i + j − Σ_{i≤k} µ_i for a session whose
    *     FIRST component is the j-th of bucket k (m = sessions in
    *     bucket, µ = 1 when a bucket's first session merged backward)
    *     — so no per-user events-sized or sessions-sized sort exists
    *     anywhere in the plan. Value sums stay RAW through the merge
    *     and round once at the end (the one-rounding contract).
    */
  def sessionizeSplitMerge(events: DataFrame, gapMicros: Long,
                           widthMicros: Long): DataFrame = {
    require(widthMicros >= 1, s"sessionizeSplitMerge: width must be >= 1µs, got $widthMicros")
    val base = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("bucket", expr(s"ts_us div ${widthMicros}L"))
    val wb = Window.partitionBy("user_id", "bucket").orderBy("ts_us", "event_id")
    val flagged = base
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(wb) >= gapMicros, 1)
          .when(lag(col("ts_us"), 1).over(wb).isNull, 1)
          .otherwise(0))
      .withColumn("j", sum(col("new_session")).over(
        wb.rowsBetween(Window.unboundedPreceding, 0)))
    // s1 fans out to THREE consumers (interior, the boundary chain,
    // the numbering offsets) — checkpoint so the event-volume window
    // chain above runs ONCE and every branch reads the compact
    // sessions frame (without this the soak measured the event scan
    // + window ~4×, drowning the skew win the operator exists for)
    val s1 = flagged.groupBy(col("user_id"), col("bucket"), col("j"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"), sum(col("value")).as("raw_value"))
      .withColumn("m",
        max(col("j")).over(Window.partitionBy("user_id", "bucket")))
      .localCheckpoint()
    val interior = s1.where(col("j") > 1 && col("j") < col("m"))
      .select(col("user_id"), col("bucket"), col("j"),
        col("start_us"), col("end_us"), col("n_events"), col("raw_value"))
    val wu = Window.partitionBy("user_id").orderBy("start_us")
    // the boundary frame feeds the merge AND the µ offsets — tiny
    // (≤ 2·occupied buckets per user), checkpoint to cut the re-read
    val chained = s1.where(col("j") === 1 || col("j") === col("m"))
      .withColumn("cs",
        when(col("start_us") - lag(col("end_us"), 1).over(wu) >= gapMicros, 1)
          .when(lag(col("end_us"), 1).over(wu).isNull, 1)
          .otherwise(0))
      .withColumn("chain", sum(col("cs")).over(
        wu.rowsBetween(Window.unboundedPreceding, 0)))
      .localCheckpoint()
    val merged = chained.groupBy(col("user_id"), col("chain"))
      .agg(min(struct(col("start_us"), col("bucket"), col("j"))).as("head"),
        min(col("start_us")).as("start_us"), max(col("end_us")).as("end_us"),
        sum(col("n_events")).as("n_events"), sum(col("raw_value")).as("raw_value"))
      .select(col("user_id"), col("head.bucket").as("bucket"),
        col("head.j").as("j"),
        col("start_us"), col("end_us"), col("n_events"), col("raw_value"))
    // per-(user, bucket) numbering offsets: sessions-before (m_off)
    // and backward-merges-through (c_cum), both over the
    // occupied-buckets frame — bounded by timespan/width per user.
    // Every bucket's boundary rows carry m (the within-bucket session
    // count) and its j=1 row carries the merge flag, so the offsets
    // derive from the compact `chained` frame alone — no second read
    // of the sessions frame
    val wk = Window.partitionBy("user_id").orderBy("bucket")
    val offsets = chained.groupBy(col("user_id"), col("bucket"))
      .agg(max(col("m")).as("m"),
        max(when(col("j") === 1, lit(1) - col("cs")).otherwise(0)).as("mu"))
      .withColumn("m_off", coalesce(sum(col("m")).over(
        wk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("c_cum", sum(col("mu")).over(
        wk.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("bucket"), col("m_off"), col("c_cum"))
    interior.unionByName(merged)
      .join(offsets, Seq("user_id", "bucket"))
      .select(col("user_id"),
        (col("m_off") + col("j") - col("c_cum")).as("session_no"),
        col("start_us").as("session_start_us"),
        col("end_us").as("session_end_us"),
        col("n_events"),
        r3(col("raw_value")).as("sum_value"))
  }

  /** PER-SESSION strict-order funnel: the [[funnel]] ladder scoped to
    * gap-sessions instead of users — "did this VISIT sign up, click,
    * purchase in order", the product metric behind every conversion
    * dashboard (a user-level funnel credits a purchase to a signup
    * from last month; a session funnel demands the journey happened
    * in one sitting). Output: one row per stage with the stage type,
    * sessions reaching ≥ that stage, and the conversion rate vs
    * stage 1.
    *
    * Scale plan: the session numbering is the one user-key window
    * exchange ([[sessionize]]'s flag chain); each ladder rung is a
    * min-timestamp aggregate on the (user, session) keying joined
    * back — rung frames shrink monotonically (only surviving sessions
    * advance); the final stage histogram collapses to ≤ |stages| rows
    * map-side and the cumulative window runs on that dimension-sized
    * frame.
    */
  def funnelSession(events: DataFrame, gapMicros: Long,
                    stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, s"funnelSession: need at least 2 stages, got $stages")
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sess = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) >= gapMicros, 1)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("session_no"), col("ts_us"), col("event_type"))
    val keys = Seq("user_id", "session_no")
    val first = sess.where(col("event_type") === stages.head)
      .groupBy(keys.map(col): _*).agg(min(col("ts_us")).as("t1_us"))
    val laddered = stages.tail.zipWithIndex.foldLeft(first) { case (acc, (st, i)) =>
      val prev = s"t${i + 1}_us"
      val cur = s"t${i + 2}_us"
      val nxt = sess.where(col("event_type") === st)
        .join(acc.select((keys.map(col) :+ col(prev)): _*), keys)
        .where(col("ts_us") > col(prev))
        .groupBy(keys.map(col): _*).agg(min(col("ts_us")).as(cur))
      acc.join(nxt, keys, "left_outer")
    }
    val staged = laddered.withColumn("stage",
      stages.indices.map(i =>
        when(col(s"t${i + 1}_us").isNotNull, 1L).otherwise(0L)).reduce(_ + _))
    val hist = staged.groupBy(col("stage")).agg(count(lit(1)).as("n"))
    // densify over the full 1..n stage spine: a stage no session
    // STOPPED at must still appear with its pass-through count
    val spine = events.sparkSession.range(1, stages.size + 1)
      .select(col("id").as("stage"))
    val cum = Window.orderBy(col("stage").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    spine.join(hist, Seq("stage"), "left_outer")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_sessions", sum(col("n")).over(cum).cast("long"))
      .withColumn("n_first", sum(col("n")).over(all).cast("long"))
      .select(col("stage"),
        element_at(
          array(stages.map(lit): _*), col("stage").cast("int")).as("stage_type"),
        col("n_sessions"),
        r3(col("n_sessions").cast("double") / col("n_first")).as("rate"))
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent NON-purchase event of the same user within
    * `windowMicros` (else "direct") — the classic marketing
    * attribution report, aggregated to per-channel purchase count +
    * revenue. Last-touch is the baseline every attribution modeling
    * discussion starts from; the strict same-user recency rule is
    * exactly a running `last(ignoreNulls)` window.
    *
    * One window on the user-key exchange carrying a single
    * (ts, type) struct per row (the attributed event's fields must
    * come from the SAME row — two independent last() calls could mix
    * rows), a purchase filter, and a map-side-combined |channels|
    * aggregate.
    */
  def attributionLastTouch(events: DataFrame, windowMicros: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("prev", last(
        when(col("event_type") =!= "purchase",
          struct(col("ts_us").as("pts"), col("event_type").as("ptype"))),
        ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("prev").isNotNull &&
          col("ts_us") - col("prev.pts") <= windowMicros, col("prev.ptype"))
          .otherwise(lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        r3(sum(col("value"))).as("revenue"))
  }

  /** LINEAR multi-touch attribution — the other pole of the
    * attribution-modeling spectrum from [[attributionLastTouch]]:
    * each purchase's value splits EQUALLY across every non-purchase
    * touch of the same user inside the lookback window (last-touch
    * over-credits the closer, retargeting-shaped channels; linear is
    * the standard first corrective). Purchases with no in-window
    * touch credit "direct" in full. Output per channel: credit count
    * and attributed revenue; a channel touched twice in one journey
    * earns two shares — the definition, not a bug.
    *
    * Scale plan: ONE user-key equi-join between the purchase stream
    * and the (windowMicros-bounded) touch stream — the [[rangeJoin]]
    * volume law, AQE skew-split eligible; the per-purchase touch
    * count is a purchases-sized window; the final aggregate is
    * |channels| map-side-combined. Credits stay raw doubles and round
    * once per channel.
    */
  def attributionLinear(events: DataFrame, windowMicros: Long): DataFrame = {
    val base = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
    val purchases = base.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts_us").as("pts"), col("value").as("pval"))
    val touches = base.where(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_type").as("channel"),
        col("ts_us").as("tts"))
    purchases.join(touches,
        purchases("user_id") === touches("t_user") &&
          col("tts") < col("pts") && col("pts") - col("tts") <= windowMicros,
        "left")
      .withColumn("n_touches",
        count(col("tts")).over(Window.partitionBy(col("pid"))))
      .select(coalesce(col("channel"), lit("direct")).as("channel"),
        when(col("n_touches") === 0, col("pval"))
          .otherwise(col("pval") / col("n_touches")).as("credit"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        r3(sum(col("credit"))).as("revenue"))
  }

  /** Dwell-time distribution per event type: the gap to the SAME
    * user's next event (any type), in seconds — count, mean and
    * exact p50/p90. The "how long do users sit on X" engagement
    * report; the p90/p50 spread is also the empirical basis for
    * choosing [[sessionize]]'s gap parameter (a gap threshold below
    * p90 splits real visits).
    *
    * One lead window on the user-key exchange (shared shape with the
    * session chain), then a map-side-combined per-type aggregate —
    * |types| groups. The percentiles are the exact interpolating
    * `percentile` over per-type dwell lists; at 100 TB the sampled
    * quantile tier (21y1) slots in per type unchanged.
    */
  def dwellStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("dwell_s",
        (lead(col("ts_us"), 1).over(w) - col("ts_us")) / 1000000.0)
      .where(col("dwell_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r3(avg(col("dwell_s"))).as("mean_s"),
        r3(expr("percentile(dwell_s, 0.5)")).as("p50_s"),
        r3(expr("percentile(dwell_s, 0.9)")).as("p90_s"))
  }

  /** Top-k session PATHS: the full ordered event-type sequence of
    * each gap-session (same boundary rule as [[sessionize]]),
    * counted across all sessions and ranked — sequence-mining lite,
    * the "what do users actually do in a visit" report that
    * [[pathTransitions]]' one-hop matrix can't answer (a→b→c and
    * a→c→b share every hop but are different journeys).
    *
    * Scale plan: the session numbering reuses the one user-key
    * exchange; the path collapse is a per-session sorted collect
    * (bounded by events/session); path counts are map-side combined;
    * the final rank is the [[graft.operators.TextOps.topTokens]]
    * two-phase salted top-k — per-salt row_number first, then ONE
    * sorted-collect slice over ≤ salt·k survivors, never a global
    * sort of the path vocabulary.
    */
  def pathTopK(events: DataFrame, gapMicros: Long, k: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val flagged = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) >= gapMicros, 1)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val counts = flagged.groupBy(col("user_id"), col("session_no"))
      .agg(concat_ws(">", expr(
        "transform(array_sort(collect_list(struct(ts_us, event_id, event_type))), " +
          "s -> s.event_type)")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
    counts
      .withColumn("salt", pmod(xxhash64(col("path")), lit(32)))
      .withColumn("r1", row_number().over(
        Window.partitionBy(col("salt")).orderBy(col("n_sessions").desc, col("path"))))
      .where(col("r1") <= k).drop("salt", "r1")
      .agg(expr(s"slice(array_sort(collect_list(struct(-n_sessions AS n_neg, " +
        s"path AS path, n_sessions AS n_sessions))), 1, $k)").as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.path").as("path"), col("t.n_sessions").as("n_sessions"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Per-user session behavior report over [[sessionize]]'s output:
    * session count, mean events per session, mean session duration —
    * the engagement summary a product dashboard reads (and the
    * sanity check on the gap parameter: a mean duration near the gap
    * means sessions are being split mid-activity).
    *
    * Scale plan: one more map-side-combined aggregate over
    * sessionize's (user, session) frame, which is already compact —
    * the user keying reuses the existing exchange.
    */
  def sessionStats(events: DataFrame, gapMicros: Long): DataFrame =
    sessionize(events, gapMicros)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        r3(sum(col("n_events")) / count(lit(1))).as("avg_events"),
        r3(sum(col("session_end_us") - col("session_start_us")) /
          (count(lit(1)) * 1000000.0)).as("avg_duration_s"))

  /** Deterministic fixed-size per-stratum sample ("reservoir" shape):
    * the k docs with the smallest seeded md5 keys in each stratum —
    * the complement of [[graft.operators.TextOps]]' percentage-based
    * stratified sampling when downstream wants EXACTLY k rows per
    * group (eval panels, human-review batches). Reproducible on any
    * engine/partitioning; a `rand()` reservoir would be neither.
    *
    * Scale plan: one rank window per stratum; WindowGroupLimit prunes
    * to k rows per partition BEFORE the exchange, so the shuffle
    * carries ~k·partitions rows, never the corpus.
    */
  def sampleFixedPerStratum(docs: DataFrame, k: Int, seed: String): DataFrame = {
    val key = md5(concat(lit(s"$seed:"), col("doc_id").cast("string")))
    docs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(key, col("doc_id"))))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
  }

  /** Skew-safe aggregation: pre-aggregate under a salt so one hot key
    * never lands on one reducer, then merge per key. Results are
    * identical to a plain groupBy (counts exact; float sums within
    * the canonical-rounding ε); at 100 TB this is how a
    * few-distinct-values groupBy (e.g. 5 event types over 10^12 rows)
    * stays balanced.
    */
  def skewSafeAgg(events: DataFrame, key: String, valueCol: String, salts: Int): DataFrame =
    events
      .withColumn("_salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n_events"),
        r3(sum(col("_s"))).as("total_value"))

  /** Multi-granularity revenue totals in ONE pass: CUBE over
    * `(o_orderstatus, o_orderpriority)` — per-cell, per-status,
    * per-priority and grand totals, disambiguated by `gid`
    * (grouping_id: bit per cube column, first column = MSB, same
    * semantics as the SQL-standard GROUPING() both engines share).
    * The dashboard-rollup shape a BI layer asks for constantly;
    * NULL group values are real-NULL-vs-subtotal ambiguous without
    * `gid`, which is why it's part of the output contract.
    *
    * Plan shape: Catalyst Expand fans each row into the 4 grouping
    * sets BEFORE the aggregate, but the aggregate is still map-side
    * partial — per-partition state is 4×|groups| cells, and the one
    * shuffle carries combined cells, never the ×4 row fan-out. Sums
    * ride decimal(12,2) so every grouping level is exact and
    * order-independent (double cube sums would accumulate different
    * FP noise per level); the cast to double happens only in the
    * final rounded projection.
    */
  def revenueCube(orders: DataFrame): DataFrame =
    orders
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        r3(sum(col("price")).cast("double"), 100.0).as("revenue"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n_orders"), col("revenue"))

  /** Top-k rows per group by `order` descending (deterministic
    * tie-break on `tieBreak`). Window `row_number` — partial per
    * partition, never a global sort.
    */
  def topKPerGroup(df: DataFrame, group: String, order: String, tieBreak: String, k: Int): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(group).orderBy(col(order).desc, col(tieBreak))))
      .where(col("rank") <= k)

  /** Deterministic stratified sampling: keep a row iff its md5-derived
    * uniform bucket (0..99999, from the row id) falls below the
    * per-row integer `threshold` (out of 100 000) — e.g. `(stratum +
    * 1) * 20000` keeps 20%/40%/60%/80% by stratum. All-integer
    * comparison and hash-PRNG per id: any engine, any partitioning,
    * any rerun draws the SAME sample (a `rand()` sample is neither
    * reproducible nor shippable to an oracle). At scale this is a
    * pure map-side filter — zero shuffle, prunes before anything
    * downstream — the balance/downsample step of a training-data
    * pipeline.
    */
  def sampleStratified(df: DataFrame, idCol: String, threshold: Column): DataFrame = {
    val u = conv(substring(md5(concat(lit("sample:"), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("bigint") % 100000L
    df.where(u < threshold)
  }

  /** Bucketed range join: match each point row `(t, …)` to every
    * interval row with `start <= t <= end` (optionally also equal on
    * `keys`). Intervals are exploded into fixed-width buckets and the
    * join is an EQUI-join on the bucket id (+ keys) with an exact
    * containment filter — Spark would otherwise plan a pure range
    * condition as a broadcast nested loop (O(points × intervals)).
    * Cost is O(points + intervals × avg_span/width); pick `width`
    * near the typical interval length. Both sides shuffle-partition
    * on the bucket id, so the pattern holds at 100 TB (skewy long
    * intervals → raise width or split).
    */
  def rangeJoin(points: DataFrame, tCol: String,
                intervals: DataFrame, startCol: String, endCol: String,
                width: Long, keys: Seq[String] = Nil): DataFrame = {
    // Exact integer floor-division for bucket ids: (x − pmod(x, w)) div
    // w. A double intermediate (x / width) loses precision above 2^53
    // — nanosecond epoch timestamps (~1.7e18) would land in off-by-one
    // buckets and genuinely-contained matches would be silently
    // dropped. pmod keeps it true floor (not truncate-toward-zero)
    // for negative domains. Non-integral columns are CAST to BIGINT
    // first (`div` accepts only integral/decimal operands): truncation
    // toward zero is monotone, so a contained point's bucket always
    // lies within its interval's bucket span — no match is ever
    // missed — and the exact containment filter below compares the
    // ORIGINAL (uncast) values.
    require(width > 0, s"rangeJoin: width must be positive, got $width")
    def bucketOf(c: String) = expr(
      s"(CAST(`$c` AS BIGINT) - pmod(CAST(`$c` AS BIGINT), ${width}L)) div ${width}L")
    val p = points.withColumn("_bucket", bucketOf(tCol))
    val i = intervals.withColumn("_bucket",
      explode(sequence(bucketOf(startCol), bucketOf(endCol))))
    p.join(i, "_bucket" +: keys)
      .where(col(tCol) >= col(startCol) && col(tCol) <= col(endCol))
      .drop("_bucket")
  }

  /** Funnel conversion: the strictly-ordered `stages` ladder per user
    * — tᵢ = the FIRST stage-i event strictly after tᵢ₋₁ (the classic
    * signup → click → purchase conversion probe). Output: one row per
    * user who entered the funnel, with each reached stage's first
    * timestamp (µs) and the count of stages reached.
    *
    * Scale shape: each stage is filter (pushed to the scan) →
    * map-side-combined min per user → join on user_id against the
    * PREVIOUS stage's per-user scalars. Every join input is one row
    * per funnel user — aggregates join aggregates, raw events never
    * join raw events — so depth costs |stages| small hash joins, not
    * an event-level self-join.
    */
  def funnel(events: DataFrame, stages: Seq[String],
             maxGapUs: Option[Long] = None): DataFrame = {
    require(stages.size >= 2, s"funnel: need at least 2 stages, got $stages")
    val first = events.where(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t1_us"))
    val laddered = stages.tail.zipWithIndex.foldLeft(first) { case (acc, (st, i)) =>
      val prev = s"t${i + 1}_us"
      val cur = s"t${i + 2}_us"
      // conversion deadline: with maxGapUs, stage i must land within
      // the window after stage i−1 (the "click within 7 days of
      // signup" production funnel); without it, any later event counts
      val inWindow = maxGapUs.fold(lit(true))(g =>
        col("e_us") <= col(prev) + lit(g))
      val nxt = events.where(col("event_type") === st)
        .select(col("user_id"), unix_micros(col("ts")).as("e_us"))
        .join(acc.select(col("user_id"), col(prev)), Seq("user_id"))
        .where(col("e_us") > col(prev) && inWindow)
        .groupBy(col("user_id")).agg(min(col("e_us")).as(cur))
      acc.join(nxt, Seq("user_id"), "left_outer")
    }
    laddered.withColumn("stage",
      stages.indices.map(i =>
        when(col(s"t${i + 1}_us").isNotNull, 1L).otherwise(0L)).reduce(_ + _))
  }

  /** WEEKLY churn rollup: per ISO week the active-user count, how
    * many of them do NOT return the following week (churned), the
    * first-seen (new) users, and churn_rate = churned/active — the
    * growth-accounting triple (new / retained / churned) behind every
    * subscription dashboard, the flow-rate complement of
    * [[retention]]'s cohort matrix. The LAST week's churn is NULL,
    * not zero — "nobody returned after the data ends" is absence of
    * evidence.
    *
    * Scale plan: the (user, week) distinct collapses event volume
    * map-side; the return check is a self equi-join on (user, week+7)
    * — co-partitioned, no window over users; first-seen is one more
    * aggregate of the SAME distinct frame; everything after is
    * |weeks|-sized.
    */
  def churnWeekly(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("week")).distinct()
    val next = uw.select(col("user_id").as("nu"), col("week").as("nw"))
    val flags = uw.join(next,
        col("nu") === col("user_id") && col("nw") === date_add(col("week"), 7), "left")
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("nu").isNull, 1L).otherwise(0L)).as("n_churned"))
    val firsts = uw.groupBy(col("user_id")).agg(min(col("week")).as("week"))
      .groupBy(col("week")).agg(count(lit(1)).as("n_new"))
    val maxW = Window.partitionBy()
    flags.join(firsts, Seq("week"), "left")
      .withColumn("_maxw", max(col("week")).over(maxW))
      .select(col("week"), col("n_active"),
        when(col("week") < col("_maxw"), col("n_churned")).as("n_churned"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(col("week") < col("_maxw"),
          r3(col("n_churned").cast("double") / col("n_active"))).as("churn_rate"))
  }

  /** TIME-TO-CONVERT between consecutive [[funnel]] stages: per
    * transition, the converter count and the mean/p50/p90 latency in
    * seconds — the "how long does the signup→click step take" readout
    * a conversion count alone hides (two funnels with identical rates
    * and 10× different latencies are different products).
    *
    * Scale plan: the ladder computes ONCE (checkpointed) and each
    * transition branch is a projection of it; gaps collapse through a
    * map-side-combined |stages|-row aggregate. Exact percentiles run
    * over per-user scalars, never event volume — at extreme user
    * counts the 21y1 sketch tier pattern slots in unchanged.
    */
  def funnelLatency(events: DataFrame, stages: Seq[String],
                    maxGapUs: Option[Long] = None): DataFrame = {
    val f = funnel(events, stages, maxGapUs).localCheckpoint()
    val pairs = stages.indices.dropRight(1).map { i =>
      val a = s"t${i + 1}_us"
      val b = s"t${i + 2}_us"
      f.where(col(b).isNotNull)
        .select(lit(i + 1).as("step"),
          lit(s"${stages(i)}->${stages(i + 1)}").as("transition"),
          ((col(b) - col(a)) / 1000000.0).as("gap_s"))
    }.reduce(_ unionByName _)
    pairs.groupBy(col("step"), col("transition"))
      .agg(count(lit(1)).as("n_converted"),
        r3(avg(col("gap_s"))).as("mean_s"),
        r3(expr("percentile(gap_s, 0.5)")).as("p50_s"),
        r3(expr("percentile(gap_s, 0.9)")).as("p90_s"))
  }

  /** Per-corpus event-type transition matrix (first-order Markov
    * paths): for every consecutive `(prev → next)` pair inside a
    * user's time-ordered event stream, the transition count and its
    * conditional probability `P(next | prev)`.
    *
    * Scale shape: one window shuffle on `user_id` (the same partition
    * the sessionize/funnel family reuses) produces the lagged pairs;
    * the groupBy collapses them map-side to at most |types|² rows, so
    * the probability window runs on a dimension-sized frame. No
    * event-level self-join, no global sort.
    */
  def pathTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
    val counts = pairs
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val wp = Window.partitionBy(col("prev_type"))
    counts.withColumn("p_transition",
      r3(col("n_transitions").cast("double") /
        sum(col("n_transitions")).over(wp)))
  }

  /** Daily per-user WIDE feature row: one column per event type
    * (explicit type list — never `pivot()` without values, which
    * needs an extra distinct pass over 100 TB to discover the
    * columns), each holding the rounded daily value sum. The pivot is
    * one map-side-combined groupBy — same single-shuffle shape as the
    * long-format resample, emitting the wide layout a feature join
    * consumes directly.
    */
  def pivotDaily(events: DataFrame, types: Seq[String]): DataFrame = {
    require(types.nonEmpty, "pivotDaily: types must be non-empty")
    events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(r3(sum(col("value"))))
  }

  /** Semi-structured payload extraction + aggregate: parse the JSON
    * `props` column with a declared schema (`from_json`, codegen'd —
    * the engine-native path for the event-property bags every
    * analytics stream carries) and aggregate the extracted field per
    * event type. Schema-on-read stays a pure projection; the groupBy
    * collapses map-side to |types| rows. Malformed or missing JSON
    * yields NULL (counted out by `count(k)`), never a failed job.
    */
  def jsonAgg(events: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    events
      .withColumn("k", from_json(col("props"), schema)("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        r3(avg(col("k"))).as("avg_k"))
  }

  /** Daily active users plus a trailing `windowDays`-day rolling
    * distinct-user count (the DAU/WAU dashboard pair), exact.
    *
    * Scale shape: the raw stream first collapses to DISTINCT
    * `(day, user)` — the only stage that sees event volume, and it is
    * map-side combinable. Rolling distinct-over-a-window cannot be
    * expressed as a window aggregate without holding per-day user
    * sets, so each active day instead contributes to the ≤`windowDays`
    * window days it falls into via a join against the tiny distinct
    * `day` dimension (broadcast — days number in the thousands even
    * for decade-long logs), then one exact count-distinct per window
    * day. Fan-out is bounded by `windowDays`, never by data volume.
    */
  def activeUsersRolling(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val active = events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = active.select(col("day").as("w_day")).distinct()
    val dau = active.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val rolling = active
      .join(broadcast(days),
        col("w_day") >= col("day") &&
          col("w_day") < date_add(col("day"), windowDays))
      .groupBy(col("w_day").as("day"))
      .agg(countDistinct(col("user_id")).as("rolling_users"))
    dau.join(rolling, Seq("day"))
  }

  /** [[activeUsersRolling]]'s SKETCH tier: the same DAU/rolling pair
    * with the rolling distinct estimated by a deterministic
    * HyperLogLog (Flajolet et al. 2007), published NEXT TO the exact
    * count with its relative error — the recall-gate pattern applied
    * to a cardinality sketch.
    *
    * Determinism is the md5-PRNG convention: the 60-bit hash is the
    * first 15 hex digits of md5(user_id), identical in any engine —
    * no engine-native HLL (Spark's HLL++ and DuckDB's sketch would
    * never hash-agree). b register-index bits, rho = leading-zero
    * rank of the remaining 54 bits (via `length(bin(w))`, identical
    * semantics both engines), α₆₄ = 0.709, linear-counting fallback
    * below 2.5m with empty registers. Estimates and errors are
    * r3-rounded (ln/Σ-order ulps, the standard epsilon guard).
    *
    * THE SCALE POINT: exact rolling distinct must re-count each
    * window's user SET (state per window day = the union of its days'
    * users — at 100 TB, millions of ids per day held per window);
    * the sketch's state per (day, window) is m = 2^b registers,
    * FLAT no matter how many users exist, and the trailing-window
    * combine is a register-wise MAX — the HLL merge property — so
    * the windowed rollup never touches ids at all. Shape: one
    * map-side-combined register collapse over the event volume, a
    * broadcast day-spine fan-out bounded by windowDays·m rows per
    * day, and a scalar estimator projection.
    */
  /** The shared HLL (r, rho) projection: md5 60-bit hash of user_id,
    * low b bits → register, leading-zero rank of the rest → rho.
    * `keepNames` columns pass through (batch keeps `day`, the
    * streaming register op keeps `ts` for its watermark/window).
    * Bit ops, not arithmetic: `/` on longs is DOUBLE division in the
    * Column algebra, and a 54-bit quotient doesn't fit a double's
    * 53-bit mantissa.
    */
  private[graft] def hllRhoRows(df: DataFrame, b: Int,
                                keepNames: Seq[String]): DataFrame = {
    val m = 1 << b
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("bigint")
    df.select(keepNames.map(col) ++ Seq(
        h.bitwiseAND(lit((m - 1).toLong)).as("r"),
        shiftright(h, b).as("w")): _*)
      .select(keepNames.map(col) ++ Seq(col("r"),
        when(col("w") === 0, lit(61 - b))
          .otherwise(lit(61 - b) - length(bin(col("w")))).as("rho")): _*)
  }

  /** The shared HLL estimator over per-day max-registers `(day, r,
    * mx)`: α·m²/Σ2⁻ᴹ with the linear-counting fallback below 2.5m
    * when empty registers remain. Emits `(day, est)` unrounded — the
    * caller rounds next to its exact twin.
    */
  private[graft] def hllEstimate(reg: DataFrame, b: Int): DataFrame = {
    val m = 1 << b
    val alpha = if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    reg
      .groupBy(col("day"))
      .agg(sum(expr("1.0D / cast(shiftleft(1L, cast(mx as int)) as double)")).as("sp"),
        count(lit(1)).as("nz"))
      .select(col("day"),
        (col("sp") + (lit(m) - col("nz")).cast("double")).as("s"),
        (lit(m) - col("nz")).as("v"))
      .select(col("day"),
        (lit(alpha * m * m) / col("s")).as("raw"), col("v"))
      .select(col("day"),
        when(col("raw") <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m).cast("double") / col("v")))
          .otherwise(col("raw")).as("est"))
  }

  def activeUsersRollingApprox(events: DataFrame, windowDays: Int = 7,
                               b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 12, s"activeUsersRollingApprox: need 4 <= b <= 12, got $b")
    val reg = hllRhoRows(events.select(to_date(col("ts")).as("day"), col("user_id")),
        b, Seq("day"))
      .groupBy(col("day"), col("r")).agg(max(col("rho")).as("mx"))
    val days = reg.select(col("day").as("w_day")).distinct()
    val est = hllEstimate(
      reg
        .join(broadcast(days),
          col("w_day") >= col("day") &&
            col("w_day") < date_add(col("day"), windowDays))
        .groupBy(col("w_day"), col("r")).agg(max(col("mx")).as("mx"))
        .select(col("w_day").as("day"), col("r"), col("mx")), b)
    activeUsersRolling(events, windowDays)
      .join(est, Seq("day"))
      .select(col("day"), col("dau"), col("rolling_users"),
        r3(col("est")).as("hll_users"),
        r3(abs(col("est") - col("rolling_users")) / col("rolling_users"))
          .as("rel_err"))
  }

  /** Daily DAU by HLL, published NEXT TO the exact count — the
    * batch/backfill twin of [[graft.streaming.StreamOps.hllRegisterStream]]:
    * the streamed registers collapse to exactly these rows, so a
    * lakehouse can maintain the sketch incrementally at ingest and
    * re-derive this table from registers alone (the estimator never
    * touches user ids).
    */
  def hllDailyUsers(events: DataFrame, b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 12, s"hllDailyUsers: need 4 <= b <= 12, got $b")
    val reg = hllRhoRows(events.select(to_date(col("ts")).as("day"), col("user_id")),
        b, Seq("day"))
      .groupBy(col("day"), col("r")).agg(max(col("rho")).as("mx"))
    val exact = events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    exact.join(hllEstimate(reg, b), Seq("day"))
      .select(col("day"), col("dau"),
        r3(col("est")).as("hll_users"),
        r3(abs(col("est") - col("dau")) / col("dau")).as("rel_err"))
  }

  /** Weekly retention cohorts: users grouped by their FIRST active
    * week (Monday-truncated), n_users = distinct users of that cohort
    * active again `week_n` weeks later — the canonical cohort
    * triangle. Active weeks are distinct-projected per user first, so
    * the heavy input collapses to ≤ |users|·|weeks| compact rows
    * before any join; the cohort attach joins per-user scalars.
    */
  def retention(events: DataFrame): DataFrame = {
    val active = events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val cohorts = active.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    active.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_n"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Cohort LIFETIME VALUE: [[retention]]'s triangle with REVENUE in
    * the cells — per (first-active-week cohort, week offset): that
    * week's purchase revenue, the running cumulative, cohort size,
    * and cumulative LTV per cohort user — the payback-period table a
    * growth team reads next to the retention triangle (retention says
    * users come back; LTV says what that's worth, and the
    * ltv_per_user column is what an acquisition bid is priced
    * against).
    *
    * Scale plan: per-user cohort scalars come from one distinct-week
    * projection ([[retention]]'s shape); revenue collapses map-side to
    * (cohort, week_n) cells; the cumulative window runs over the
    * cohort-triangle frame (≤ weeks² rows), never the data. Raw sums
    * round once per cell; the cumulative sums the UNROUNDED cells and
    * rounds at emission (one-rounding discipline).
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("wk"),
      col("event_type"), col("value"))
    val cohorts = base.select(col("user_id"), col("wk")).distinct()
      .groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort"))
      .agg(countDistinct(col("user_id")).as("cohort_users"))
    val cells = base.where(col("event_type") === "purchase")
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_n"))
      .agg(sum(col("value")).as("raw_rev"))
    val cum = Window.partitionBy(col("cohort")).orderBy(col("week_n"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.join(sizes, Seq("cohort"))
      .withColumn("raw_cum", sum(col("raw_rev")).over(cum))
      .select(col("cohort"), col("week_n"),
        r3(col("raw_rev")).as("revenue"),
        r3(col("raw_cum")).as("cum_revenue"),
        col("cohort_users"),
        r3(col("raw_cum") / col("cohort_users"))
          .as("ltv_per_user"))
  }

  /** OHLC resample bars — the finance-standard per-(key, day) summary
    * (kdb/tick-store surface; the reference's daily resample takes
    * the mean, a bar keeps the path's endpoints and extremes): open /
    * close = the day's first / last value by (ts, event_id) (the
    * deterministic tie order every sequential op here uses), high /
    * low = extremes, n_events and the r3 mean alongside.
    *
    * Scale plan: ONE map-side-combined groupBy; open/close ride as
    * min/max over a (ts_us, event_id, value) struct (lexicographic —
    * the endpoint's own value stays attached to its timestamp, two
    * independent aggregates could mix rows), so the whole bar is one
    * partial-aggregable pass, no window.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts_us"), col("event_id"), col("value"))).as("c"),
        min(col("value")).as("low"), max(col("value")).as("high"),
        count(lit(1)).as("n_events"),
        r3(avg(col("value"))).as("mean_value"))
      .select(col("user_id"), col("day"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n_events"), col("mean_value"))

  /** k-anonymity audit over a quasi-identifier: groups of
    * (event_type, day) whose distinct-user count is below `k` — the
    * re-identification risk surface a privacy review needs BEFORE a
    * dataset ships (rows in small groups are linkable). Emits only
    * the violating groups with their user/event counts.
    *
    * Scale plan: one groupBy with a distinct-count (Spark expands to
    * two-phase partial distinct — map-side dedup of (qid, user) before
    * the exchange); the violation filter prunes on the aggregate.
    */
  def kAnonymityAudit(events: DataFrame, k: Int,
                      grain: String = "hour"): DataFrame =
    events
      .select(col("event_type"), date_trunc(grain, col("ts")).as("qid_ts"),
        col("user_id"))
      .groupBy(col("event_type"), col("qid_ts"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .where(col("n_users") < k)

  /** CDC log → current snapshot: the latest row per key (MERGE-upsert
    * compaction — what a Delta/Hudi "latest snapshot" read computes).
    * Order is (ts, event_id) so timestamp ties resolve
    * deterministically.
    *
    * Scale plan: a single `max_by` aggregate — one map-side-combined
    * shuffle carrying one candidate row per (partition, key), never a
    * per-key sort. The window-based formulation (row_number = 1) must
    * sort every key's full history; the aggregate keeps only the
    * running max.
    */
  def cdcLatest(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"),
        col("m.ts").as("last_ts"),
        col("m.event_type").as("last_type"),
        col("m.value").as("last_value"))

  /** SCD Type-2 history: collapse each key's attribute stream
    * (`event_type` as the tracked attribute, ordered by ts with
    * event_id tie-break) into validity intervals — one row per
    * consecutive run with `valid_from`, `valid_to` (NULL = current)
    * and the run's event count. The dimension-table shape every
    * warehouse derives from a CDC feed.
    *
    * Scale plan: change-flag (lag) → running sum → per-run aggregate →
    * lead over runs, ALL on the same user_id partitioning: one
    * shuffle end-to-end, and the lead window runs over runs, not
    * events.
    */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val runs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("run_id"))
      .agg(min(col("event_type")).as("attr"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wr = Window.partitionBy("user_id").orderBy(col("run_id"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wr))
      .select(col("user_id"), col("run_id"), col("attr"),
        col("valid_from"), col("valid_to"), col("n_events"),
        col("valid_to").isNull.as("is_current"))
  }
}
