package graft

/** DuckDB oracle SQL for each query in [[SparkEntry.queries]].
  *
  * Mirrors the Spark plans stage-for-stage, including the canonical
  * floor-based rounding (see [[graft.operators.TimeSeries]]), so
  * results hash-match bit-for-bit. Composed from shared CTE fragments
  * to keep both sides in sync.
  */
object OracleSql {

  /** Canonical rounding — same IEEE ops as the Spark side, with the
    * same ε guard against parallel-sum FP noise at half-boundaries.
    */
  private def R(e: String, p: Int = 3): String = {
    val f = math.pow(10, p).toLong
    s"FLOOR(($e) * $f + 0.5001) / $f"
  }

  /** The recall@k tail of every recall oracle, the SQL twin of
    * `Similarity.recallAt`: the `exact` CTE (qid, vid) LEFT JOIN the
    * approximate rows `a` (qid, vid, hit = 1), one row per query with
    * columns (`tags`…, qid, n_exact, n_hit, recall). Untagged
    * ([[recallTail]]) it reads the `approx` CTE and orders by qid;
    * tagged, it is one branch of a sweep's UNION ALL over an inline
    * approx subquery, and the sweep orders the union.
    */
  private def recallBranch(tags: String, approx: String): String = {
    val (head, on, order) =
      if (tags.isEmpty) ("x.qid, COUNT(*) AS n_exact,", " ", " ORDER BY x.qid")
      else (s"$tags, x.qid,\n       COUNT(*) AS n_exact,", "\n  ", "")
    s"""SELECT $head
       |       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hit,
       |       ${R("SUM(COALESCE(a.hit, 0)) / COUNT(*)")} AS recall
       |FROM exact x LEFT JOIN $approx${on}ON x.qid = a.qid AND x.vid = a.vid
       |GROUP BY x.qid$order""".stripMargin
  }

  /** [[recallBranch]] untagged, over the `approx` CTE. */
  private def recallTail: String = recallBranch("", "approx a")

  /** The exact cosine top-k every recall oracle scores against: `xs`
    * scores each (query of `q`, other row of `e`) pair on the vector
    * column `v`, with the extra predicate `cond` (columns prefixed by
    * their CTE when `qualified`); `xr` ranks per query; `exact` keeps
    * the (qid, vid) pairs ranked within `k`.
    */
  private def exactTopK(e: String, q: String, k: Int, v: String = "v",
                        cond: String = "", qualified: Boolean = false): String = {
    val (eq, qq) = if (qualified) (s"$e.", s"$q.") else ("", "")
    s"""xs AS (
       |  SELECT ${qq}qid, ${eq}vec_id AS vid, ${R(s"list_cosine_similarity(${qq}qv, $eq$v)")} AS cos
       |  FROM $e CROSS JOIN $q WHERE ${eq}vec_id != ${qq}qid$cond),
       |xr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
       |  FROM xs),
       |exact AS (SELECT qid, vid FROM xr WHERE rank <= $k)""".stripMargin
  }

  /** Recall@k of the `approxSql` answer's (qid, vid) rows against the
    * exact cosine top-k of the first `nQueries` vectors, restricted to
    * `label = qid % nLabels` when `nLabels` > 0.
    */
  private def approxRecall(approxSql: String, nQueries: Int, k: Int,
                           nLabels: Int = 0): String = {
    val (label, cond) =
      if (nLabels > 0) ("label, ", s" AND label = qid % $nLabels") else ("", "")
    s"""WITH approx AS (
       |  SELECT qid, vid, 1 AS hit FROM (
       |$approxSql) a),
       |e3 AS (SELECT vec_id, ${label}CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |       WHERE embedding IS NOT NULL),
       |q3 AS (SELECT vec_id AS qid, v AS qv FROM e3 WHERE vec_id < $nQueries),
       |${exactTopK("e3", "q3", k, cond = cond)}
       |$recallTail""".stripMargin
  }

  /** Daily resample of events — the shared base of the series chain. */
  val daily: String =
    s"""daily AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         ${R("SUM(value)")} AS v
       |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Centered moving-average trend over `daily`. */
  def trendCte(half: Int): String =
    s"""trend_t AS (
       |  SELECT user_id, day, v,
       |         ${R(s"AVG(v) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN $half PRECEDING AND $half FOLLOWING)")} AS trend
       |  FROM daily)""".stripMargin

  val detrendCte: String =
    s"""det AS (
       |  SELECT user_id, day, v, trend, ${R("v - trend")} AS detrended
       |  FROM trend_t)""".stripMargin

  val scaleCte: String =
    s"""sc1 AS (
       |  SELECT *, ${R("AVG(detrended) OVER (PARTITION BY user_id)")} AS mean,
       |         ${R("STDDEV_POP(detrended) OVER (PARTITION BY user_id)")} AS std
       |  FROM det),
       |sc AS (
       |  SELECT user_id, day, v, trend, detrended, mean, std,
       |         ${R("(detrended - mean) / NULLIF(std, 0)")} AS scaled
       |  FROM sc1)""".stripMargin

  /** np.gradient-style centered difference of column `c` in CTE `src`,
    * emitting CTE `out` with all of `keep` plus gradient column `gcol`.
    */
  def gradCte(src: String, c: String, gcol: String, out: String, keep: String): String =
    s"""${out}_pre AS (
       |  SELECT $keep, $c,
       |         LAG($c) OVER (PARTITION BY user_id ORDER BY day) AS _p,
       |         LEAD($c) OVER (PARTITION BY user_id ORDER BY day) AS _n
       |  FROM $src),
       |$out AS (
       |  SELECT $keep, $c,
       |         ${R(s"CASE WHEN _p IS NULL AND _n IS NULL THEN 0.0 WHEN _p IS NULL THEN _n - $c WHEN _n IS NULL THEN $c - _p ELSE (_n - _p) / 2 END")} AS $gcol
       |  FROM ${out}_pre)""".stripMargin

  /** Lag/rolling feature matrix: complete training rows only. */
  def lagFeatures(lags: Seq[Int], maWindow: Int): String = {
    require(lags.nonEmpty, "lagFeatures: lags must be non-empty")
    val lagCols = lags.map(l => s"LAG(v, $l) OVER w AS lag_$l").mkString(", ")
    val notNull = lags.map(l => s"lag_$l IS NOT NULL").mkString(" AND ")
    s"""WITH $daily,
       |f AS (
       |  SELECT user_id, day, v, $lagCols,
       |         ${R(s"AVG(v) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN ${maWindow - 1} PRECEDING AND CURRENT ROW)")} AS ma_$maWindow,
       |         ROW_NUMBER() OVER w AS rn
       |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day))
       |SELECT user_id, day, v, ${lags.map(l => s"lag_$l").mkString(", ")}, ma_$maWindow
       |FROM f WHERE $notNull AND rn >= $maWindow
       |ORDER BY user_id, day""".stripMargin
  }

  val resample: String =
    s"WITH $daily SELECT user_id, day, v FROM daily ORDER BY user_id, day"

  def trend(half: Int): String =
    s"WITH $daily, ${trendCte(half)} SELECT user_id, day, v, trend FROM trend_t ORDER BY user_id, day"

  def detrend(half: Int): String =
    s"WITH $daily, ${trendCte(half)}, $detrendCte " +
      "SELECT user_id, day, v, trend, detrended FROM det ORDER BY user_id, day"

  def scale(half: Int): String =
    s"WITH $daily, ${trendCte(half)}, $detrendCte, $scaleCte " +
      "SELECT user_id, day, v, trend, detrended, mean, std, scaled FROM sc ORDER BY user_id, day"

  val gradient: String =
    s"WITH $daily, ${gradCte("daily", "v", "grad", "g", "user_id, day")} " +
      "SELECT user_id, day, v, grad FROM g ORDER BY user_id, day"

  def windowXY(nX: Int, nY: Int): String =
    s"""WITH $daily,
       |numbered AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily)
       |SELECT user_id, day, v,
       |       CASE WHEN rn_end <= $nY THEN 'y' ELSE 'X' END AS part
       |FROM numbered WHERE rn_end <= ${nX + nY}
       |ORDER BY user_id, day""".stripMargin

  /** Tail-window slope + per-key extrapolation shared by
    * extrapolate/forecast oracles. Expects `trend_t` to exist.
    * `median = false` is the reference's mean-slope path.
    */
  private def extrapolateCtes(window: Int, median: Boolean = true): String = {
    val slope = if (median) "MEDIAN(g)" else "AVG(g)"
    s"""${gradCte("trend_t", "trend", "g", "gr", "user_id, day")},
       |tail AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM gr),
       |perkey AS (
       |  SELECT user_id, ${R(slope)} AS slope,
       |         ARG_MAX(trend, day) AS last_trend, MAX(day) AS last_day
       |  FROM tail WHERE rn_end <= $window GROUP BY user_id)""".stripMargin
  }

  def extrapolateTrend(half: Int, window: Int, horizon: Int,
                       median: Boolean = true): String =
    s"""WITH $daily, ${trendCte(half)}, ${extrapolateCtes(window, median)}
       |SELECT user_id, (last_day + CAST(h AS INTEGER)) AS day,
       |       ${R("last_trend + slope * h")} AS v_hat
       |FROM perkey CROSS JOIN generate_series(1, $horizon) AS t(h)
       |ORDER BY user_id, day""".stripMargin

  def extrapolateTrendTrain(half: Int, window: Int, horizon: Int): String =
    s"""WITH $daily, ${trendCte(half)},
       |${gradCte("trend_t", "trend", "g", "gr", "user_id, day")},
       |tail AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM gr),
       |perkey AS (
       |  SELECT user_id, ${R("MEDIAN(g)")} AS slope,
       |         MAX(CASE WHEN rn_end = ${horizon + 1} THEN trend END) AS anchor_trend,
       |         MAX(CASE WHEN rn_end = ${horizon + 1} THEN day END) AS anchor_day
       |  FROM tail WHERE rn_end <= ${window + horizon} GROUP BY user_id)
       |SELECT user_id, (anchor_day + CAST(h AS INTEGER)) AS day,
       |       ${R("anchor_trend + slope * h")} AS v_hat
       |FROM perkey CROSS JOIN generate_series(1, $horizon) AS t(h)
       |ORDER BY user_id, day""".stripMargin

  val quantiles: String =
    s"""WITH $daily
       |SELECT user_id,
       |       ${R("quantile_cont(v, 0.25)")} AS p25,
       |       ${R("quantile_cont(v, 0.5)")} AS p50,
       |       ${R("quantile_cont(v, 0.75)")} AS p75,
       |       ${R("quantile_cont(v, 0.95)")} AS p95
       |FROM daily GROUP BY user_id ORDER BY user_id""".stripMargin

  val skewSafeAgg: String =
    s"""SELECT event_type, COUNT(*) AS n_events, ${R("SUM(value)")} AS total_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def trajectory(half: Int, windowDays: Int, median: Boolean = true): String =
    s"""WITH $daily, ${trendCte(half)},
       |${gradCte("trend_t", "trend", "g", "gr", "user_id, day")},
       |tail AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM gr)
       |SELECT user_id, ${R(s"${if (median) "MEDIAN(g)" else "AVG(g)"} * 30.5")} AS trajectory
       |FROM tail WHERE rn_end <= $windowDays GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  def cleaning(threshold: Int): String =
    s"""WITH $daily,
       |d AS (
       |  SELECT user_id, v - LAG(v) OVER (PARTITION BY user_id ORDER BY day) AS diff
       |  FROM daily)
       |SELECT user_id,
       |       CASE WHEN SUM(CASE WHEN diff IS NOT NULL AND diff <> 0 THEN 1 ELSE 0 END) >= $threshold
       |            THEN 1 ELSE 0 END AS keep
       |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  val split: String =
    s"""WITH $daily,
       |b AS (
       |  SELECT *, CAST(CONCAT('0x', SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INTEGER) % 10 AS bucket
       |  FROM daily)
       |SELECT CASE WHEN bucket <= 5 THEN 'train' WHEN bucket <= 7 THEN 'val' ELSE 'test' END AS subset,
       |       COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users
       |FROM b GROUP BY 1 ORDER BY subset""".stripMargin

  /** Forecast baseline: history = all but last `horizon` days; forecast
    * = series mean (stub model) + extrapolated trend; joined to actuals.
    */
  def forecastCtes(half: Int, window: Int, horizon: Int,
                   dailyCte: String = daily): String =
    s"""$dailyCte,
       |numbered AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily),
       |history AS (SELECT user_id, day, v FROM numbered WHERE rn_end > $horizon),
       |trend_t AS (
       |  SELECT user_id, day, v,
       |         ${R(s"AVG(v) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN $half PRECEDING AND $half FOLLOWING)")} AS trend
       |  FROM history),
       |$detrendCte, $scaleCte,
       |meankey AS (SELECT user_id, MAX(mean) AS mean FROM sc GROUP BY user_id),
       |${extrapolateCtes(window)},
       |fc AS (
       |  SELECT p.user_id, (last_day + CAST(h AS INTEGER)) AS day,
       |         ${R(R("last_trend + slope * h") + " + m.mean")} AS v_hat
       |  FROM perkey p JOIN meankey m ON p.user_id = m.user_id
       |  CROSS JOIN generate_series(1, $horizon) AS t(h)),
       |joined AS (
       |  SELECT f.user_id, f.day, f.v_hat, a.v AS v_actual
       |  FROM fc f JOIN numbered a ON f.user_id = a.user_id AND f.day = a.day
       |  WHERE a.rn_end <= $horizon)""".stripMargin

  def forecastBaseline(half: Int, window: Int, horizon: Int): String =
    s"""WITH ${forecastCtes(half, window, horizon)}
       |SELECT user_id, day, v_hat, v_actual FROM joined ORDER BY user_id, day""".stripMargin

  /** Rolling-origin backtest: the full forecast chain re-run per fold
    * over a composite (user·mult + fold) key — fold f drops the last
    * (f−1)·horizon days before the usual holdout split, so every CTE
    * of the baseline chain applies verbatim to the synthesized key.
    */
  def backtestRolling(half: Int, window: Int, horizon: Int,
                      nFolds: Int, mult: Long = 1000000L): String = {
    val foldDaily =
      s"""rd AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         |         ${R("SUM(value)")} AS v
         |  FROM events GROUP BY 1, 2),
         |rn0 AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end0
         |  FROM rd),
         |daily AS (
         |  SELECT user_id * $mult + f.fold AS user_id, day, v
         |  FROM rn0 CROSS JOIN generate_series(1, $nFolds) f(fold)
         |  WHERE rn_end0 > (f.fold - 1) * $horizon)""".stripMargin
    s"""WITH ${forecastCtes(half, window, horizon, foldDaily)}
       |SELECT CAST(user_id // $mult AS BIGINT) AS user_id,
       |       CAST(user_id % $mult AS BIGINT) AS fold,
       |       CAST(COUNT(*) AS BIGINT) AS n_scored,
       |       ${R("AVG(ABS(v_hat - v_actual))")} AS mae
       |FROM joined GROUP BY 1, 2 ORDER BY user_id, fold""".stripMargin
  }

  /** Random-walk prediction intervals: the forecast chain + per-key
    * one-step volatility + `v_hat ± z·σ·√step` bands and the
    * coverage flag (compared against the ROUNDED bands both sides).
    */
  def forecastIntervals(half: Int, window: Int, horizon: Int,
                        z: Double = 1.96): String =
    s"""WITH ${forecastCtes(half, window, horizon)},
       |df AS (
       |  SELECT user_id, v - LAG(v) OVER (PARTITION BY user_id ORDER BY day) AS d
       |  FROM history),
       |sg AS (SELECT user_id, STDDEV_POP(d) AS sigma FROM df WHERE d IS NOT NULL GROUP BY 1),
       |st AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS step
       |  FROM joined),
       |iv AS (
       |  SELECT st.user_id, st.day, st.v_hat, st.v_actual,
       |         ${R(s"st.v_hat - $z * sg.sigma * SQRT(step)")} AS lo,
       |         ${R(s"st.v_hat + $z * sg.sigma * SQRT(step)")} AS hi
       |  FROM st JOIN sg ON sg.user_id = st.user_id)
       |SELECT user_id, day, v_hat, v_actual, lo, hi,
       |       CAST(CASE WHEN v_actual >= lo AND v_actual <= hi THEN 1 ELSE 0 END AS INTEGER) AS covered
       |FROM iv ORDER BY user_id, day""".stripMargin

  /** Per-series metrics at multiple horizons — the reference's
    * 1-month/3-month split (notebooks/scoring.py:384-470).
    */
  def metricsHorizon(half: Int, window: Int, horizon: Int,
                     horizons: Seq[Int]): String = {
    val hvals = horizons.map(h => s"($h)").mkString(", ")
    s"""WITH ${forecastCtes(half, window, horizon)},
       |st AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS step
       |  FROM joined),
       |hz AS (
       |  SELECT st.*, hs.horizon FROM st
       |  CROSS JOIN (VALUES $hvals) hs(horizon)
       |  WHERE st.step <= hs.horizon),
       |m AS (SELECT *, AVG(v_actual) OVER (PARTITION BY user_id, horizon) AS mu FROM hz)
       |SELECT user_id, CAST(horizon AS BIGINT) AS horizon,
       |       ${R("AVG((v_hat - v_actual) * (v_hat - v_actual))")} AS mse,
       |       ${R("AVG(ABS(v_hat - v_actual))")} AS mae,
       |       ${R("1.0 - SUM((v_hat - v_actual) * (v_hat - v_actual)) / NULLIF(SUM((v_actual - mu) * (v_actual - mu)), 0)")} AS r2
       |FROM m GROUP BY user_id, horizon ORDER BY user_id, horizon""".stripMargin
  }

  /** Bucketed range join gate: error events matched into their
    * (user, day) event-span interval — DuckDB checks the plain
    * key + BETWEEN containment join.
    */
  val rangeJoin: String =
    s"""WITH iv AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
       |  FROM events GROUP BY 1, 2),
       |pt AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
       |  FROM events WHERE event_type = 'error')
       |SELECT p.user_id, p.event_id, i.day, ${R("p.value")} AS value
       |FROM pt p JOIN iv i
       |  ON p.user_id = i.user_id AND p.ts_us >= i.t0 AND p.ts_us <= i.t1
       |ORDER BY p.user_id, p.event_id, i.day""".stripMargin

  def metrics(half: Int, window: Int, horizon: Int): String =
    s"""WITH ${forecastCtes(half, window, horizon)},
       |m AS (SELECT *, AVG(v_actual) OVER (PARTITION BY user_id) AS mu FROM joined)
       |SELECT user_id,
       |       ${R("AVG((v_hat - v_actual) * (v_hat - v_actual))")} AS mse,
       |       ${R("AVG(ABS(v_hat - v_actual))")} AS mae,
       |       ${R("1.0 - SUM((v_hat - v_actual) * (v_hat - v_actual)) / NULLIF(SUM((v_actual - mu) * (v_actual - mu)), 0)")} AS r2
       |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  /** TPC-H Q3-style shipping-priority join-agg. */
  val q3JoinAgg: String =
    s"""SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
       |  ${R("CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)", 2)} AS revenue
       |FROM customer c
       |JOIN orders o ON c.c_custkey = o.o_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |WHERE c.c_mktsegment = 'BUILDING'
       |  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
       |  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
       |GROUP BY l.l_orderkey, o.o_orderdate
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** TPC-H Q10-style returned-item customer ranking. */
  val q10Returns: String =
    s"""WITH rev AS (
       |  SELECT o.o_custkey,
       |         ${R("CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)", 2)} AS revenue
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE l.l_returnflag = 'R'
       |    AND o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
       |    AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
       |  GROUP BY 1)
       |SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal, rev.revenue
       |FROM rev
       |JOIN customer c ON c.c_custkey = rev.o_custkey
       |JOIN nation n ON n.n_nationkey = c.c_nationkey
       |ORDER BY rev.revenue DESC, c.c_custkey
       |LIMIT 20""".stripMargin

  /** Grouped top-k with deterministic tie-break. */
  val topkPerGroup: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |           ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  /** As-of join oracle — DuckDB's native ASOF LEFT JOIN (inclusive). */
  val asofJoin: String =
    s"""WITH $daily,
       |err AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         ${R("MAX(value)")} AS err_v
       |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
       |SELECT d.user_id, d.day, d.v, e.err_v AS asof_err_v, e.day AS asof_err_day
       |FROM daily d ASOF LEFT JOIN err e
       |  ON d.user_id = e.user_id AND d.day >= e.day
       |ORDER BY d.user_id, d.day""".stripMargin

  /** Forward as-of: earliest error on/after each day. */
  val asofJoinForward: String =
    s"""WITH $daily,
       |err AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         ${R("MAX(value)")} AS err_v
       |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
       |SELECT d.user_id, d.day, d.v, e.err_v AS asof_err_v, e.day AS asof_err_day
       |FROM daily d ASOF LEFT JOIN err e
       |  ON d.user_id = e.user_id AND d.day <= e.day
       |ORDER BY d.user_id, d.day""".stripMargin

  /** Nearest as-of: the closer of the backward/forward matches by day
    * distance, backward on ties.
    */
  val asofJoinNearest: String =
    s"""WITH $daily,
       |err AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         ${R("MAX(value)")} AS err_v
       |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
       |bk AS (
       |  SELECT d.user_id, d.day, d.v, e.err_v AS b_v, e.day AS b_day
       |  FROM daily d ASOF LEFT JOIN err e
       |    ON d.user_id = e.user_id AND d.day >= e.day),
       |fw AS (
       |  SELECT d.user_id, d.day, e.err_v AS f_v, e.day AS f_day
       |  FROM daily d ASOF LEFT JOIN err e
       |    ON d.user_id = e.user_id AND d.day <= e.day)
       |SELECT b.user_id, b.day, b.v,
       |       CASE WHEN b.b_day IS NOT NULL AND (f.f_day IS NULL OR
       |                  date_diff('day', b.b_day, b.day) <= date_diff('day', b.day, f.f_day))
       |            THEN b.b_v ELSE f.f_v END AS near_err_v,
       |       CASE WHEN b.b_day IS NOT NULL AND (f.f_day IS NULL OR
       |                  date_diff('day', b.b_day, b.day) <= date_diff('day', b.day, f.f_day))
       |            THEN b.b_day ELSE f.f_day END AS near_err_day
       |FROM bk b JOIN fw f ON f.user_id = b.user_id AND f.day = b.day
       |ORDER BY b.user_id, b.day""".stripMargin

  /** Gap-based sessionization (30-minute gap). */
  /** Funnel ladder: tᵢ = first stage-i event strictly after tᵢ₋₁
    * (and within `maxGapUs` of it when set — the conversion
    * deadline).
    */
  def funnel(stages: Seq[String], maxGapUs: Option[Long] = None): String = {
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""t1 AS (
           |  SELECT user_id, MIN(epoch_us(ts)) AS t1_us FROM events
           |  WHERE event_type = '$st' GROUP BY 1)""".stripMargin
      else {
        val window = maxGapUs
          .map(g => s" AND epoch_us(e.ts) <= t$i.t${i}_us + $g").getOrElse("")
        s"""t${i + 1} AS (
           |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t${i + 1}_us
           |  FROM events e JOIN t$i ON t$i.user_id = e.user_id
           |  WHERE e.event_type = '$st' AND epoch_us(e.ts) > t$i.t${i}_us$window
           |  GROUP BY 1)""".stripMargin
      }
    }.mkString(",\n")
    val tCols = stages.indices.map(i => s"t${i + 1}.t${i + 1}_us").mkString(", ")
    val stage = stages.indices.map(i =>
      s"CASE WHEN t${i + 1}.t${i + 1}_us IS NOT NULL THEN 1 ELSE 0 END").mkString(" + ")
    val joins = stages.indices.tail.map(i =>
      s"LEFT JOIN t${i + 1} ON t${i + 1}.user_id = t1.user_id").mkString("\n")
    s"""WITH $ctes
       |SELECT t1.user_id, $tCols, CAST($stage AS BIGINT) AS stage
       |FROM t1
       |$joins
       |ORDER BY t1.user_id""".stripMargin
  }

  /** Weekly churn rollup: (user, week) distinct, next-week self-join,
    * first-seen counts; final week's churn NULL.
    */
  val churnWeekly: String =
    s"""WITH uw AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
       |  FROM events),
       |fl AS (
       |  SELECT a.week, COUNT(*) AS n_active,
       |         CAST(SUM(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
       |  FROM uw a LEFT JOIN uw b
       |    ON b.user_id = a.user_id AND b.week = a.week + 7
       |  GROUP BY 1),
       |fs AS (
       |  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_new FROM (
       |    SELECT user_id, MIN(week) AS week FROM uw GROUP BY 1)
       |  GROUP BY 1),
       |mx AS (SELECT MAX(week) AS maxw FROM uw)
       |SELECT f.week, f.n_active,
       |       CASE WHEN f.week < mx.maxw THEN f.n_churned END AS n_churned,
       |       COALESCE(s.n_new, 0) AS n_new,
       |       CASE WHEN f.week < mx.maxw
       |            THEN ${R("CAST(f.n_churned AS DOUBLE) / f.n_active")} END AS churn_rate
       |FROM fl f LEFT JOIN fs s ON s.week = f.week CROSS JOIN mx
       |ORDER BY f.week""".stripMargin

  /** Funnel stage-transition latency: the ladder as a CTE, one UNION
    * branch per transition, quantile_cont = Spark percentile.
    */
  def funnelLatency(stages: Seq[String], maxGapUs: Option[Long] = None): String = {
    val branches = stages.indices.dropRight(1).map { i =>
      s"""SELECT ${i + 1} AS step, '${stages(i)}->${stages(i + 1)}' AS transition,
         |       (t${i + 2}_us - t${i + 1}_us) / 1000000.0 AS gap_s
         |FROM base WHERE t${i + 2}_us IS NOT NULL""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |${funnel(stages, maxGapUs)}),
       |g AS (
       |$branches)
       |SELECT CAST(step AS INT) AS step, transition, COUNT(*) AS n_converted,
       |       ${R("AVG(gap_s)")} AS mean_s,
       |       ${R("quantile_cont(gap_s, 0.5)")} AS p50_s,
       |       ${R("quantile_cont(gap_s, 0.9)")} AS p90_s
       |FROM g GROUP BY 1, 2 ORDER BY step""".stripMargin
  }

  /** anomalyStream's batch twin: per-(user, type) rounded profile,
    * events with |rounded z| ≥ z, constant-sigma groups excluded.
    */
  def anomalyBatch(z: Double): String =
    s"""WITH p AS (
       |  SELECT user_id, event_type, ${R("AVG(value)")} AS mu,
       |         ${R("STDDEV_POP(value)")} AS sigma
       |  FROM events GROUP BY 1, 2)
       |SELECT e.event_id, e.user_id, e.event_type, epoch_us(e.ts) AS ts_us,
       |       e.value, ${R("(e.value - p.mu) / p.sigma")} AS zscore
       |FROM events e JOIN p USING (user_id, event_type)
       |WHERE p.sigma > 0 AND ABS(${R("(e.value - p.mu) / p.sigma")}) >= $z
       |ORDER BY e.event_id""".stripMargin

  /** Completed funnels only, with their stage times — funnelStream's
    * batch-twin oracle.
    */
  def funnelComplete(stages: Seq[String]): String = {
    val tCols = stages.indices.map(i => s"t${i + 1}_us").mkString(", ")
    s"""SELECT user_id, $tCols FROM (
       |${funnel(stages)}
       |) WHERE stage = ${stages.size} ORDER BY user_id""".stripMargin
  }

  /** Trailing-window Bollinger envelope; bands compose the ROUNDED
    * mid/σ exactly like the Spark side.
    */
  def bollinger(n: Int, k: Double): String = {
    val w = s"OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)"
    s"""WITH $daily,
       |b AS (
       |  SELECT user_id, day, v,
       |         ${R(s"AVG(v) $w")} AS mid,
       |         ${R(s"STDDEV_POP(v) $w")} AS sd
       |  FROM daily)
       |SELECT user_id, day, v, mid, sd,
       |       ${R(s"mid + $k * sd")} AS upper,
       |       ${R(s"mid - $k * sd")} AS lower,
       |       CASE WHEN sd > 0.0 THEN ${R(s"(v - (${R(s"mid - $k * sd")})) / ((${R(s"mid + $k * sd")}) - (${R(s"mid - $k * sd")}))")} END AS pct_b
       |FROM b ORDER BY user_id, day""".stripMargin
  }

  /** First-kMax Fourier coefficients per key (a_k, b_k, power). */
  def harmonics(kMax: Int): String =
    s"""WITH $daily,
       |idx AS (
       |  SELECT user_id, v,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS DOUBLE) AS i,
       |         CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS n
       |  FROM daily),
       |ex AS (
       |  SELECT user_id, v, i, n, UNNEST(generate_series(1, $kMax)) AS k FROM idx),
       |h AS (
       |  SELECT user_id, k,
       |         ${R("2.0 * SUM(v * COS(2.0 * PI() * k * i / n)) / MAX(n)")} AS a_k,
       |         ${R("2.0 * SUM(v * SIN(2.0 * PI() * k * i / n)) / MAX(n)")} AS b_k
       |  FROM ex GROUP BY 1, 2)
       |SELECT user_id, k, a_k, b_k, ${R("a_k * a_k + b_k * b_k")} AS power
       |FROM h ORDER BY user_id, k""".stripMargin

  /** Split-half stationarity diagnostic per key. */
  val stationarity: String =
    s"""WITH $daily,
       |idx AS (
       |  SELECT user_id, v,
       |         CASE WHEN (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1) * 2
       |                   < COUNT(*) OVER (PARTITION BY user_id)
       |              THEN 0 ELSE 1 END AS half
       |  FROM daily),
       |st AS (
       |  SELECT user_id,
       |         ${R("AVG(CASE WHEN half = 0 THEN v END)")} AS mu1,
       |         ${R("AVG(CASE WHEN half = 1 THEN v END)")} AS mu2,
       |         ${R("VAR_POP(CASE WHEN half = 0 THEN v END)")} AS var1,
       |         ${R("VAR_POP(CASE WHEN half = 1 THEN v END)")} AS var2
       |  FROM idx GROUP BY 1)
       |SELECT user_id, mu1, mu2, var1, var2,
       |       ${R("ABS(mu2 - mu1)")} AS level_shift,
       |       CASE WHEN var1 > 0.0 THEN ${R("var2 / var1")} END AS var_ratio
       |FROM st ORDER BY user_id""".stripMargin

  /** First-order event-type transition matrix with P(next | prev). */
  val pathTransitions: String =
    s"""WITH p AS (
       |  SELECT user_id, event_type,
       |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
       |  FROM events),
       |c AS (
       |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
       |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
       |SELECT prev_type, next_type, n_transitions,
       |       ${R("CAST(n_transitions AS DOUBLE) / SUM(n_transitions) OVER (PARTITION BY prev_type)")} AS p_transition
       |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** Z-order clustering audit over lineitem: per-file row count +
    * (bin_x, bin_y) bounding rectangle. Pure integer arithmetic
    * (`//` ≡ Spark's `div` on non-negative BIGINTs).
    */
  def layoutZorder(xCol: String, yCol: String, bits: Int, files: Int): String = {
    val nb = 1L << bits
    val interleave = (0 until bits).map { b =>
      s"((bin_x // ${1L << b}) % 2) * ${1L << (2 * b)} + " +
        s"((bin_y // ${1L << b}) % 2) * ${1L << (2 * b + 1)}"
    }.mkString(" + ")
    s"""WITH st AS (
       |  SELECT MIN(CAST($xCol AS BIGINT)) AS zmin_x, MAX(CAST($xCol AS BIGINT)) AS zmax_x,
       |         MIN(CAST($yCol AS BIGINT)) AS zmin_y, MAX(CAST($yCol AS BIGINT)) AS zmax_y
       |  FROM lineitem),
       |b AS (
       |  SELECT ((CAST(l.$xCol AS BIGINT) - st.zmin_x) * $nb) // (st.zmax_x - st.zmin_x + 1) AS bin_x,
       |         ((CAST(l.$yCol AS BIGINT) - st.zmin_y) * $nb) // (st.zmax_y - st.zmin_y + 1) AS bin_y
       |  FROM lineitem l CROSS JOIN st),
       |z AS (SELECT bin_x, bin_y, $interleave AS zval FROM b)
       |SELECT (zval * $files) // ${nb * nb} AS file_id, COUNT(*) AS n_rows,
       |       MIN(bin_x) AS min_bx, MAX(bin_x) AS max_bx,
       |       MIN(bin_y) AS min_by, MAX(bin_y) AS max_by
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** TPC-H Q18-style big-order ladder: decimal-exact HAVING, top-100
    * by (totalprice DESC, orderkey) — a deterministic total order.
    */
  def q18BigOrders(minQty: Int): String =
    s"""WITH big AS (
       |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
       |  FROM lineitem GROUP BY 1
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > $minQty)
       |SELECT c.c_name, c.c_custkey, o.o_orderkey,
       |       CAST(date_trunc('day', o.o_orderdate) AS DATE) AS o_orderdate,
       |       o.o_totalprice, CAST(b.qty AS DOUBLE) AS sum_qty
       |FROM big b
       |JOIN orders o ON o.o_orderkey = b.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |ORDER BY o.o_totalprice DESC, o.o_orderkey
       |LIMIT 100""".stripMargin

  /** Schema-on-read over the JSON props bag (DuckDB's built-in json
    * extension mirrors Spark's from_json with a declared k INT field).
    */
  val eventsJsonAgg: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(json_extract(props, '$$.k') AS INTEGER) AS k
       |  FROM events)
       |SELECT event_type, COUNT(k) AS n_with_k, MIN(k) AS min_k,
       |       MAX(k) AS max_k, ${R("AVG(k)")} AS avg_k
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** Explicit-values pivot: wide per-(user, day) feature row. Spark's
    * pivot-agg yields NULL for absent (user, day, type) cells; the
    * CASE-filtered SUMs do the same.
    */
  def eventsPivotDaily(types: Seq[String]): String = {
    val cols = types.map(t =>
      s"${R(s"SUM(CASE WHEN event_type = '$t' THEN value END)")} AS $t").mkString(",\n       ")
    s"""SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |       $cols
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Snapshot diff vs the gate's deterministic mutation of documents. */
  val corpusDiff: String =
    """WITH newsnap AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text,
      |         source
      |  FROM documents WHERE doc_id % 11 <> 3
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text, source FROM documents WHERE doc_id % 13 = 1),
      |o AS (SELECT doc_id, md5(text) AS old_hash, source AS old_source FROM documents),
      |n AS (SELECT doc_id, md5(text) AS new_hash, source AS new_source FROM newsnap)
      |SELECT COALESCE(n.new_source, o.old_source) AS source,
      |       CASE WHEN o.old_hash IS NULL THEN 'added'
      |            WHEN n.new_hash IS NULL THEN 'removed'
      |            WHEN o.old_hash <> n.new_hash THEN 'changed'
      |            ELSE 'unchanged' END AS status,
      |       COUNT(*) AS n_docs
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Watermark-sizing audit under the gate's md5 arrival permutation. */
  def streamLateAudit(lateThresholdUs: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |         CAST(CONCAT('0x', SUBSTR(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS arrival
       |  FROM events),
       |h AS (
       |  SELECT *, MAX(ts_us) OVER (PARTITION BY user_id ORDER BY arrival, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
       |  FROM e)
       |SELECT user_id, COUNT(*) AS n_events,
       |       CAST(SUM(CASE WHEN hwm - ts_us > $lateThresholdUs THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       |       MAX(hwm - ts_us) AS max_late_us
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** transitionsStream's batch twin: the per-hop lag rows. */
  val transitionsBatch: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
       |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
       |  FROM events)
       |SELECT user_id, event_id, prev_type, event_type AS next_type, ts_us
       |FROM p WHERE prev_type IS NOT NULL
       |ORDER BY event_id""".stripMargin

  /** DAU + exact trailing-window rolling distinct users. */
  /** The HLL sketch tier next to the exact rolling distinct: same
    * md5-derived 60-bit hash, register/rho split by bit shifts,
    * register-max merge over the trailing window, α·m²/Σ2^-M with
    * linear-counting fallback — every step mirrored from
    * Relational.activeUsersRollingApprox; estimate and error r3'd.
    */
  def activeUsersRollingApprox(windowDays: Int, b: Int = 6): String = {
    val m = 1 << b
    val alpha = if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
       |days AS (SELECT DISTINCT day AS w_day FROM active),
       |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM active GROUP BY 1),
       |roll AS (
       |  SELECT d.w_day AS day, COUNT(DISTINCT a.user_id) AS rolling_users
       |  FROM days d JOIN active a
       |    ON d.w_day >= a.day AND d.w_day < a.day + $windowDays
       |  GROUP BY 1),
       |hsh AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |         CAST(CONCAT('0x', SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |reg AS (
       |  SELECT day, h & ${m - 1} AS r,
       |         MAX(CASE WHEN (h >> $b) = 0 THEN ${61 - b}
       |                  ELSE ${61 - b} - length(bin(h >> $b)) END) AS mx
       |  FROM hsh GROUP BY 1, 2),
       |wreg AS (
       |  SELECT d.w_day AS day, g.r, MAX(g.mx) AS mx
       |  FROM days d JOIN reg g
       |    ON d.w_day >= g.day AND d.w_day < g.day + $windowDays
       |  GROUP BY 1, 2),
       |hll0 AS (
       |  SELECT day,
       |         SUM(1.0 / CAST(1::BIGINT << mx AS DOUBLE)) + ($m - COUNT(*)) AS s,
       |         $m - COUNT(*) AS v
       |  FROM wreg GROUP BY day),
       |hll AS (
       |  SELECT day,
       |         CASE WHEN ($alpha * $m * $m) / s <= ${2.5 * m} AND v > 0
       |              THEN ${m.toDouble} * ln(CAST($m AS DOUBLE) / v)
       |              ELSE ($alpha * $m * $m) / s END AS est
       |  FROM hll0)
       |SELECT dau.day, dau.dau, roll.rolling_users,
       |       ${R("hll.est")} AS hll_users,
       |       ${R("ABS(hll.est - roll.rolling_users) / roll.rolling_users")} AS rel_err
       |FROM dau JOIN roll USING (day) JOIN hll USING (day)
       |ORDER BY day""".stripMargin
  }

  def activeUsersRolling(windowDays: Int): String =
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
       |days AS (SELECT DISTINCT day AS w_day FROM active),
       |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM active GROUP BY 1),
       |roll AS (
       |  SELECT d.w_day AS day, COUNT(DISTINCT a.user_id) AS rolling_users
       |  FROM days d JOIN active a
       |    ON d.w_day >= a.day AND d.w_day < a.day + $windowDays
       |  GROUP BY 1)
       |SELECT dau.day, dau.dau, roll.rolling_users
       |FROM dau JOIN roll USING (day) ORDER BY day""".stripMargin

  /** Cross-doc duplicated-span ratio (distinct word k-grams; DuckDB
    * list slicing `t[i:i+k-1]` is inclusive on both ends, mirroring
    * Spark's `slice(toks, i, k)`).
    */
  def textDupSpans(k: Int): String =
    s"""WITH spans AS (
       |  SELECT DISTINCT doc_id, span FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${k - 1}),
       |      i -> array_to_string(t[i:i+${k - 1}], ' '))) AS span
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |    WHERE len(t) >= $k)),
       |df AS (SELECT span, COUNT(*) AS span_df FROM spans GROUP BY 1)
       |SELECT s.doc_id, COUNT(*) AS n_spans,
       |       CAST(SUM(CASE WHEN f.span_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       |       ${R("CAST(SUM(CASE WHEN f.span_df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS dup_ratio
       |FROM spans s JOIN df f USING (span)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Weekly cohort retention triangle (Monday-truncated weeks). */
  val retention: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |cohorts AS (SELECT user_id, MIN(wk) AS cohort FROM active GROUP BY 1)
      |SELECT c.cohort, CAST((a.wk - c.cohort) // 7 AS BIGINT) AS week_n,
      |       COUNT(DISTINCT a.user_id) AS n_users
      |FROM active a JOIN cohorts c ON c.user_id = a.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Cohort LTV: the retention triangle with revenue cells, running
    * cumulative and per-user LTV (raw sums, rounded at emission).
    */
  val cohortLtv: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
       |         event_type, value
       |  FROM events),
       |active AS (SELECT DISTINCT user_id, wk FROM e),
       |cohorts AS (SELECT user_id, MIN(wk) AS cohort FROM active GROUP BY 1),
       |sz AS (SELECT cohort, COUNT(DISTINCT user_id) AS cohort_users
       |       FROM cohorts GROUP BY 1),
       |cells AS (
       |  SELECT c.cohort, CAST((e.wk - c.cohort) // 7 AS BIGINT) AS week_n,
       |         SUM(e.value) AS raw_rev
       |  FROM e JOIN cohorts c ON c.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
       |cum AS (
       |  SELECT *, SUM(raw_rev) OVER (PARTITION BY cohort ORDER BY week_n) AS raw_cum
       |  FROM cells)
       |SELECT m.cohort, m.week_n, ${R("m.raw_rev")} AS revenue,
       |       ${R("m.raw_cum")} AS cum_revenue, s.cohort_users,
       |       ${R("m.raw_cum / s.cohort_users")} AS ltv_per_user
       |FROM cum m JOIN sz s ON s.cohort = m.cohort
       |ORDER BY m.cohort, m.week_n""".stripMargin

  /** Hourly-window OHLC bars (the streaming twin's gated batch shape). */
  val streamOhlcBatch: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(date_trunc('hour', ts)) AS window_start_us,
       |         epoch_us(ts) AS ts_us, event_id, value
       |  FROM events)
       |SELECT user_id, window_start_us,
       |       (MIN(struct_pack(a := ts_us, b := event_id, v := value))).v AS open,
       |       MAX(value) AS high, MIN(value) AS low,
       |       (MAX(struct_pack(a := ts_us, b := event_id, v := value))).v AS close,
       |       COUNT(*) AS n_events, ${R("AVG(value)")} AS mean_value
       |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** OHLC daily bars: endpoints by (ts, event_id) struct min/max,
    * extremes, count, r3 mean.
    */
  val ohlcBars: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS ts_us,
       |         event_id, value
       |  FROM events)
       |SELECT user_id, day,
       |       (MIN(struct_pack(a := ts_us, b := event_id, v := value))).v AS open,
       |       MAX(value) AS high, MIN(value) AS low,
       |       (MAX(struct_pack(a := ts_us, b := event_id, v := value))).v AS close,
       |       COUNT(*) AS n_events, ${R("AVG(value)")} AS mean_value
       |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def sessionize(gapMicros: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
       |f AS (
       |  SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER w >= $gapMicros THEN 1
       |                 WHEN LAG(ts_us) OVER w IS NULL THEN 1
       |                 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |s AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
       |  FROM f)
       |SELECT user_id, session_no, MIN(ts_us) AS session_start_us,
       |       MAX(ts_us) AS session_end_us, COUNT(*) AS n_events,
       |       ${R("SUM(value)")} AS sum_value
       |FROM s GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin

  /** Last-touch attribution: per-channel purchase count + revenue
    * under the same running last(ignoreNulls)-struct window.
    */
  def attributionLastTouch(windowMicros: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value FROM events),
       |p AS (
       |  SELECT *,
       |    LAST_VALUE(CASE WHEN event_type != 'purchase'
       |                    THEN struct_pack(pts := ts_us, ptype := event_type) END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
       |  FROM e),
       |a AS (
       |  SELECT CASE WHEN prev IS NOT NULL AND ts_us - prev.pts <= $windowMicros
       |              THEN prev.ptype ELSE 'direct' END AS channel, value
       |  FROM p WHERE event_type = 'purchase')
       |SELECT channel, COUNT(*) AS n_purchases, ${R("SUM(value)")} AS revenue
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin

  /** Linear multi-touch attribution: equal split across in-window
    * touches, direct in full when none.
    */
  def attributionLinear(windowMicros: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value FROM events),
       |pu AS (SELECT user_id, event_id AS pid, ts_us AS pts, value AS pval
       |       FROM e WHERE event_type = 'purchase'),
       |to2 AS (SELECT user_id, event_type AS channel, ts_us AS tts
       |        FROM e WHERE event_type != 'purchase'),
       |m AS (
       |  SELECT pu.pid, pu.pval, t.channel
       |  FROM pu LEFT JOIN to2 t
       |    ON t.user_id = pu.user_id AND t.tts < pu.pts
       |   AND pu.pts - t.tts <= $windowMicros),
       |c AS (
       |  SELECT pid, pval, channel,
       |         COUNT(channel) OVER (PARTITION BY pid) AS n_touches
       |  FROM m),
       |cr AS (
       |  SELECT COALESCE(channel, 'direct') AS channel,
       |         CASE WHEN n_touches = 0 THEN pval
       |              ELSE pval / n_touches END AS credit
       |  FROM c)
       |SELECT channel, COUNT(*) AS n_credits, ${R("SUM(credit)")} AS revenue
       |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-purchase attribution rows (the streaming twin's gated batch
    * shape — attributionLastTouch before its aggregate).
    */
  def attributionStreamBatch(windowMicros: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value FROM events),
       |p AS (
       |  SELECT *,
       |    LAST_VALUE(CASE WHEN event_type != 'purchase'
       |                    THEN struct_pack(pts := ts_us, ptype := event_type) END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
       |  FROM e)
       |SELECT user_id, event_id, ts_us,
       |       CASE WHEN prev IS NOT NULL AND ts_us - prev.pts <= $windowMicros
       |            THEN prev.ptype ELSE 'direct' END AS channel, value
       |FROM p WHERE event_type = 'purchase'
       |ORDER BY user_id, event_id""".stripMargin

  /** Dwell time per event type: lead-gap seconds to the same user's
    * next event, count/mean/exact p50/p90.
    */
  val dwellStats: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |d AS (
       |  SELECT event_type,
       |         (LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us) / 1000000.0 AS dwell_s
       |  FROM e)
       |SELECT event_type, COUNT(*) AS n,
       |       ${R("AVG(dwell_s)")} AS mean_s,
       |       ${R("quantile_cont(dwell_s, 0.5)")} AS p50_s,
       |       ${R("quantile_cont(dwell_s, 0.9)")} AS p90_s
       |FROM d WHERE dwell_s IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top-k session paths: the sessionize numbering + ordered
    * STRING_AGG per session + path counts + rank.
    */
  def pathTopK(gapMicros: Long, k: Int): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
       |f AS (
       |  SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER w >= $gapMicros THEN 1
       |                 WHEN LAG(ts_us) OVER w IS NULL THEN 1
       |                 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |s AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
       |  FROM f),
       |p AS (
       |  SELECT user_id, session_no,
       |         STRING_AGG(event_type, '>' ORDER BY ts_us, event_id) AS path
       |  FROM s GROUP BY 1, 2),
       |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1),
       |r AS (SELECT path, n_sessions,
       |        CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
       |      FROM c)
       |SELECT path, n_sessions, rank FROM r WHERE rank <= $k ORDER BY rank""".stripMargin

  /** Batch twin of the streaming native session_window: same boundary
    * rule as [[sessionize]] (gap ≥ threshold starts a session), so the
    * oracle is the lag-based sessionization projected to the
    * session_window output shape.
    */
  def sessionWindowBatch(gapMicros: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
       |f AS (
       |  SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER w >= $gapMicros THEN 1
       |                 WHEN LAG(ts_us) OVER w IS NULL THEN 1
       |                 ELSE 0 END AS new_session
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |s AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
       |  FROM f)
       |SELECT user_id, MIN(ts_us) AS session_start_us,
       |       COUNT(*) AS n_events, ${R("SUM(value)")} AS sum_value
       |FROM s GROUP BY user_id, session_no
       |ORDER BY user_id, session_start_us""".stripMargin

  /** First event per (user_id, event_type), min event-time tie-broken
    * by event_id — the batch twin of StreamOps.dedupStream.
    */
  val dedupStreamBatch: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS rn
      |  FROM e)
      |SELECT user_id, event_type, event_id, ts_us
      |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Deterministic synthetic generator — mirrors operators.Generate.
    * Every arithmetic expression is parenthesized EXACTLY like the
    * Column expressions in Generate.series (pure IEEE mul/add →
    * bit-exact across engines): the folded-parabola sine, the
    * (e^{x/16})^16 exponential trend, and the Irwin-Hall spike
    * amplitudes.
    */
  def generate(nKeys: Int, nDays: Int, p: Int): String = {
    def u(keyExpr: String, tag: String) =
      s"(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT($keyExpr, ':$tag')), 1, 8)) AS BIGINT) % 100000) / 100000.0"
    // Reference spike window — the SAME definition Generate.series
    // uses (Generate.spikeWindow), so the mirrors can't drift.
    val (firstSpike, lastSpike, nSpikes) = graft.operators.Generate.spikeWindow(nDays)
    // Irwin-Hall N(0,1): (Σ_{i=1..12} U_i) − 6, left-to-right tag order
    def ihz(j: Int) =
      s"(${(1 to 12).map(i => u("key", s"spikez${j}_$i")).mkString(" + ")}) - 6.0"
    val spikeCols =
      (1 to nSpikes).flatMap(j => Seq(
        s"$firstSpike.0 + FLOOR(${u("key", s"spikeday$j")} * ${lastSpike - firstSpike}.0) AS st$j",
        s"CASE WHEN ${u("key", s"spikesign$j")} < 0.5 THEN -1.0 ELSE 1.0 END AS ss$j",
        s"3.0 + (${ihz(j)}) AS sa$j")).map(c => s",\n    $c").mkString
    val spikeSum =
      if (nSpikes == 0) "0.0"
      else (1 to nSpikes)
        .map(j => s"CASE WHEN CAST(t AS DOUBLE) >= st$j THEN ss$j * sa$j ELSE 0.0 END")
        .mkString(" + ")
    s"""WITH kk AS (
       |  SELECT key,
       |    100.0 + CAST(key % 50 AS DOUBLE) * 10.0 AS salary,
       |    ${u("key", "phase")} AS phase,
       |    CASE WHEN ${u("key", "sign")} < 0.5 THEN -1.0 ELSE 1.0 END AS tsign,
       |    ${u("key", "trend")} + 1.0 AS ta$spikeCols
       |  FROM range(0, $nKeys) k(key)),
       |g AS (
       |  SELECT kk.*, d.t FROM kk CROSS JOIN range(0, $nDays) d(t)),
       |c AS (
       |  SELECT *,
       |    CAST(t AS DOUBLE) / $p.0 + phase AS x,
       |    (ta * (CAST(t AS DOUBLE) / ${math.max(nDays - 1, 1)}.0)) / 16.0 AS y,
       |    (${u("CONCAT(key, '@', t)", "noise")} - 0.5) * 0.2 AS noise,
       |    $spikeSum AS spike
       |  FROM g),
       |-- exponential trend: e^x = (e^{x/16})^16, degree-4 Taylor core,
       |-- squared 4 times in the same order as operators.Generate
       |x2 AS (SELECT *, y * y AS y2 FROM c),
       |x3 AS (SELECT *, y2 * y AS y3 FROM x2),
       |x4 AS (SELECT *, y3 * y AS y4 FROM x3),
       |x5 AS (SELECT *, (((1.0 + y) + (y2 / 2.0)) + (y3 / 6.0)) + (y4 / 24.0) AS e0 FROM x4),
       |x6 AS (SELECT *, e0 * e0 AS e1 FROM x5),
       |x7 AS (SELECT *, e1 * e1 AS p2 FROM x6),
       |x8 AS (SELECT *, p2 * p2 AS p3 FROM x7),
       |x9 AS (SELECT *, tsign * (p3 * p3) AS trend FROM x8),
       |w AS (
       |  SELECT key, t, salary, trend, noise, spike, x - FLOOR(x) AS tt FROM x9),
       |-- sine = folded parabola + cubic refinement, parenthesized
       |-- exactly like operators.Generate (pure IEEE mul/add → bit-exact)
       |s0 AS (
       |  SELECT *, CASE WHEN tt < 0.5 THEN tt ELSE tt - 0.5 END AS u0 FROM w),
       |s1 AS (
       |  SELECT *, (CASE WHEN tt < 0.5 THEN 1.0 ELSE -1.0 END)
       |            * ((u0 * (0.5 - u0)) * 16.0) AS q FROM s0),
       |-- reference-exact per-type amplitude/sign conventions
       |-- (create_time_series.py:136-139), parenthesized exactly like
       |-- operators.Generate: sine/square 0.5·salary, sawtooth negated,
       |-- triangle full-amplitude with constant −1 offset
       |v AS (
       |  SELECT key, t, salary, trend, noise, spike,
       |    CASE WHEN key % 4 = 0 THEN ((q * 0.775) + ((q * ABS(q)) * 0.225)) * 0.5 * salary
       |         WHEN key % 4 = 1 THEN (tt * 2.0 - 1.0) * -0.5 * salary
       |         WHEN key % 4 = 2 THEN ABS(tt * 2.0 - 1.0) * salary - 1.0
       |         ELSE (CASE WHEN tt < 0.5 THEN 1.0 ELSE -1.0 END) * 0.5 * salary END AS seasonal
       |  FROM s1)
       |SELECT key, t,
       |       ${R("seasonal + salary * (trend + noise + spike)")} AS v,
       |       CAST(key % 4 AS INTEGER) AS signal_type
       |FROM v ORDER BY key, t""".stripMargin
  }

  val assemble: String =
    s"""WITH $daily
       |SELECT user_id, COUNT(*) AS n_days,
       |       MIN(day) AS first_day, MAX(day) AS last_day,
       |       ARG_MIN(v, day) AS first_v, ARG_MAX(v, day) AS last_v,
       |       ${R("SUM(v)")} AS v_sum
       |FROM daily GROUP BY user_id ORDER BY user_id""".stripMargin

  val gapfill: String =
    s"""WITH $daily,
       |spine AS (
       |  SELECT user_id, UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS day
       |  FROM daily GROUP BY user_id),
       |j AS (
       |  SELECT s.user_id, CAST(s.day AS DATE) AS day, d.v,
       |         CASE WHEN d.v IS NULL THEN 1 ELSE 0 END AS was_gap
       |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
       |SELECT user_id, day,
       |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
       |       was_gap
       |FROM j ORDER BY user_id, day""".stripMargin

  def rolling(n: Int): String = {
    def w = s"OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)"
    s"""WITH $daily
       |SELECT user_id, day, v,
       |       ${R(s"AVG(v) $w")} AS roll_avg,
       |       ${R(s"MIN(v) $w")} AS roll_min,
       |       ${R(s"MAX(v) $w")} AS roll_max,
       |       ${R(s"STDDEV_POP(v) $w")} AS roll_std
       |FROM daily ORDER BY user_id, day""".stripMargin
  }

  def ewma(alpha: Double): String =
    s"""WITH $daily,
       |vals AS (
       |  SELECT user_id, LIST(v ORDER BY day) AS vs FROM daily GROUP BY user_id)
       |SELECT user_id,
       |       ${R(s"list_reduce(vs, (acc, x) -> acc * ${1 - alpha} + x * $alpha)")} AS ewma
       |FROM vals ORDER BY user_id""".stripMargin

  /** Holt double smoothing via a recursive CTE — the per-step
    * arithmetic is parenthesized exactly like HoltFold's Java (lNew
    * inlined into the b update recomputes the identical IEEE value).
    */
  /** Damped-trend Holt: the holt recursion with the trend damped by
    * φ, parenthesized exactly like DampedHoltFold's Java; the
    * geometric damping sum is the same Scala-computed literal.
    */
  def holtDamped(alpha: Double, beta: Double, phi: Double, horizon: Int): String = {
    val damp = (1 to horizon).map(i => math.pow(phi, i.toDouble)).sum
    s"""WITH RECURSIVE $daily,
       |n AS (
       |  SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM daily),
       |h AS (
       |  SELECT user_id, rn, v AS l, CAST(0.0 AS DOUBLE) AS b FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.user_id, n.rn,
       |         n.v * $alpha + (h.l + h.b * $phi) * ${1 - alpha} AS l,
       |         ((n.v * $alpha + (h.l + h.b * $phi) * ${1 - alpha}) - h.l) * $beta + h.b * $phi * ${1 - beta} AS b
       |  FROM h JOIN n ON n.user_id = h.user_id AND n.rn = h.rn + 1),
       |lastr AS (SELECT user_id, MAX(rn) AS mx FROM n GROUP BY user_id)
       |SELECT h.user_id, ${R("h.l")} AS level, ${R("h.b")} AS trend,
       |       ${R(s"h.l + h.b * $damp")} AS forecast
       |FROM h JOIN lastr ON h.user_id = lastr.user_id AND h.rn = lastr.mx
       |ORDER BY h.user_id""".stripMargin
  }

  def holt(alpha: Double, beta: Double, horizon: Int): String =
    s"""WITH RECURSIVE $daily,
       |n AS (
       |  SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM daily),
       |h AS (
       |  SELECT user_id, rn, v AS l, CAST(0.0 AS DOUBLE) AS b FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.user_id, n.rn,
       |         n.v * $alpha + (h.l + h.b) * ${1 - alpha} AS l,
       |         ((n.v * $alpha + (h.l + h.b) * ${1 - alpha}) - h.l) * $beta + h.b * ${1 - beta} AS b
       |  FROM h JOIN n ON n.user_id = h.user_id AND n.rn = h.rn + 1),
       |lastr AS (SELECT user_id, MAX(rn) AS mx FROM n GROUP BY user_id)
       |SELECT h.user_id, ${R("h.l")} AS level, ${R("h.b")} AS trend,
       |       ${R(s"h.l + h.b * $horizon.0")} AS forecast
       |FROM h JOIN lastr ON h.user_id = lastr.user_id AND h.rn = lastr.mx
       |ORDER BY h.user_id""".stripMargin

  /** Local-level Kalman filter via a recursive CTE — the gain
    * expression is recomputed inline in each update exactly like
    * KalmanFold's Java recomputes from the same (p, q, r) doubles.
    */
  def kalman(q: Double, r: Double): String = {
    val k = s"((h.p + $q) / ((h.p + $q) + $r))"
    s"""WITH RECURSIVE $daily,
       |n AS (
       |  SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM daily),
       |h AS (
       |  SELECT user_id, rn, v AS l, CAST(1.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS k
       |  FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.user_id, n.rn,
       |         h.l + (n.v - h.l) * $k AS l,
       |         (1.0 - $k) * (h.p + $q) AS p,
       |         $k AS k
       |  FROM h JOIN n ON n.user_id = h.user_id AND n.rn = h.rn + 1),
       |lastr AS (SELECT user_id, MAX(rn) AS mx FROM n GROUP BY user_id)
       |SELECT h.user_id, ${R("h.l")} AS level, ${R("h.p")} AS p_var,
       |       ${R("h.k")} AS gain
       |FROM h JOIN lastr ON h.user_id = lastr.user_id AND h.rn = lastr.mx
       |ORDER BY h.user_id""".stripMargin
  }

  /** Two-sided CUSUM chart via a recursive CTE — per-step arithmetic
    * parenthesized exactly like CusumFold's Java (the excursions spp/
    * snp are inlined into every consumer, recomputing the identical
    * IEEE value; both sides clamp before the alarm test).
    */
  def cusum(k: Double, h: Double): String = {
    val spp = s"GREATEST(0.0, c.sp + n.z - $k)"
    val snp = s"LEAST(0.0, c.sn + n.z + $k)"
    val al = s"($spp > $h OR $snp < -$h)"
    val spp1 = s"GREATEST(0.0, 0.0 + z - $k)"
    val snp1 = s"LEAST(0.0, 0.0 + z + $k)"
    val al1 = s"($spp1 > $h OR $snp1 < -$h)"
    s"""WITH RECURSIVE $daily,
       |st AS (
       |  SELECT user_id, day, v,
       |         ${R("AVG(v) OVER (PARTITION BY user_id)")} AS mu,
       |         ${R("STDDEV_POP(v) OVER (PARTITION BY user_id)")} AS sd
       |  FROM daily),
       |n AS (
       |  SELECT user_id, ${R("(v - mu) / sd")} AS z,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM st WHERE sd > 0.0),
       |c AS (
       |  SELECT user_id, rn,
       |         CASE WHEN $al1 THEN 0.0 ELSE $spp1 END AS sp,
       |         CASE WHEN $al1 THEN 0.0 ELSE $snp1 END AS sn,
       |         $spp1 AS msp, $snp1 AS msn,
       |         CASE WHEN $al1 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nal,
       |         CASE WHEN $al1 THEN CAST(rn AS BIGINT) END AS first
       |  FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.user_id, n.rn,
       |         CASE WHEN $al THEN 0.0 ELSE $spp END,
       |         CASE WHEN $al THEN 0.0 ELSE $snp END,
       |         GREATEST(c.msp, $spp), LEAST(c.msn, $snp),
       |         c.nal + CASE WHEN $al THEN 1 ELSE 0 END,
       |         COALESCE(c.first, CASE WHEN $al THEN CAST(n.rn AS BIGINT) END)
       |  FROM c JOIN n ON n.user_id = c.user_id AND n.rn = c.rn + 1),
       |lastr AS (SELECT user_id, MAX(rn) AS mx FROM n GROUP BY user_id)
       |SELECT c.user_id, c.nal AS n_alarms, c.first AS first_alarm,
       |       ${R("c.msp")} AS max_spos, ${R("c.msn")} AS min_sneg
       |FROM c JOIN lastr ON c.user_id = lastr.user_id AND c.rn = lastr.mx
       |ORDER BY c.user_id""".stripMargin
  }

  /** MASE — forecast MAE over the history's naive one-step MAE,
    * composed from the shared forecast chain.
    */
  def mase(half: Int, window: Int, horizon: Int): String =
    s"""WITH ${forecastCtes(half, window, horizon)},
       |hn AS (
       |  SELECT user_id, v, LAG(v) OVER (PARTITION BY user_id ORDER BY day) AS prev
       |  FROM history),
       |nmae AS (
       |  SELECT user_id, ${R("AVG(ABS(v - prev))")} AS naive_mae
       |  FROM hn WHERE prev IS NOT NULL GROUP BY user_id),
       |fmae AS (
       |  SELECT user_id, ${R("AVG(ABS(v_hat - v_actual))")} AS mae
       |  FROM joined GROUP BY user_id)
       |SELECT f.user_id, f.mae, n.naive_mae,
       |       CASE WHEN n.naive_mae > 0.0 THEN ${R("f.mae / n.naive_mae")} END AS mase
       |FROM fmae f JOIN nmae n ON f.user_id = n.user_id
       |ORDER BY f.user_id""".stripMargin

  /** Syntetos–Boylan demand classification: ADI = last demand
    * position / n, CV² = var/mean² of daily counts, cut at the
    * published (1.32, 0.49) boundaries on the ROUNDED stats.
    */
  def demandClassify: String =
    s"""WITH d0 AS (
       |  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0
       |  FROM events GROUP BY 1),
       |dem AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         CAST(COUNT(*) AS DOUBLE) AS n
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT d.user_id, CAST(COUNT(*) AS BIGINT) AS n_demands,
       |         ${R("MAX(date_diff('day', d0.d0, d.day) + 1) * 1.0 / COUNT(*)")} AS adi,
       |         ${R("VAR_POP(n) / (AVG(n) * AVG(n))")} AS cv2
       |  FROM dem d JOIN d0 USING (user_id) GROUP BY 1)
       |SELECT user_id, n_demands, adi, cv2,
       |       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
       |            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
       |            WHEN adi < 1.32 THEN 'erratic'
       |            ELSE 'lumpy' END AS demand_class
       |FROM st ORDER BY user_id""".stripMargin

  /** Croston's intermittent-demand method: dense purchase-count spine,
    * two SES recursions (sizes / intervals) in one recursive CTE with
    * the EwmaFold arithmetic (`acc·(1−α) + x·α`, 1−α precomputed).
    */
  def croston(alpha: Double, demandType: String = "purchase"): String = {
    val a = alpha
    val ia = 1 - alpha
    s"""WITH RECURSIVE spine AS (
       |  SELECT user_id,
       |         CAST(UNNEST(generate_series(CAST(date_trunc('day', MIN(ts)) AS DATE),
       |                                     CAST(date_trunc('day', MAX(ts)) AS DATE),
       |                                     INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM events GROUP BY user_id),
       |dem AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         CAST(COUNT(*) AS DOUBLE) AS n
       |  FROM events WHERE event_type = '$demandType' GROUP BY 1, 2),
       |sp AS (
       |  SELECT s.user_id, s.day, COALESCE(d.n, 0.0) AS v
       |  FROM spine s LEFT JOIN dem d ON s.user_id = d.user_id AND s.day = d.day),
       |pos AS (
       |  SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS p
       |  FROM sp),
       |nz AS (
       |  SELECT user_id, v, CAST(p AS DOUBLE) AS p,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p) AS rn
       |  FROM pos WHERE v > 0.0),
       |iv AS (
       |  SELECT user_id, v, rn,
       |         CASE WHEN rn = 1 THEN p
       |              ELSE p - LAG(p) OVER (PARTITION BY user_id ORDER BY rn) END AS ivl
       |  FROM nz),
       |h AS (
       |  SELECT user_id, rn, v AS z, ivl AS pp FROM iv WHERE rn = 1
       |  UNION ALL
       |  SELECT i.user_id, i.rn, h.z * $ia + i.v * $a, h.pp * $ia + i.ivl * $a
       |  FROM h JOIN iv i ON i.user_id = h.user_id AND i.rn = h.rn + 1),
       |lastr AS (SELECT user_id, MAX(rn) AS mx, CAST(COUNT(*) AS BIGINT) AS nd
       |          FROM nz GROUP BY user_id)
       |SELECT h.user_id, ${R("h.z")} AS z_hat, ${R("h.pp")} AS p_hat,
       |       lastr.nd AS n_demands, ${R("h.z / h.pp")} AS forecast
       |FROM h JOIN lastr ON h.user_id = lastr.user_id AND h.rn = lastr.mx
       |ORDER BY h.user_id""".stripMargin
  }

  /** Additive Holt-Winters via a recursive CTE carrying the m
    * seasonals as a list column — per-step arithmetic parenthesized
    * exactly like HwFold's Java (lNew inlined into the b and s
    * updates recomputes the identical IEEE value; the CASE branch's
    * `h.s[i]` IS sⱼ inside the updated position).
    */
  /** The HW recursion CTE chain (`n`/`h`/`lastr`) folding the series
    * read from `src(user_id, day, v)` — shared by the three HW
    * oracles.
    */
  private def hwCtes(alpha: Double, beta: Double, gamma: Double,
                     period: Int, src: String, pfx: String = ""): String = {
    val ia = 1 - alpha
    val ib = 1 - beta
    val ig = 1 - gamma
    val n = s"${pfx}n"
    val h = s"${pfx}h"
    val zeros = Seq.fill(period)("CAST(0.0 AS DOUBLE)").mkString("[", ", ", "]")
    // j+1 (1-based list position) for the row being folded: t = rn − 1
    val pos = s"(($n.rn - 1) % $period) + 1"
    val lNew = s"($n.v - $h.s[$pos]) * $alpha + ($h.l + $h.b) * $ia"
    val lNewAtI = s"($n.v - $h.s[i]) * $alpha + ($h.l + $h.b) * $ia"
    s"""$n AS (
       |  SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM $src),
       |$h AS (
       |  SELECT user_id, rn, v AS l, CAST(0.0 AS DOUBLE) AS b, $zeros AS s
       |  FROM $n WHERE rn = 1
       |  UNION ALL
       |  SELECT $n.user_id, $n.rn,
       |         $lNew AS l,
       |         (($lNew) - $h.l) * $beta + $h.b * $ib AS b,
       |         list_transform(generate_series(1, $period), i ->
       |           CASE WHEN i = $pos
       |                THEN ($n.v - ($lNewAtI)) * $gamma + $h.s[i] * $ig
       |                ELSE $h.s[i] END) AS s
       |  FROM $h JOIN $n ON $n.user_id = $h.user_id AND $n.rn = $h.rn + 1),
       |${pfx}lastr AS (SELECT user_id, MAX(rn) AS mx FROM $n GROUP BY user_id)""".stripMargin
  }

  def holtWinters(alpha: Double, beta: Double, gamma: Double,
                  period: Int, horizon: Int): String =
    s"""WITH RECURSIVE $daily,
       |${hwCtes(alpha, beta, gamma, period, "daily")}
       |SELECT h.user_id, ${R("h.l")} AS level, ${R("h.b")} AS trend,
       |       ${R(s"h.l + h.b * $horizon.0 + h.s[((lastr.mx - 1 + $horizon) % $period) + 1]")} AS forecast
       |FROM h JOIN lastr ON h.user_id = lastr.user_id AND h.rn = lastr.mx
       |ORDER BY h.user_id""".stripMargin

  /** The Holt-Winters forecast curve: the same recursion, exploded
    * over steps 1..horizon with per-step seasonal slots.
    */
  def holtWintersForecast(alpha: Double, beta: Double, gamma: Double,
                          period: Int, horizon: Int): String =
    s"""WITH RECURSIVE $daily,
       |${hwCtes(alpha, beta, gamma, period, "daily")},
       |sel AS (
       |  SELECT h.user_id, h.l, h.b, h.s, lastr.mx
       |  FROM h JOIN lastr ON h.user_id = lastr.user_id AND h.rn = lastr.mx)
       |SELECT user_id, g.h,
       |       ${R(s"l + b * CAST(g.h AS DOUBLE) + s[((mx - 1 + g.h) % $period) + 1]")} AS forecast
       |FROM sel CROSS JOIN range(1, ${horizon + 1}) g(h)
       |ORDER BY user_id, g.h""".stripMargin

  /** Holdout backtest of the HW forecaster: fold the recursion over
    * the series MINUS its last `horizon` days, score each held-out
    * day against the step forecast.
    */
  def backtestHw(alpha: Double, beta: Double, gamma: Double,
                 period: Int, horizon: Int): String =
    s"""WITH RECURSIVE $daily,
       |nend AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily),
       |hist AS (SELECT user_id, day, v FROM nend WHERE rn_end > $horizon),
       |act AS (
       |  SELECT user_id, day, v, CAST($horizon + 1 - rn_end AS BIGINT) AS hh
       |  FROM nend WHERE rn_end <= $horizon),
       |${hwCtes(alpha, beta, gamma, period, "hist")},
       |sel AS (
       |  SELECT h.user_id, h.l, h.b, h.s, lastr.mx
       |  FROM h JOIN lastr ON h.user_id = lastr.user_id AND h.rn = lastr.mx),
       |f AS (
       |  SELECT user_id, g.h AS hh,
       |         ${R(s"l + b * CAST(g.h AS DOUBLE) + s[((mx - 1 + g.h) % $period) + 1]")} AS forecast
       |  FROM sel CROSS JOIN range(1, ${horizon + 1}) g(h))
       |SELECT a.user_id, a.day, a.v, f.forecast,
       |       ${R("ABS(a.v - f.forecast)")} AS abs_err
       |FROM act a JOIN f ON f.user_id = a.user_id AND f.hh = a.hh
       |ORDER BY a.user_id, a.day""".stripMargin

  def winsorize(lo: Double, hi: Double): String =
    s"""WITH $daily,
       |q AS (
       |  SELECT user_id, quantile_cont(v, $lo) AS p_lo, quantile_cont(v, $hi) AS p_hi
       |  FROM daily GROUP BY user_id)
       |SELECT d.user_id, d.day, d.v,
       |       ${R("LEAST(GREATEST(d.v, q.p_lo), q.p_hi)")} AS v_wins
       |FROM daily d JOIN q USING (user_id)
       |ORDER BY d.user_id, d.day""".stripMargin

  /** Deterministic length-stratified sample — integer-threshold
    * comparison on the md5 bucket, mirroring
    * Relational.sampleStratified exactly.
    */
  val sampleStratified: String =
    """WITH s AS (
      |  SELECT doc_id, LEAST(CAST(length(text) AS BIGINT) // 500, 3) AS stratum
      |  FROM documents)
      |SELECT doc_id, stratum FROM s
      |WHERE (CAST(CONCAT('0x', SUBSTR(MD5(CONCAT('sample:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100000)
      |      < (stratum + 1) * 20000
      |ORDER BY doc_id""".stripMargin

  def anomalies(half: Int, z: Double): String =
    s"""WITH $daily, ${trendCte(half)}, $detrendCte, $scaleCte
       |SELECT user_id, day, v, scaled FROM sc
       |WHERE ABS(scaled) >= $z ORDER BY user_id, day""".stripMargin

  /** Calendar-honest dod/wow growth rates over the daily frame. */
  val growthRates: String = {
    def rate(n: Int) =
      s"""CASE WHEN day - LAG(day, $n) OVER w = $n
         |     THEN ${R(s"v / NULLIF(LAG(v, $n) OVER w, 0.0) - 1.0")} END""".stripMargin
    s"""WITH $daily
       |SELECT user_id, day, v,
       |       ${rate(1)} AS dod,
       |       ${rate(7)} AS wow
       |FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
       |ORDER BY user_id, day""".stripMargin
  }

  /** Consecutive-day runs of anomalous days: the anomalies filter +
    * the gaps-and-islands date-minus-rank grouping.
    */
  def anomalyRuns(half: Int, z: Double): String =
    s"""WITH $daily, ${trendCte(half)}, $detrendCte, $scaleCte,
       |fl AS (
       |  SELECT user_id, day, scaled FROM sc WHERE ABS(scaled) >= $z),
       |isl AS (
       |  SELECT *, day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
       |  FROM fl)
       |SELECT user_id, MIN(day) AS run_start, MAX(day) AS run_end,
       |       COUNT(*) AS run_len, ${R("MAX(ABS(scaled))")} AS peak_z
       |FROM isl GROUP BY user_id, grp
       |ORDER BY user_id, run_start""".stripMargin

  // ---------------------------------------------------------------
  // LLM-data-pipeline oracles (documents / embeddings tables)
  // ---------------------------------------------------------------

  /** Distinct word-3-gram shingles per doc — shared CTE. */
  private val shinglesCte: String =
    """sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |    WHERE len(t) >= 3))""".stripMargin

  val dedupExact: String =
    """SELECT doc_id, md5(text) AS content_hash,
      |       COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
      |       CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS keep
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Shared minhash/banding CTE chain (shingles → md5 → universal
    * hashes → per-(doc,perm) MIN → band signatures → candidate pairs).
    */
  private def minhashCtes(perms: Int, rowsPerBand: Int): String =
    s"""$shinglesCte,
       |hashed AS (
       |  SELECT doc_id, CAST(CONCAT('0x', SUBSTR(MD5(sh), 1, 8)) AS BIGINT) AS h FROM sh),
       |mh AS (
       |  SELECT doc_id, p, MIN(((2 * p + 1) * h + p) % 4294967291) AS mh
       |  FROM hashed CROSS JOIN range(0, $perms) r(p) GROUP BY doc_id, p),
       |bands AS (
       |  SELECT doc_id, CAST(p // $rowsPerBand AS INTEGER) AS band,
       |         STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY p) AS sig
       |  FROM mh GROUP BY doc_id, band),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  def dedupMinhashLsh(perms: Int, rowsPerBand: Int): String =
    s"""WITH ${minhashCtes(perms, rowsPerBand)}
       |SELECT doc_a, doc_b, COUNT(*) AS shared_bands
       |FROM cand GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash Jaccard estimate on the LSH candidate pairs. */
  def dedupJaccardEst(perms: Int, rowsPerBand: Int): String =
    s"""WITH ${minhashCtes(perms, rowsPerBand)},
       |pairs AS (SELECT DISTINCT doc_a, doc_b FROM cand)
       |SELECT p.doc_a, p.doc_b,
       |       ${R(s"SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / CAST($perms AS DOUBLE)")} AS jaccard_est
       |FROM pairs p
       |JOIN mh ma ON ma.doc_id = p.doc_a
       |JOIN mh mb ON mb.doc_id = p.doc_b AND mb.p = ma.p
       |GROUP BY p.doc_a, p.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Duplicate clusters: connected components of the candidate graph,
    * labelled by each component's smallest doc_id (min-reachability
    * via a recursive CTE — the fixpoint the Spark side's min-label
    * propagation converges to).
    */
  def dedupCc(perms: Int, rowsPerBand: Int): String =
    s"""WITH RECURSIVE ${minhashCtes(perms, rowsPerBand)},
       |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  UNION ALL SELECT doc_b, doc_a FROM cpairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT dst AS doc_id, MIN(src) AS cluster
       |FROM reach GROUP BY dst ORDER BY doc_id""".stripMargin

  /** PageRank over the candidate graph: `iters` unrolled damped
    * rounds over the distinct symmetrized edges, ranks rounded per
    * round exactly like the Spark side.
    */
  /** Triangle census of the candidate graph (degree, closed
    * triangles, local clustering coefficient per node).
    */
  def dedupTriangles(perms: Int, rowsPerBand: Int): String =
    s"""WITH ${minhashCtes(perms, rowsPerBand)},
       |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM cpairs e1
       |  JOIN cpairs e2 ON e2.doc_a = e1.doc_b
       |  JOIN cpairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       |pn AS (
       |  SELECT doc_id, COUNT(*) AS triangles FROM (
       |    SELECT UNNEST([a, b, c]) AS doc_id FROM tri) GROUP BY 1),
       |deg AS (
       |  SELECT doc_id, COUNT(*) AS degree FROM (
       |    SELECT UNNEST([doc_a, doc_b]) AS doc_id FROM cpairs) GROUP BY 1)
       |SELECT deg.doc_id, CAST(deg.degree AS BIGINT) AS degree,
       |       CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
       |       CASE WHEN deg.degree >= 2
       |            THEN ${R("2.0 * COALESCE(pn.triangles, 0) / (deg.degree * (deg.degree - 1.0))")}
       |            END AS clustering
       |FROM deg LEFT JOIN pn ON pn.doc_id = deg.doc_id
       |ORDER BY deg.doc_id""".stripMargin

  def dedupPageRank(perms: Int, rowsPerBand: Int, iters: Int = 3,
                    damping: Double = 0.85): String = {
    val rounds = (1 to iters).map { t =>
      s"""i$t AS (
         |  SELECT e.dst AS doc_id, SUM(r${t - 1}.pr / deg.deg) AS inflow
         |  FROM edges e
         |  JOIN r${t - 1} ON r${t - 1}.doc_id = e.src
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst),
         |r$t AS (
         |  SELECT deg.src AS doc_id,
         |         ${R(s"(1.0 - $damping) / CAST(nn.n AS DOUBLE) + $damping * COALESCE(i$t.inflow, 0.0)")} AS pr
         |  FROM deg CROSS JOIN nn
         |  LEFT JOIN i$t ON i$t.doc_id = deg.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashCtes(perms, rowsPerBand)},
       |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  UNION ALL SELECT doc_b, doc_a FROM cpairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (SELECT deg.src AS doc_id, ${R("1.0 / CAST(nn.n AS DOUBLE)")} AS pr
       |       FROM deg CROSS JOIN nn),
       |$rounds
       |SELECT doc_id, pr FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** Label propagation over the candidate graph: `rounds` unrolled
    * synchronous mode-of-neighbours updates with (count DESC, label
    * ASC) ties — integer-exact, the same trajectory as the Spark
    * side. Final label frame referenced twice (labels + sizes) →
    * MATERIALIZED.
    */
  def dedupLabelProp(perms: Int, rowsPerBand: Int, rounds: Int = 3): String = {
    val steps = (1 to rounds).map { t =>
      val mat = if (t == rounds) " MATERIALIZED" else ""
      s"""lpa$t AS (
         |  SELECT e.dst, l.label, COUNT(*) AS cnt
         |  FROM edges e JOIN lp${t - 1} l ON l.doc_id = e.src
         |  GROUP BY 1, 2),
         |lp$t AS$mat (
         |  SELECT dst AS doc_id, label FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
         |    FROM lpa$t)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashCtes(perms, rowsPerBand)},
       |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  UNION ALL SELECT doc_b, doc_a FROM cpairs),
       |lp0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges),
       |$steps,
       |sizes AS (SELECT label, COUNT(*) AS community_n FROM lp$rounds GROUP BY label)
       |SELECT l.doc_id, l.label, s.community_n
       |FROM lp$rounds l JOIN sizes s ON s.label = l.label
       |ORDER BY l.doc_id""".stripMargin
  }

  /** End-to-end near-dup pipeline: LSH candidates → MinHash-Jaccard
    * filter → connected components → keep decision for every doc.
    */
  def dedupPipeline(perms: Int, rowsPerBand: Int, minJaccard: Double): String =
    s"""WITH RECURSIVE ${minhashCtes(perms, rowsPerBand)},
       |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |strong AS (
       |  SELECT p.doc_a, p.doc_b
       |  FROM cpairs p
       |  JOIN mh ma ON ma.doc_id = p.doc_a
       |  JOIN mh mb ON mb.doc_id = p.doc_b AND mb.p = ma.p
       |  GROUP BY p.doc_a, p.doc_b
       |  HAVING ${R(s"SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / CAST($perms AS DOUBLE)")} >= $minJaccard),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM strong
       |  UNION ALL SELECT doc_b, doc_a FROM strong),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT dst AS doc_id, MIN(src) AS cluster FROM reach GROUP BY dst)
       |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
       |       CAST(CASE WHEN COALESCE(c.cluster, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Quality-aware keep: the dedupPipeline cluster CTEs + the
    * textQuality score + per-cluster rank (score DESC, doc_id).
    */
  def dedupKeepBest(perms: Int, rowsPerBand: Int, minJaccard: Double): String =
    s"""WITH RECURSIVE ${minhashCtes(perms, rowsPerBand)},
       |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |strong AS (
       |  SELECT p.doc_a, p.doc_b
       |  FROM cpairs p
       |  JOIN mh ma ON ma.doc_id = p.doc_a
       |  JOIN mh mb ON mb.doc_id = p.doc_b AND mb.p = ma.p
       |  GROUP BY p.doc_a, p.doc_b
       |  HAVING ${R(s"SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / CAST($perms AS DOUBLE)")} >= $minJaccard),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM strong
       |  UNION ALL SELECT doc_b, doc_a FROM strong),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT dst AS doc_id, MIN(src) AS cluster FROM reach GROUP BY dst),
       |lab AS (
       |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id),
       |q0 AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
       |    ${R("(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / length(text)")} AS alpha_ratio,
       |    ${R("len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))")} AS uniq_ratio,
       |    ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS stop_ratio
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id,
       |    ${R("alpha_ratio * 0.4 + uniq_ratio * 0.2 + (1.0 - stop_ratio) * 0.2 + CASE WHEN chars BETWEEN 100 AND 400 THEN 0.2 ELSE 0.1 END")} AS score
       |  FROM q0),
       |j AS (SELECT lab.doc_id, lab.cluster, qs.score FROM lab JOIN qs USING (doc_id)),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id) AS rn
       |  FROM j)
       |SELECT doc_id, cluster, score,
       |       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM rk ORDER BY doc_id""".stripMargin

  /** End-to-end corpus preparation: quality filter → benchmark
    * decontamination → near-dup removal → sequence packing. The dedup
    * CTEs run over the FULL corpus and restrict candidate pairs to
    * clean∩clean afterwards — equivalent to the Spark side's
    * dedup-on-the-clean-subset because signatures and band buckets
    * are per-document (corpus-independent).
    */
  def corpusPipeline(decontN: Int, benchMod: Int, perms: Int,
                     rowsPerBand: Int, minJaccard: Double,
                     budget: Int,
                     minTokens: Int = 30, maxTokens: Int = 90,
                     maxStop: Double = 0.15, maxDup: Double = 0.10,
                     lmBand: Option[(Double, Double)] = None,
                     mixture: Option[(Map[String, Double], Long)] = None): String = {
    val lmCte = lmBand.map { case (lo, hi) =>
      s"lmk AS (SELECT doc_id FROM ($textLmScore) WHERE lm_score BETWEEN $lo AND $hi),\n"
    }.getOrElse("")
    val lmJoin = if (lmBand.isDefined) " JOIN lmk ON lmk.doc_id = f.doc_id" else ""
    // mixture stage between dedup and packing: same literal budgets as
    // the Spark side (shared mixtureBudgets formula), seeded order,
    // exclusive running sum — mirrors TextOps.mixtureFromCounts
    val mixCte = mixture.map { case (weights, total) =>
      val cases = mixtureCases(weights, total)
      s"""mixb AS (
         |  SELECT *, CASE shard $cases END AS mbudget,
         |    MD5(CONCAT('mixture:', CAST(doc_id AS VARCHAR))) AS shuf
         |  FROM s WHERE CASE shard $cases END IS NOT NULL),
         |mixp AS (
         |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY shard ORDER BY shuf, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS mpos
         |  FROM mixb),
         |mix AS (SELECT doc_id, shard, n_tokens FROM mixp WHERE mpos < mbudget),
         |""".stripMargin
    }.getOrElse("")
    val packSrc = if (mixture.isDefined) "mix" else "s"
    s"""WITH RECURSIVE
       |fkeep AS (SELECT doc_id FROM (${textFilter(minTokens, maxTokens, maxStop, maxDup)}) WHERE keep = 1),
       |dkeep AS (SELECT doc_id FROM (${decontaminate(decontN, benchMod)}) WHERE contaminated = 0),
       |${lmCte}clean AS (SELECT f.doc_id FROM fkeep f JOIN dkeep k ON k.doc_id = f.doc_id$lmJoin),
       |${minhashCtes(perms, rowsPerBand)},
       |cpairs AS (
       |  SELECT DISTINCT doc_a, doc_b FROM cand
       |  WHERE doc_a IN (SELECT doc_id FROM clean)
       |    AND doc_b IN (SELECT doc_id FROM clean)),
       |strong AS (
       |  SELECT p.doc_a, p.doc_b
       |  FROM cpairs p
       |  JOIN mh ma ON ma.doc_id = p.doc_a
       |  JOIN mh mb ON mb.doc_id = p.doc_b AND mb.p = ma.p
       |  GROUP BY p.doc_a, p.doc_b
       |  HAVING ${R(s"SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / CAST($perms AS DOUBLE)")} >= $minJaccard),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM strong
       |  UNION ALL SELECT doc_b, doc_a FROM strong),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT dst AS doc_id, MIN(src) AS cluster FROM reach GROUP BY dst),
       |surv AS (
       |  SELECT c.doc_id FROM clean c LEFT JOIN cc ON cc.doc_id = c.doc_id
       |  WHERE COALESCE(cc.cluster, c.doc_id) = c.doc_id),
       |s AS (
       |  SELECT d.doc_id, d.source AS shard,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents d JOIN surv ON surv.doc_id = d.doc_id),
       |${mixCte}p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM $packSrc)
       |SELECT doc_id, shard, n_tokens,
       |  stream_pos // $budget AS start_seq,
       |  stream_pos % $budget AS start_offset,
       |  (stream_pos + n_tokens - 1) // $budget AS end_seq
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Canonical text normalization: lowercase, non-alnum → space,
    * whitespace collapse, trim.
    */
  val textNormalize: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
      |  CAST(len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS norm_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  val dedupSimhash: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |h AS (
      |  SELECT doc_id, CAST(CONCAT('0x', SUBSTR(MD5(tok), 1, 8)) AS BIGINT) AS h FROM tok),
      |bits AS (
      |  SELECT doc_id, i,
      |         SUM(CASE WHEN CAST(FLOOR(h / POW(2.0, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN range(0, 32) r(i) GROUP BY doc_id, i)
      |SELECT doc_id,
      |       CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2.0, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val dedupNgramJaccard: String =
    s"""WITH $shinglesCte,
       |inter AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh s1 JOIN sh s2 ON s2.doc_id = s1.doc_id + 1 AND s1.sh = s2.sh
       |  GROUP BY 1, 2),
       |counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
       |SELECT i.doc_a, i.doc_b, ${R("i.inter / (ca.n + cb.n - i.inter)")} AS jaccard
       |FROM inter i
       |JOIN counts ca ON ca.doc_id = i.doc_a
       |JOIN counts cb ON cb.doc_id = i.doc_b
       |ORDER BY i.doc_a""".stripMargin

  /** Shingle containment on the adjacent-id candidate pairs — the
    * asymmetric twin of dedupNgramJaccard (|A∩B|/|A| each way).
    */
  val dedupContainment: String =
    s"""WITH $shinglesCte,
       |inter AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh s1 JOIN sh s2 ON s2.doc_id = s1.doc_id + 1 AND s1.sh = s2.sh
       |  GROUP BY 1, 2),
       |counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
       |SELECT i.doc_a, i.doc_b, i.inter,
       |       ${R("i.inter / ca.n")} AS containment_a,
       |       ${R("i.inter / cb.n")} AS containment_b
       |FROM inter i
       |JOIN counts ca ON ca.doc_id = i.doc_a
       |JOIN counts cb ON cb.doc_id = i.doc_b
       |ORDER BY i.doc_a""".stripMargin

  /** IVF ANN: deterministic coarse quantizer (centroids = vec_id <
    * nCentroids), nprobe = 1, rounded assignment score with cid
    * tie-break so the argmax is bit-stable across engines.
    */
  def annIvf(nCentroids: Int, nQueries: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |a0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |a1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM a0),
       |asg AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE crank = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cell FROM asg WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT q.qid, a.vec_id AS vid, ${R("list_cosine_similarity(a.v, q.qv)")} AS cos
       |  FROM asg a JOIN q ON a.cell = q.cell AND a.vec_id != q.qid),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, vid, cos, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** SemDeDup: the annIvf cell assignment (rounded cosine, cid
    * tie-break), then a vector is dropped iff a lower-id vector in
    * its cell has rounded cosine >= threshold.
    */
  /** Corpus kNN graph: the SemDeDup cell assignment, the PROBE-cell
    * equi-join (each vector's candidates come from its `nprobe`
    * nearest cells; the right side keeps its single assigned cell so
    * no pair doubles) + per-vector top-k (cos DESC, nbr).
    */
  def annKnnGraph(nCentroids: Int, k: Int, nprobe: Int = 2): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |a0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |a1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM a0),
       |asg AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE crank = 1),
       |ap AS (SELECT vec_id, v, cid AS pcell FROM a1 WHERE crank <= $nprobe),
       |pr AS (
       |  SELECT a.vec_id, b.vec_id AS nbr,
       |         ${R("list_cosine_similarity(a.v, b.v)")} AS cos
       |  FROM ap a JOIN asg b ON a.pcell = b.cell AND b.vec_id != a.vec_id),
       |rk AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS BIGINT) AS rank
       |  FROM pr)
       |SELECT vec_id, nbr, cos, rank FROM rk WHERE rank <= $k
       |ORDER BY vec_id, rank""".stripMargin

  /** Centroid-graph ROUTED cell candidates (Similarity.routedCells):
    * exact k² centroid kNN graph, then every vector beam-walks it
    * from the global entry (min cid) for `rounds` rounds — chained
    * visited/frontier CTEs ending in `rvis(vec_id, cid, cos, crank)`.
    */
  private def routedCtes(nCentroids: Int, kCentGraph: Int, beam: Int,
                         rounds: Int, pred: String = "TRUE"): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE embedding IS NOT NULL AND ($pred)),
       |${routedCoreCtes("", "e", nCentroids, kCentGraph, beam, rounds)}""".stripMargin

  /** [[routedCtes]] core with a NAME PREFIX and an arbitrary source
    * CTE (columns vec_id, v) — the per-level routed assignment of the
    * routed-hier oracle; prefix "" over its own `e` CTE is the
    * original single-level form. Ends in `rvis$p(vec_id, cid, cos,
    * crank)`.
    */
  private def routedCoreCtes(p: String, eCte: String, nCentroids: Int,
                             kCentGraph: Int, beam: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""c$p AS (SELECT vec_id AS cid, v AS cv FROM $eCte WHERE vec_id < $nCentroids),
         |cgp$p AS (
         |  SELECT a.cid AS src, b.cid AS nbr, ${R("list_cosine_similarity(a.cv, b.cv)")} AS ccos
         |  FROM c$p a JOIN c$p b ON b.cid != a.cid),
         |cg$p AS MATERIALIZED (
         |  SELECT src, nbr FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY ccos DESC, nbr) AS crk
         |    FROM cgp$p) WHERE crk <= $kCentGraph),
         |ent$p AS (SELECT MIN(cid) AS evid FROM c$p),
         |rv${p}0 AS MATERIALIZED (
         |  SELECT ee.vec_id, cc.cid, ${R("list_cosine_similarity(ee.v, cc.cv)")} AS cos
         |  FROM $eCte ee, c$p cc, ent$p en WHERE cc.cid = en.evid),
         |rf${p}0 AS (SELECT vec_id, cid FROM rv${p}0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
         |rx$p$r AS (SELECT DISTINCT f.vec_id, g.nbr AS cid
         |         FROM rf$p${r - 1} f JOIN cg$p g ON g.src = f.cid),
         |rs$p$r AS (
         |  SELECT x.vec_id, x.cid, ${R("list_cosine_similarity(e2.v, c2.cv)")} AS cos
         |  FROM rx$p$r x JOIN $eCte e2 ON e2.vec_id = x.vec_id JOIN c$p c2 ON c2.cid = x.cid),
         |rv$p$r AS MATERIALIZED (
         |  SELECT vec_id, cid, MIN(cos) AS cos FROM (
         |    SELECT * FROM rv$p${r - 1} UNION ALL SELECT * FROM rs$p$r) GROUP BY 1, 2),
         |rf$p$r AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
         |    FROM rv$p$r) WHERE rk <= $beam)""".stripMargin)
    }
    sb.append(s""",
       |rvis$p AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS crank
       |  FROM rv$p$rounds)""".stripMargin)
    sb.toString
  }

  /** Corpus kNN graph with routed assignment: the [[routedCtes]] walk
    * decides each vector's top-1 cell and nprobe probe cells, then
    * the annKnnGraph probe join + per-vector top-k.
    */
  def annKnnGraphRouted(nCentroids: Int, kGraph: Int, kCentGraph: Int,
                        beam: Int, rounds: Int, nprobe: Int = 2): String =
    s"""WITH ${routedCtes(nCentroids, kCentGraph, beam, rounds)},
       |rap AS (SELECT r.vec_id, r.cid AS pcell, e.v
       |        FROM rvis r JOIN e ON e.vec_id = r.vec_id WHERE r.crank <= $nprobe),
       |rasg AS (SELECT r.vec_id AS nbr, r.cid AS cell_b, e.v AS vb
       |         FROM rvis r JOIN e ON e.vec_id = r.vec_id WHERE r.crank = 1),
       |rpr AS (
       |  SELECT a.vec_id, b.nbr, ${R("list_cosine_similarity(a.v, b.vb)")} AS cos
       |  FROM rap a JOIN rasg b ON a.pcell = b.cell_b AND b.nbr != a.vec_id)
       |SELECT vec_id, nbr, cos, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS BIGINT) AS rank
       |  FROM rpr) WHERE rank <= $kGraph ORDER BY vec_id, rank""".stripMargin

  /** Graph-expansion beam search over the ROUTED kNN graph (the
    * stored-walk gates: writeKnnGraphRouted + annGraphSearchStored;
    * incremental append shares this oracle — append ≡ one-shot):
    * routed assignment CTEs → routed edges → the self-seeded walk of
    * [[annGraphSearch]].
    */
  def annGraphSearchRouted(nCentroids: Int, kGraph: Int, kCentGraph: Int,
                           beamR: Int, roundsR: Int, nQueries: Int,
                           beamW: Int, roundsW: Int, k: Int,
                           nprobe: Int = 2, pred: String = "TRUE",
                           removedPred: String = "FALSE"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${routedCtes(nCentroids, kCentGraph, beamR, roundsR, pred)},
         |rap AS (SELECT r.vec_id, r.cid AS pcell, e.v
         |        FROM rvis r JOIN e ON e.vec_id = r.vec_id WHERE r.crank <= $nprobe),
         |rasg AS (SELECT r.vec_id AS nbr, r.cid AS cell_b, e.v AS vb
         |         FROM rvis r JOIN e ON e.vec_id = r.vec_id WHERE r.crank = 1),
         |rpr AS (
         |  SELECT a.vec_id, b.nbr, ${R("list_cosine_similarity(a.v, b.vb)")} AS cos
         |  FROM rap a JOIN rasg b ON a.pcell = b.cell_b AND b.nbr != a.vec_id),
         |g AS MATERIALIZED (
         |  SELECT src, nbr FROM (
         |    SELECT vec_id AS src, nbr, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
         |    FROM rpr)
         |  WHERE rank <= $kGraph
         |    AND NOT (${removedPred.replace("vec_id", "src")})
         |    AND NOT (${removedPred.replace("vec_id", "nbr")})),
         |es AS (SELECT * FROM e WHERE NOT ($removedPred)),
         |q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM es WHERE vec_id < $nQueries),
         |f0 AS (SELECT qid, qid AS vid FROM q),
         |v0 AS (SELECT qid, vid FROM f0)""".stripMargin)
    for (r <- 1 to roundsW) {
      sb.append(s""",
         |x$r AS (SELECT f.qid, g.nbr AS vid FROM f${r - 1} f JOIN g ON g.src = f.vid),
         |v$r AS MATERIALIZED (
         |  SELECT DISTINCT qid, vid FROM (
         |    SELECT qid, vid FROM v${r - 1} UNION ALL SELECT qid, vid FROM x$r)),
         |s$r AS (
         |  SELECT v.qid, v.vid, ${R("list_cosine_similarity(e2.v, q.qv)")} AS cos
         |  FROM v$r v JOIN es e2 ON e2.vec_id = v.vid JOIN q ON q.qid = v.qid),
         |f$r AS MATERIALIZED (
         |  SELECT qid, vid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
         |    FROM s$r) WHERE rk <= $beamW)""".stripMargin)
    }
    sb.append(s"""
       |SELECT qid, vid, cos, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s$roundsW WHERE vid != qid) WHERE rank <= $k ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  /** Routing-quality audit: routed top-1 cell vs the flat argmax. */
  def annRoutedAgreement(nCentroids: Int, kCentGraph: Int, beam: Int,
                         rounds: Int): String =
    s"""WITH ${routedCtes(nCentroids, kCentGraph, beam, rounds)},
       |fa0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |ex1 AS (SELECT vec_id, cid AS cell, ccos AS eccos FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crk
       |  FROM fa0) WHERE crk = 1),
       |r1 AS (SELECT vec_id, cid AS rcell, cos AS rccos FROM rvis WHERE crank = 1)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       CAST(SUM(CASE WHEN rcell = cell THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |       ${R("SUM(CASE WHEN rcell = cell THEN 1.0 ELSE 0.0 END) / COUNT(*)")} AS agree_frac,
       |       ${R("AVG(rccos)")} AS avg_routed_ccos,
       |       ${R("AVG(eccos)")} AS avg_exact_ccos
       |FROM r1 JOIN ex1 USING (vec_id)""".stripMargin

  /** Graph-expansion beam search: the kNN-graph CTE, then per round
    * expand-frontier → distinct-union visited → score → top-beam;
    * answer = top-k of the final visited set, self excluded. Visited
    * and frontier CTEs are MATERIALIZED (each referenced twice per
    * round — the chained-state planner lesson).
    */
  def annGraphSearch(nCentroids: Int, kGraph: Int, nQueries: Int,
                     beam: Int, rounds: Int, k: Int, nprobe: Int = 2): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
         |a0 AS (
         |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
         |  FROM e CROSS JOIN c),
         |a1 AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
         |  FROM a0),
         |asg AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE crank = 1),
         |ap AS (SELECT vec_id, v, cid AS pcell FROM a1 WHERE crank <= $nprobe),
         |pr AS (
         |  SELECT a.vec_id, b.vec_id AS nbr, ${R("list_cosine_similarity(a.v, b.v)")} AS cos
         |  FROM ap a JOIN asg b ON a.pcell = b.cell AND b.vec_id != a.vec_id),
         |g AS MATERIALIZED (
         |  SELECT vec_id AS src, nbr FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
         |    FROM pr) WHERE rank <= $kGraph),
         |q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
         |f0 AS (SELECT qid, qid AS vid FROM q),
         |v0 AS (SELECT qid, vid FROM f0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
         |x$r AS (SELECT f.qid, g.nbr AS vid FROM f${r - 1} f JOIN g ON g.src = f.vid),
         |v$r AS MATERIALIZED (
         |  SELECT DISTINCT qid, vid FROM (
         |    SELECT qid, vid FROM v${r - 1} UNION ALL SELECT qid, vid FROM x$r)),
         |s$r AS (
         |  SELECT v.qid, v.vid, ${R("list_cosine_similarity(e2.v, q.qv)")} AS cos
         |  FROM v$r v JOIN e e2 ON e2.vec_id = v.vid JOIN q ON q.qid = v.qid),
         |f$r AS MATERIALIZED (
         |  SELECT qid, vid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
         |    FROM s$r) WHERE rk <= $beam)""".stripMargin)
    }
    sb.append(s"""
       |SELECT qid, vid, cos, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s$rounds WHERE vid != qid) WHERE rank <= $k ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  /** FILTERED graph walk (annGraphSearchFiltered): the annGraphSearch
    * CTEs with the label riding the scored frame, each round's
    * frontier the MIXED beam (top-beam unfiltered ∪ top-beam among
    * label matches), answer = top-k of visited ∩ predicate ranked
    * after the filter.
    */
  def annGraphSearchFiltered(nCentroids: Int, kGraph: Int, nQueries: Int,
                             beam: Int, rounds: Int, k: Int, nLabels: Int,
                             nprobe: Int = 2, removedPred: String = ""): String = {
    // `removedPred` models the TOMBSTONE MASK on a stored graph (the
    // annGraphSearchRouted convention): the graph is built on the FULL
    // corpus, then removed ids leave seeds, edges (either endpoint)
    // and answers — NOT the survivor one-shot, whose rebuilt edges
    // could differ where removed nodes held top-k slots
    val maskG = if (removedPred.isEmpty) "" else
      s"""
         |    AND vec_id NOT IN (SELECT vec_id FROM e WHERE $removedPred)
         |    AND nbr NOT IN (SELECT vec_id FROM e WHERE $removedPred)""".stripMargin
    val maskQ = if (removedPred.isEmpty) "" else s" AND NOT ($removedPred)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
         |a0 AS (
         |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
         |  FROM e CROSS JOIN c),
         |a1 AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
         |  FROM a0),
         |asg AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE crank = 1),
         |ap AS (SELECT vec_id, v, cid AS pcell FROM a1 WHERE crank <= $nprobe),
         |pr AS (
         |  SELECT a.vec_id, b.vec_id AS nbr, ${R("list_cosine_similarity(a.v, b.v)")} AS cos
         |  FROM ap a JOIN asg b ON a.pcell = b.cell AND b.vec_id != a.vec_id),
         |g AS MATERIALIZED (
         |  SELECT vec_id AS src, nbr FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
         |    FROM pr) WHERE rank <= $kGraph$maskG),
         |gs AS MATERIALIZED (
         |  SELECT src, nbr FROM g UNION ALL SELECT nbr AS src, src AS nbr FROM g),
         |q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries$maskQ),
         |f0 AS (SELECT qid, qid AS vid FROM q),
         |v0 AS (SELECT qid, vid FROM f0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
         |x$r AS (SELECT f.qid, g.nbr AS vid FROM f${r - 1} f JOIN gs g ON g.src = f.vid),
         |b$r AS (
         |  SELECT x.qid, x.vid FROM x$r x JOIN e eb ON eb.vec_id = x.vid
         |  WHERE eb.label != x.qid % $nLabels),
         |y$r AS (SELECT b.qid, g.nbr AS vid FROM b$r b JOIN gs g ON g.src = b.vid),
         |v$r AS MATERIALIZED (
         |  SELECT DISTINCT qid, vid FROM (
         |    SELECT qid, vid FROM v${r - 1} UNION ALL SELECT qid, vid FROM x$r
         |    UNION ALL SELECT qid, vid FROM y$r)),
         |s$r AS MATERIALIZED (
         |  SELECT v.qid, v.vid, e2.label, ${R("list_cosine_similarity(e2.v, q.qv)")} AS cos
         |  FROM v$r v JOIN e e2 ON e2.vec_id = v.vid JOIN q ON q.qid = v.qid),
         |f$r AS MATERIALIZED (
         |  SELECT DISTINCT qid, vid FROM (
         |    SELECT qid, vid FROM (
         |      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
         |      FROM s$r) WHERE rk <= $beam
         |    UNION ALL
         |    SELECT qid, vid FROM (
         |      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
         |      FROM s$r WHERE label = qid % $nLabels) WHERE rk <= $beam))""".stripMargin)
    }
    sb.append(s"""
       |SELECT qid, vid, cos, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s$rounds WHERE vid != qid AND label = qid % $nLabels)
       |WHERE rank <= $k ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  /** Reachability audit of the kNN graph: directed and undirected
    * closure sizes from MIN(vec_id), each as one recursive CTE (the
    * UNION-dedup recursion terminates on cycles by construction).
    */
  def annGraphReachability(nCentroids: Int, kGraph: Int,
                           nprobe: Int = 2,
                           removedPred: String = "FALSE"): String = {
    // `removedPred` = the STORED-audit twin: the graph builds over the
    // full corpus, then tombstoned endpoints drop from edges, seeds
    // and the node count — maskedGraphStore's serve-time semantics
    val masking = removedPred != "FALSE"
    val edgeMask = if (!masking) "" else
      s"""
         |    AND NOT (${removedPred.replace("vec_id", "src")})
         |    AND NOT (${removedPred.replace("vec_id", "nbr")})""".stripMargin
    val eServe = if (masking) "esrv" else "e"
    val srvCte = if (!masking) "" else s"""
       |esrv AS (SELECT * FROM e WHERE NOT ($removedPred)),""".stripMargin
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),$srvCte
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |a0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |a1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM a0),
       |asg AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE crank = 1),
       |ap AS (SELECT vec_id, v, cid AS pcell FROM a1 WHERE crank <= $nprobe),
       |pr AS (
       |  SELECT a.vec_id, b.vec_id AS nbr, ${R("list_cosine_similarity(a.v, b.v)")} AS cos
       |  FROM ap a JOIN asg b ON a.pcell = b.cell AND b.vec_id != a.vec_id),
       |g AS MATERIALIZED (
       |  SELECT vec_id AS src, nbr FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM pr) WHERE rank <= $kGraph$edgeMask),
       |gs AS MATERIALIZED (
       |  SELECT src, nbr FROM g UNION ALL SELECT nbr AS src, src AS nbr FROM g),
       |sd AS (SELECT MIN(vec_id) AS vid FROM $eServe),
       |rd AS (SELECT vid FROM sd
       |       UNION
       |       SELECT g.nbr AS vid FROM rd JOIN g ON g.src = rd.vid),
       |ru AS (SELECT vid FROM sd
       |       UNION
       |       SELECT gs.nbr AS vid FROM ru JOIN gs ON gs.src = ru.vid),
       |agg AS (
       |  SELECT CAST((SELECT COUNT(*) FROM $eServe) AS BIGINT) AS n_nodes,
       |         CAST((SELECT COUNT(*) FROM rd) AS BIGINT) AS n_reach_directed,
       |         CAST((SELECT COUNT(*) FROM ru) AS BIGINT) AS n_reach_undirected)
       |SELECT n_nodes, n_reach_directed, n_reach_undirected,
       |       ${R("CAST(n_reach_directed AS DOUBLE) / n_nodes")} AS frac_directed,
       |       ${R("CAST(n_reach_undirected AS DOUBLE) / n_nodes")} AS frac_undirected
       |FROM agg""".stripMargin
  }

  /** Recall@k of the FILTERED graph walk vs the exact filtered top-k. */
  def annGraphSearchFilteredRecall(nCentroids: Int, kGraph: Int, nQueries: Int,
                                   beam: Int, rounds: Int, k: Int,
                                   nLabels: Int, nprobe: Int = 2): String =
    approxRecall(annGraphSearchFiltered(nCentroids, kGraph, nQueries, beam, rounds, k, nLabels, nprobe),
      nQueries, k, nLabels)

  /** Recall@k of the FILTERED hier walk vs the exact filtered top-k —
    * the oversearch audit on the cold-start tier, next to 48g's flat
    * reading.
    */
  def annGraphSearchHierFilteredRecall(nCentroids: Int, kGraph: Int,
                                       nQueries: Int, beam: Int, rounds: Int,
                                       k: Int, keep: Int, nBuckets: Int,
                                       nLabels: Int, nprobe: Int = 2): String =
    approxRecall(annGraphSearchHier(nCentroids, kGraph, nQueries, beam, rounds, k, keep, nBuckets, nprobe, nLabels = nLabels),
      nQueries, k, nLabels)

  /** Filtered-walk recall at each (beam, rounds) budget — one branch
    * per budget, each the standalone filtered-recall chain.
    */
  def annGraphFilteredSweep(nCentroids: Int, kGraph: Int, nQueries: Int,
                            k: Int, nLabels: Int, params: Seq[(Int, Int)],
                            nprobe: Int = 2): String =
    params.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS beam, CAST($r AS BIGINT) AS rounds, s.*
         |FROM (
         |${annGraphSearchFilteredRecall(nCentroids, kGraph, nQueries, b, r, k, nLabels, nprobe)}) s"""
        .stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY beam, rounds, qid")

  /** Kendall tau-a + Jaccard between the full-dim exact top-k and the
    * pDims-prefix exact top-k (both cosines r3'd before rank).
    */
  def evalRankCorr(nQueries: Int, k: Int, pDims: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |xa AS (SELECT qid, vec_id AS vid, ${R("list_cosine_similarity(qv, v)")} AS cos
       |       FROM e CROSS JOIN q WHERE vec_id != qid),
       |fa AS (SELECT qid, vid, ra FROM (
       |  SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS ra
       |  FROM xa) WHERE ra <= $k),
       |ep AS (SELECT vec_id, v[1:$pDims] AS v FROM e),
       |qp AS (SELECT vec_id AS qid, v AS qv FROM ep WHERE vec_id < $nQueries),
       |xb AS (SELECT qid, vec_id AS vid, ${R("list_cosine_similarity(qv, v)")} AS cos
       |       FROM ep CROSS JOIN qp WHERE vec_id != qid),
       |fb AS (SELECT qid, vid, rb FROM (
       |  SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rb
       |  FROM xb) WHERE rb <= $k),
       |cm AS (SELECT fa.qid, fa.vid, fa.ra, fb.rb
       |       FROM fa JOIN fb ON fa.qid = fb.qid AND fa.vid = fb.vid),
       |pr AS (SELECT x.qid, CAST(SUM(SIGN(x.ra - y.ra) * SIGN(x.rb - y.rb)) AS BIGINT) AS s
       |       FROM cm x JOIN cm y ON x.qid = y.qid AND x.vid < y.vid
       |       GROUP BY x.qid),
       |ct AS (SELECT qid, COUNT(*) AS n_common FROM cm GROUP BY qid),
       |nn AS (SELECT qid, COUNT(*) AS n_a FROM fa GROUP BY qid),
       |nm AS (SELECT qid, COUNT(*) AS n_b FROM fb GROUP BY qid)
       |SELECT nn.qid, COALESCE(ct.n_common, 0) AS n_common,
       |       CASE WHEN COALESCE(ct.n_common, 0) >= 2
       |            THEN ${R("pr.s / (ct.n_common * (ct.n_common - 1) / 2.0)")} END AS tau,
       |       ${R("COALESCE(ct.n_common, 0) / (nn.n_a + nm.n_b - COALESCE(ct.n_common, 0))")} AS jaccard
       |FROM nn JOIN nm USING (qid)
       |LEFT JOIN ct USING (qid) LEFT JOIN pr USING (qid)
       |ORDER BY nn.qid""".stripMargin

  /** Embedding outliers: per-cell Hampel rule on cosine-to-own-
    * centroid (assignment = the crank-1 convention).
    */
  def embeddingOutliers(nCentroids: Int, nMads: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |a0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |a1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM a0),
       |asg AS (SELECT vec_id, cid AS cell, ccos FROM a1 WHERE crank = 1),
       |m1 AS (SELECT cell, MEDIAN(ccos) AS med FROM asg GROUP BY cell),
       |m2 AS (
       |  SELECT a.cell, MEDIAN(ABS(a.ccos - m.med)) AS mad
       |  FROM asg a JOIN m1 m USING (cell) GROUP BY a.cell)
       |SELECT a.vec_id, a.cell, a.ccos, ${R("m.med")} AS med,
       |       ${R("ABS(a.ccos - m.med) / NULLIF(x.mad, 0)")} AS n_mads
       |FROM asg a JOIN m1 m USING (cell) JOIN m2 x USING (cell)
       |WHERE ABS(a.ccos - m.med) > $nMads * x.mad
       |ORDER BY a.vec_id""".stripMargin

  /** Semi-hard negatives: exact-cosine ranks m+1..m+k per query. */
  def mlHardNegatives(nQueries: Int, m: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |xs AS (
       |  SELECT qid, vec_id AS vid, ${R("list_cosine_similarity(qv, v)")} AS cos
       |  FROM e CROSS JOIN q WHERE vec_id != qid),
       |xr AS (
       |  SELECT qid, vid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM xs)
       |SELECT qid, vid, cos, rank - $m AS neg_rank
       |FROM xr WHERE rank > $m AND rank <= ${m + k}
       |ORDER BY qid, neg_rank""".stripMargin

  /** Multi-layer hierarchical walk: each level ℓ (top → 1) is an
    * md5-sampled slice (nested per-level coins — level 1 unsalted,
    * level j ≥ 2 salted `#j`, mirroring Similarity.layerPred) with
    * its own probe-cell graph, walked from the global entry (min top-
    * level vec_id) down through per-level best-1 seeds to the level-0
    * walk over the full graph. CTE names carry a layer prefix; each
    * layer is the probe-cell graph + chained visited/frontier walk of
    * [[annGraphSearch]]. `nLayers = 2` is the two-layer build of
    * rounds ≤ 13.
    */
  def annGraphSearchHier(nCentroids: Int, kGraph: Int, nQueries: Int,
                         beam: Int, rounds: Int, k: Int,
                         keep: Int, nBuckets: Int, nprobe: Int = 2,
                         nLayers: Int = 2, pred: String = "TRUE",
                         removedPred: String = "FALSE",
                         route: Option[(Int, Int, Int)] = None,
                         nLabels: Int = 0): String = {
    // `nLabels > 0` = the FILTERED hier walk: navigation levels run
    // unfiltered, the level-0 walk uses the mixed navigation ∪
    // matching beam and the final rank filters label = qid % nLabels
    // (annGraphSearchFiltered's CTE shapes seeded by the hierarchy)
    // `pred` restricts the BUILD corpus (the survivor-one-shot oracle
    // of the hier compaction gate); `removedPred` masks a build over
    // the FULL corpus at SERVE time (the tombstone-mask oracle of the
    // hier takedown gate): per-level graphs build unmasked, then
    // edges with a removed endpoint drop, scoring/query/entry frames
    // exclude removed nodes, and the entry is the min SURVIVING
    // top-level node — exactly annGraphSearchHierStored's mask.
    val masking = removedPred != "FALSE"
    def coin(j: Int): String = {
      val seed = if (j == 1) "CAST(vec_id AS VARCHAR)"
        else s"CAST(vec_id AS VARCHAR) || '#$j'"
      s"CAST(CONCAT('0x', SUBSTR(md5($seed), 1, 4)) AS INTEGER) % $nBuckets < $keep"
    }
    def lvlPred(level: Int): String = (1 to level).map(coin).mkString(" AND ")
    val edgeMask = if (!masking) "" else
      s"""
         |    AND NOT (${removedPred.replace("vec_id", "src")})
         |    AND NOT (${removedPred.replace("vec_id", "nbr")})""".stripMargin
    def graphCtes(p: String, eCte: String): String = route match {
      // routed assignment per level: the centroid-graph walk decides
      // each vector's cell/probe cells (mirrors knnGraphEdgesRouted),
      // then the identical probe join + top-k + serve-time edge mask
      case Some((deg, beamR, roundsR)) =>
        s"""${routedCoreCtes(p, eCte, nCentroids, deg, beamR, roundsR)},
           |rap$p AS (SELECT r.vec_id, r.cid AS pcell, ee.v
           |          FROM rvis$p r JOIN $eCte ee ON ee.vec_id = r.vec_id
           |          WHERE r.crank <= $nprobe),
           |rasg$p AS (SELECT r.vec_id AS nbr, r.cid AS cell_b, ee.v AS vb
           |           FROM rvis$p r JOIN $eCte ee ON ee.vec_id = r.vec_id
           |           WHERE r.crank = 1),
           |pr$p AS (
           |  SELECT a.vec_id, b.nbr, ${R("list_cosine_similarity(a.v, b.vb)")} AS cos
           |  FROM rap$p a JOIN rasg$p b ON a.pcell = b.cell_b AND b.nbr != a.vec_id),
           |g$p AS MATERIALIZED (
           |  SELECT vec_id AS src, nbr FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
           |    FROM pr$p) WHERE rank <= $kGraph$edgeMask)""".stripMargin
      case None =>
        s"""c$p AS (SELECT vec_id AS cid, v AS cv FROM $eCte WHERE vec_id < $nCentroids),
           |a0$p AS (
           |  SELECT ee.vec_id, ee.v, cc.cid, ${R("list_cosine_similarity(ee.v, cc.cv)")} AS ccos
           |  FROM $eCte ee CROSS JOIN c$p cc),
           |a1$p AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
           |  FROM a0$p),
           |asg$p AS (SELECT vec_id, v, cid AS cell FROM a1$p WHERE crank = 1),
           |ap$p AS (SELECT vec_id, v, cid AS pcell FROM a1$p WHERE crank <= $nprobe),
           |pr$p AS (
           |  SELECT a.vec_id, b.vec_id AS nbr, ${R("list_cosine_similarity(a.v, b.v)")} AS cos
           |  FROM ap$p a JOIN asg$p b ON a.pcell = b.cell AND b.vec_id != a.vec_id),
           |g$p AS MATERIALIZED (
           |  SELECT vec_id AS src, nbr FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
           |    FROM pr$p) WHERE rank <= $kGraph$edgeMask)""".stripMargin
    }
    def walkCtes(p: String, eCte: String, seedSql: String,
                 filtered: Boolean = false,
                 undirected: Boolean = false): String = {
      val sb = new StringBuilder
      // the FILTERED walk and the level-0 ANSWER walk read the
      // adjacency UNDIRECTED (reverse edges restore directed-
      // unreachable nodes — entry-seeded queries lose exact answers
      // among them otherwise); the filtered walk additionally expands
      // filtered-out hop-1 candidates one bridge hop — mirror of
      // Similarity.filteredWalkFrom / graphWalkFrom(undirected);
      // navigation levels stay directed (k = 1 routing only)
      val sym = filtered || undirected
      if (sym) sb.append(
        s"""gs$p AS MATERIALIZED (
           |  SELECT src, nbr FROM g$p UNION ALL SELECT nbr AS src, src AS nbr FROM g$p),
           |""".stripMargin)
      val gw = if (sym) s"gs$p" else s"g$p"
      sb.append(
        s"""f${p}0 AS ($seedSql),
           |v${p}0 AS (SELECT qid, vid FROM f${p}0)""".stripMargin)
      for (r <- 1 to rounds) {
        val labelCol = if (filtered) ", e2.label" else ""
        sb.append(s""",
           |x$p$r AS (SELECT f.qid, g.nbr AS vid FROM f$p${r - 1} f JOIN $gw g ON g.src = f.vid)""".stripMargin)
        if (filtered) sb.append(s""",
           |b$p$r AS (
           |  SELECT x.qid, x.vid FROM x$p$r x JOIN $eCte eb ON eb.vec_id = x.vid
           |  WHERE eb.label != x.qid % $nLabels),
           |y$p$r AS (SELECT b.qid, g.nbr AS vid FROM b$p$r b JOIN $gw g ON g.src = b.vid),
           |v$p$r AS MATERIALIZED (
           |  SELECT DISTINCT qid, vid FROM (
           |    SELECT qid, vid FROM v$p${r - 1} UNION ALL SELECT qid, vid FROM x$p$r
           |    UNION ALL SELECT qid, vid FROM y$p$r)),""".stripMargin)
        else sb.append(s""",
           |v$p$r AS MATERIALIZED (
           |  SELECT DISTINCT qid, vid FROM (
           |    SELECT qid, vid FROM v$p${r - 1} UNION ALL SELECT qid, vid FROM x$p$r)),""".stripMargin)
        sb.append(s"""
           |s$p$r AS${if (filtered) " MATERIALIZED" else ""} (
           |  SELECT v.qid, v.vid$labelCol, ${R("list_cosine_similarity(e2.v, q.qv)")} AS cos
           |  FROM v$p$r v JOIN $eCte e2 ON e2.vec_id = v.vid JOIN q ON q.qid = v.qid),""".stripMargin)
        if (!filtered) sb.append(s"""
           |f$p$r AS MATERIALIZED (
           |  SELECT qid, vid FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
           |    FROM s$p$r) WHERE rk <= $beam)""".stripMargin)
        else sb.append(s"""
           |f$p$r AS MATERIALIZED (
           |  SELECT DISTINCT qid, vid FROM (
           |    SELECT qid, vid FROM (
           |      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
           |      FROM s$p$r) WHERE rk <= $beam
           |    UNION ALL
           |    SELECT qid, vid FROM (
           |      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
           |      FROM s$p$r WHERE label = qid % $nLabels) WHERE rk <= $beam))""".stripMargin)
      }
      sb.toString
    }
    val top = nLayers - 1
    val sb = new StringBuilder
    val eWhere = if (pred == "TRUE") "" else s" AND ($pred)"
    sb.append(
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           WHERE embedding IS NOT NULL$eWhere),""".stripMargin)
    // the SERVE-side frames: es (scoring/query corpus) and per-level
    // lys (masked slices); without masking they alias the build frames
    if (masking) sb.append(s"""
       |es AS (SELECT * FROM e WHERE NOT ($removedPred)),""".stripMargin)
    val eServe = if (masking) "es" else "e"
    sb.append(s"""
       |q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM $eServe WHERE vec_id < $nQueries),
       |ly$top AS MATERIALIZED (SELECT * FROM e WHERE ${lvlPred(top)}),""".stripMargin)
    if (masking) sb.append(s"""
       |lys$top AS (SELECT * FROM ly$top WHERE NOT ($removedPred)),""".stripMargin)
    def serve(lvl: Int) = if (masking) s"lys$lvl" else s"ly$lvl"
    sb.append(s"""
       |ent AS (SELECT MIN(vec_id) AS evid FROM ${serve(top)})""".stripMargin)
    // top → 1: walk each level's sampled graph, best-1 seeds the next
    for (lvl <- top to 1 by -1) {
      if (lvl != top) {
        sb.append(s""",
           |ly$lvl AS MATERIALIZED (SELECT * FROM e WHERE ${lvlPred(lvl)})""".stripMargin)
        if (masking) sb.append(s""",
           |lys$lvl AS (SELECT * FROM ly$lvl WHERE NOT ($removedPred))""".stripMargin)
      }
      val seed = if (lvl == top) "SELECT qid, evid AS vid FROM q, ent"
        else s"SELECT qid, vid FROM t${lvl + 1}"
      sb.append(s""",
         |${graphCtes(s"u$lvl", s"ly$lvl")},
         |${walkCtes(s"u$lvl", serve(lvl), seed)},
         |t$lvl AS (
         |  SELECT qid, vid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
         |    FROM su$lvl$rounds WHERE vid != qid) WHERE rk = 1)""".stripMargin)
    }
    val finalFilter = if (nLabels > 0) s" AND label = qid % $nLabels" else ""
    sb.append(s""",
       |${graphCtes("l", "e")},
       |${walkCtes("l", eServe, "SELECT qid, vid FROM t1",
          filtered = nLabels > 0, undirected = true)}
       |SELECT qid, vid, cos, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM sl$rounds WHERE vid != qid$finalFilter) WHERE rank <= $k ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  /** Recall@k of [[annGraphSearchHier]] vs the exact cosine top-k. */
  def annGraphSearchHierRecall(nCentroids: Int, kGraph: Int, nQueries: Int,
                               beam: Int, rounds: Int, k: Int,
                               keep: Int, nBuckets: Int, nprobe: Int = 2,
                               nLayers: Int = 2): String =
    approxRecall(annGraphSearchHier(nCentroids, kGraph, nQueries, beam, rounds, k, keep, nBuckets, nprobe, nLayers),
      nQueries, k)

  /** Recall@k of the walk at each (beam, rounds) budget — one branch
    * per budget, each the standalone recall chain with its literals.
    */
  def annGraphSweep(nCentroids: Int, kGraph: Int, nQueries: Int, k: Int,
                    params: Seq[(Int, Int)], nprobe: Int = 2): String =
    params.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS beam, CAST($r AS BIGINT) AS rounds, s.*
         |FROM (
         |${annGraphSearchRecall(nCentroids, kGraph, nQueries, b, r, k, nprobe)}) s"""
        .stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY beam, rounds, qid")

  /** Recall@k of the graph walk vs the exact cosine top-k. */
  def annGraphSearchRecall(nCentroids: Int, kGraph: Int, nQueries: Int,
                           beam: Int, rounds: Int, k: Int, nprobe: Int = 2): String =
    approxRecall(annGraphSearch(nCentroids, kGraph, nQueries, beam, rounds, k, nprobe),
      nQueries, k)

  /** [[graft.operators.Similarity.semanticDecontaminate]]'s mirror:
    * the shared IVF assignment CTEs (rounded cosine argmax, cid-asc
    * tie — `a1`), corpus = single top cell of the non-benchmark ids,
    * benchmark = `crank <= nprobe` probe cells of the every-benchMod
    * ids, one cell LEFT join, per-vector argmax by (cos DESC, bid
    * ASC) — the Spark side's max-of-struct with negated bid.
    */
  def decontaminateSemantic(nCentroids: Int, nprobe: Int,
                            threshold: Double, benchMod: Long,
                            mask: String = "TRUE"): String =
    // `mask` filters corpus AND bench MEMBERSHIP only (the stored
    // face's takedown); the codebook CTE `c` stays unmasked — the
    // store's quantizer is pinned in `_meta` at build time, so a
    // takedown never re-seeds centroids
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |a0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |a1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM a0),
       |corpus AS (SELECT vec_id, v, cid AS cell FROM a1
       |           WHERE crank = 1 AND vec_id % $benchMod != 0 AND ($mask)),
       |bench AS (SELECT vec_id AS bid, v AS bv, cid AS cell FROM a1
       |          WHERE vec_id % $benchMod = 0 AND crank <= $nprobe AND ($mask)),
       |s AS (
       |  SELECT co.vec_id, co.cell, b.bid,
       |         ${R("list_cosine_similarity(co.v, b.bv)")} AS cos
       |  FROM corpus co JOIN bench b ON co.cell = b.cell),
       |r AS (
       |  SELECT vec_id, bid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, bid) AS rk
       |  FROM s),
       |best AS (SELECT vec_id, bid, cos FROM r WHERE rk = 1)
       |SELECT co.vec_id, co.cell, b.cos AS max_cos, b.bid AS bench_id,
       |       COALESCE(b.cos >= $threshold, FALSE) AS flagged
       |FROM corpus co LEFT JOIN best b ON co.vec_id = b.vec_id
       |ORDER BY co.vec_id""".stripMargin

  /** [[graft.operators.Similarity.semanticDedupRouted]]'s mirror: the
    * shared routed-assignment CTEs decide each vector's top-1 cell
    * (crank = 1 — the flat argmax's tie order over the visited set),
    * then the dedupSemantic survivor CTEs run unchanged over the
    * routed cells.
    */
  def dedupSemanticRouted(nCentroids: Int, kCentGraph: Int, beam: Int,
                          rounds: Int, threshold: Double): String =
    s"""WITH ${routedCtes(nCentroids, kCentGraph, beam, rounds)},
       |rasg AS (SELECT r.vec_id, r.cid AS cell, e.v
       |         FROM rvis r JOIN e ON e.vec_id = r.vec_id WHERE r.crank = 1),
       |dup AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM rasg a JOIN rasg b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |   AND ${R("list_cosine_similarity(a.v, b.v)")} >= $threshold)
       |SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS dropped
       |FROM rasg a LEFT JOIN dup d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  def dedupSemantic(nCentroids: Int, threshold: Double): String =
    // NULL embeddings are excluded on BOTH sides: the Spark operator
    // guards v.isNotNull, so the one-row-per-vector contract means
    // one row per NON-NULL vector
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |a0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |a1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM a0),
       |asg AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE crank = 1),
       |dup AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM asg a JOIN asg b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |   AND ${R("list_cosine_similarity(a.v, b.v)")} >= $threshold)
       |SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS dropped
       |FROM asg a LEFT JOIN dup d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** Multi-probe IVF: corpus keeps its top-1 cell; queries search
    * their `nprobe` nearest cells (crank <= nprobe).
    */
  def annIvfProbe(nCentroids: Int, nQueries: Int, k: Int, nprobe: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |a0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |a1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM a0),
       |asg AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE crank = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cid AS cell FROM a1
       |      WHERE vec_id < $nQueries AND crank <= $nprobe),
       |s AS (
       |  SELECT q.qid, a.vec_id AS vid, ${R("list_cosine_similarity(a.v, q.qv)")} AS cos
       |  FROM asg a JOIN q ON a.cell = q.cell AND a.vec_id != q.qid),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, vid, cos, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** nprobe tuning table: per-nprobe recall@k of the multi-probe IVF
    * tier, each branch the standalone probe query nested verbatim.
    */
  def annIvfProbeSweep(nCentroids: Int, nQueries: Int, k: Int,
                       probes: Seq[Int],
                       pqCodewords: Int = 0, pqM: Int = 0): String = {
    def branch(tier: String, p: Int, inner: String): String =
      recallBranch(s"'$tier' AS tier, CAST($p AS BIGINT) AS nprobe",
        s"(\n  SELECT qid, vid, 1 AS hit FROM (\n$inner) $tier$p) a")
    val branches = (
      probes.map(p => branch("ivf", p, annIvfProbe(nCentroids, nQueries, k, p))) ++
      (if (pqCodewords > 0)
        probes.map(p => branch("ivfpq", p,
          annIvfPqProbe(nCentroids, pqCodewords, pqM, nQueries, k, p)))
      else Nil)
    ).mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |            WHERE embedding IS NOT NULL),
       |q0 AS (SELECT vec_id AS qid, v AS qv FROM e0 WHERE vec_id < $nQueries),
       |${exactTopK("e0", "q0", k)}
       |$branches
       |ORDER BY tier, nprobe, qid""".stripMargin
  }

  /** Unrolled Lloyd's k-means CTE chain: `c0` = the first-`k` seed
    * codebook, then for i in 1..nIter an assignment CTE `a{i}` (the
    * annIvf rounded-cosine argmax with cid tie-break) against
    * `c{i-1}`, per-(cell, dim) member stats `m{i}` with the ROUNDED
    * per-dimension mean, and the updated codebook `c{i}`. A fixed
    * nIter unrolls exactly — no recursive CTE, every iteration's
    * arithmetic visibly identical to the Spark side's ([[
    * graft.operators.Similarity.kmeansStep]]). Uniform-dim corpus
    * assumed (COUNT(*) per (cell, d) = cluster size).
    */
  private def kmeansCtes(k: Int, nIter: Int, dim: Int,
                         src: String = "e", withE: Boolean = true,
                         c0Sql: String = ""): String = {
    val sb = new StringBuilder
    if (withE) sb.append(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |      WHERE embedding IS NOT NULL),
         |""".stripMargin)
    sb.append(
      if (c0Sql.nonEmpty) c0Sql
      else s"""c0 AS (SELECT vec_id AS cid, v AS cv FROM $src WHERE vec_id < $k)""".stripMargin)
    for (i <- 1 to nIter) {
      sb.append(
        s""",
           |a${i}0 AS (
           |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
           |  FROM $src e CROSS JOIN c${i - 1} c),
           |a$i AS (
           |  SELECT vec_id, v, cid AS cell FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
           |    FROM a${i}0)
           |  WHERE crank = 1),
           |m$i AS (
           |  SELECT cell, d, COUNT(*) AS n, ${R("SUM(v[d+1]) / COUNT(*)")} AS cd
           |  FROM a$i CROSS JOIN range(0, $dim) r(d)
           |  GROUP BY cell, d),
           |c$i AS (
           |  SELECT cell AS cid, LIST(cd ORDER BY d) AS cv FROM m$i GROUP BY cell)""".stripMargin)
    }
    sb.toString
  }

  /** kmeans_fit: `nIter` unrolled Lloyd rounds; per surviving cluster
    * of the FINAL round, the member count and the position-weighted
    * checksum Σ (d+1)·cd over the round's updated (rounded) means.
    */
  def kmeansFit(k: Int, nIter: Int, dim: Int = 64): String =
    s"""WITH ${kmeansCtes(k, nIter, dim)}
       |SELECT cell AS cid, MAX(n) AS n, ${R("SUM((d+1) * cd)")} AS checksum
       |FROM m$nIter GROUP BY cell ORDER BY cid""".stripMargin

  /** Deterministic maximin (k-means++-style) seed chain ending in the
    * `c0` CTE: seed 1 = lowest vec_id; each round takes the argmin of
    * the r3'd max-cosine to the seeds so far, ties to the lowest
    * vec_id. Seed CTEs are MATERIALIZED — each is referenced twice
    * per round (the BPE-oracle planner lesson).
    */
  private def maximinCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""mm1 AS MATERIALIZED (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  WHERE vec_id = (SELECT MIN(vec_id) FROM e))""".stripMargin)
    for (j <- 2 to k) {
      sb.append(s""",
         |mp$j AS (
         |  SELECT e.vec_id, ${R("MAX(list_cosine_similarity(e.v, s.cv))")} AS simmax
         |  FROM e CROSS JOIN mm${j - 1} s
         |  WHERE e.vec_id NOT IN (SELECT cid FROM mm${j - 1})
         |  GROUP BY e.vec_id),
         |mm$j AS MATERIALIZED (
         |  SELECT * FROM mm${j - 1}
         |  UNION ALL
         |  SELECT e2.vec_id AS cid, e2.v AS cv FROM e e2
         |  WHERE e2.vec_id = (SELECT vec_id FROM mp$j ORDER BY simmax ASC, vec_id LIMIT 1))""".stripMargin)
    }
    sb.append(s""",
       |c0 AS (SELECT cid, cv FROM mm$k)""".stripMargin)
    sb.toString
  }

  /** kmeans_fit from the maximin seeds — the Lloyd chain unchanged. */
  def kmeansFitMaximin(k: Int, nIter: Int, dim: Int = 64): String =
    s"""WITH ${kmeansCtes(k, nIter, dim, c0Sql = maximinCtes(k))}
       |SELECT cell AS cid, MAX(n) AS n, ${R("SUM((d+1) * cd)")} AS checksum
       |FROM m$nIter GROUP BY cell ORDER BY cid""".stripMargin

  /** kmeans_fit on the md5-PRNG sample: the kmeansCtes chain with every
    * assignment restricted to the `es` sample CTE — the SAME first-4-
    * hex-digits bucket arithmetic as the Spark side (and the ts_split
    * gate), so the training set is identical vector-for-vector. Seeds
    * stay the FULL corpus' first-k.
    */
  def kmeansFitSampled(k: Int, nIter: Int, keep: Int, nBuckets: Int,
                       dim: Int = 64): String = {
    val bucket =
      s"CAST(CONCAT('0x', SUBSTR(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) % $nBuckets"
    val sb = new StringBuilder
    sb.append(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |      WHERE embedding IS NOT NULL),
         |es AS (SELECT * FROM e WHERE $bucket < $keep),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k)""".stripMargin)
    for (i <- 1 to nIter) {
      sb.append(
        s""",
           |a${i}0 AS (
           |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
           |  FROM es e CROSS JOIN c${i - 1} c),
           |a$i AS (
           |  SELECT vec_id, v, cid AS cell FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
           |    FROM a${i}0)
           |  WHERE crank = 1),
           |m$i AS (
           |  SELECT cell, d, COUNT(*) AS n, ${R("SUM(v[d+1]) / COUNT(*)")} AS cd
           |  FROM a$i CROSS JOIN range(0, $dim) r(d)
           |  GROUP BY cell, d),
           |c$i AS (
           |  SELECT cell AS cid, LIST(cd ORDER BY d) AS cv FROM m$i GROUP BY cell)""".stripMargin)
    }
    s"""WITH ${sb.toString}
       |SELECT cell AS cid, MAX(n) AS n, ${R("SUM((d+1) * cd)")} AS checksum
       |FROM m$nIter GROUP BY cell ORDER BY cid""".stripMargin
  }

  /** annIvf search against the k-means-TRAINED codebook `c{kmIter}`
    * instead of the first-N convention — the annIvf CTEs with the
    * trained centroids swapped in.
    */
  def annIvfTrained(nCentroids: Int, kmIter: Int, nQueries: Int, k: Int,
                    dim: Int = 64): String =
    s"""WITH ${kmeansCtes(nCentroids, kmIter, dim)},
       |f0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c$kmIter c),
       |asg AS (
       |  SELECT vec_id, v, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM f0)
       |  WHERE crank = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cell FROM asg WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT q.qid, a.vec_id AS vid, ${R("list_cosine_similarity(a.v, q.qv)")} AS cos
       |  FROM asg a JOIN q ON a.cell = q.cell AND a.vec_id != q.qid),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, vid, cos, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Per-dimension embedding stats: count/mean/variance/min/max, the
    * variance in the shared sum-of-squares form. Out-of-range list
    * indexes are NULL (short vectors) and COUNT(x) skips them —
    * matching posexplode's per-element semantics.
    */
  def embeddingStats(dim: Int = 64): String =
    s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |x AS (SELECT r.d, e.v[r.d + 1] AS x FROM e CROSS JOIN range(0, $dim) r(d))
       |SELECT d, COUNT(x) AS n,
       |       ${R("SUM(x) / COUNT(x)")} AS mean,
       |       ${R("SUM(x * x) / COUNT(x) - (SUM(x) / COUNT(x)) * (SUM(x) / COUNT(x))")} AS variance,
       |       ${R("MIN(x)")} AS min_x,
       |       ${R("MAX(x)")} AS max_x
       |FROM x GROUP BY d ORDER BY d""".stripMargin

  /** Upper-triangle covariance of the embedding dimensions —
    * Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n) with the identical composition and
    * rounding as Similarity.covariance.
    */
  /** First-round BPE pair counts over the distinct-word vocabulary. */
  def bpePairCounts(k: Int): String =
    s"""WITH wds AS (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents),
       |wf AS (SELECT w, COUNT(*) AS freq FROM wds WHERE length(w) >= 2 GROUP BY w),
       |pos AS (
       |  SELECT w, freq, UNNEST(generate_series(1, length(w) - 1)) AS i
       |  FROM wf),
       |g AS (
       |  SELECT substr(w, i, 2) AS pair, SUM(freq) AS pair_count
       |  FROM pos GROUP BY 1)
       |SELECT pair, CAST(pair_count AS BIGINT) AS pair_count
       |FROM g ORDER BY pair_count DESC, pair LIMIT $k""".stripMargin

  /** BPE trainer rounds as chained CTEs (the kmeans convention): per
    * round, pair-count over the vocabulary-sized symbol state, a
    * 1-row argmax `b{i}` (count DESC, lhs, rhs), and the greedy
    * left-to-right non-overlapping merge expressed relationally —
    * match flags per position, consecutive-match islands
    * (gaps-and-islands), run-parity picks the taken matches, and a
    * LAG marks positions consumed as the right half of a merge.
    * State CTEs are MATERIALIZED: each round references the previous
    * round's state twice (pair counts + merge), so default CTE
    * inlining doubles the tree per round — 2^n blowup that hangs the
    * planner at 8 rounds (measured); materialization makes the chain
    * linear.
    * Requires nMerges small enough that pairs never run out (the
    * Spark trainer stops early; an exhausted oracle round would empty
    * the chain).
    */
  private def bpeCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """w0 AS MATERIALIZED (
        |  SELECT w, freq,
        |         list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS syms
        |  FROM (SELECT w, COUNT(*) AS freq
        |        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        |        WHERE length(w) >= 2 GROUP BY w))""".stripMargin)
    for (i <- 1 to nMerges) {
      sb.append(
        s""",
           |b$i AS MATERIALIZED (
           |  SELECT a, b, cnt FROM (
           |    SELECT syms[p] AS a, syms[p + 1] AS b, SUM(freq) AS cnt FROM (
           |      SELECT freq, syms, UNNEST(generate_series(1, len(syms) - 1)) AS p
           |      FROM w${i - 1})
           |    GROUP BY 1, 2)
           |  ORDER BY cnt DESC, a, b LIMIT 1),
           |m${i}0 AS (
           |  SELECT m.w, m.freq, m.p, m.syms[m.p] AS s,
           |         COALESCE(m.syms[m.p] = b.a AND m.syms[m.p + 1] = b.b, FALSE) AS mt
           |  FROM (SELECT w, freq, syms, UNNEST(generate_series(1, len(syms))) AS p
           |        FROM w${i - 1}) m, b$i b),
           |m${i}1 AS (
           |  SELECT *, p - ROW_NUMBER() OVER (PARTITION BY w, mt ORDER BY p) AS isl
           |  FROM m${i}0),
           |m${i}2 AS (
           |  SELECT *, mt AND (p - MIN(p) OVER (PARTITION BY w, mt, isl)) % 2 = 0 AS taken
           |  FROM m${i}1),
           |m${i}3 AS (
           |  SELECT *, COALESCE(LAG(taken) OVER (PARTITION BY w ORDER BY p), FALSE) AS consumed
           |  FROM m${i}2),
           |w$i AS MATERIALIZED (
           |  SELECT m.w, m.freq,
           |         LIST(CASE WHEN m.taken THEN b.a || b.b ELSE m.s END ORDER BY m.p) AS syms
           |  FROM m${i}3 m, b$i b
           |  WHERE m.taken OR NOT m.consumed
           |  GROUP BY m.w, m.freq)""".stripMargin)
    }
    sb.toString
  }

  /** The learned merge list, one row per round's argmax. */
  def bpeTrain(nMerges: Int): String = {
    val rows = (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, " +
        s"a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(nMerges)}
       |$rows
       |ORDER BY merge_rank""".stripMargin
  }

  /** The BPE trainer as ONE RECURSIVE CTE — the deep-vocabulary gate
    * oracle (nMerges ≥ 256): the unrolled [[bpeCtes]] chain costs
    * O(links²) planner time (measured 83s at 256 links vs 1.5s
    * recursive at sf0.01), so the loop moves into `WITH RECURSIVE`:
    * the working table is the word-symbol state, each iteration picks
    * the (cnt DESC, a, b) argmax over it, applies the island-parity
    * greedy merge, and carries the chosen merge as constant columns;
    * the final projection reads the DISTINCT per-round merge rows.
    * Terminates on pair exhaustion (the recursive term yields no
    * rows) or at `nMerges`. Byte-identical to [[bpeTrain]]'s chain by
    * construction — the per-iteration SQL is the same link body.
    */
  def bpeTrainRecursive(nMerges: Int): String =
    s"""WITH RECURSIVE st(r, w, freq, syms, ma, mb, mc) AS (
       |  SELECT 0, w, freq,
       |         list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)),
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
       |  FROM (SELECT w, COUNT(*) AS freq
       |        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |        WHERE length(w) >= 2 GROUP BY w)
       |  UNION ALL
       |  (WITH best AS (
       |     SELECT syms[p] AS a, syms[p + 1] AS b, SUM(freq) AS cnt FROM (
       |       SELECT freq, syms, UNNEST(generate_series(1, len(syms) - 1)) AS p
       |       FROM st)
       |     GROUP BY 1, 2
       |     ORDER BY cnt DESC, a, b LIMIT 1),
       |   m0 AS (
       |     SELECT m.r, m.w, m.freq, m.p, m.syms[m.p] AS s,
       |            COALESCE(m.syms[m.p] = b.a AND m.syms[m.p + 1] = b.b, FALSE) AS mt,
       |            b.a AS ba, b.b AS bb, b.cnt AS bc
       |     FROM (SELECT r, w, freq, syms, UNNEST(generate_series(1, len(syms))) AS p
       |           FROM st) m, best b),
       |   m1 AS (SELECT *, p - ROW_NUMBER() OVER (PARTITION BY w, mt ORDER BY p) AS isl
       |          FROM m0),
       |   m2 AS (SELECT *, mt AND (p - MIN(p) OVER (PARTITION BY w, mt, isl)) % 2 = 0 AS taken
       |          FROM m1),
       |   m3 AS (SELECT *, COALESCE(LAG(taken) OVER (PARTITION BY w ORDER BY p), FALSE) AS consumed
       |          FROM m2)
       |   SELECT m.r + 1, m.w, m.freq,
       |          LIST(CASE WHEN m.taken THEN m.ba || m.bb ELSE m.s END ORDER BY m.p),
       |          ANY_VALUE(m.ba), ANY_VALUE(m.bb), ANY_VALUE(m.bc)
       |   FROM m3 m
       |   WHERE (m.taken OR NOT m.consumed) AND m.r < $nMerges
       |   GROUP BY m.r, m.w, m.freq)
       |)
       |SELECT DISTINCT CAST(r AS BIGINT) AS merge_rank, ma AS lhs, mb AS rhs,
       |       ma || mb AS merged, CAST(mc AS BIGINT) AS pair_count
       |FROM st WHERE r >= 1
       |ORDER BY merge_rank""".stripMargin

  /** The WordPiece trainer as ONE RECURSIVE CTE — [[bpeTrainRecursive]]
    * with the likelihood argmax: each iteration recomputes symbol
    * counts over the working state, scores every pair with the
    * 1e-6-quantized ln cnt − ln c_a − ln c_b, and merges the
    * (lscore DESC, cnt DESC, a, b) argmax under the `##` marking
    * invariant.
    *
    * ACCEPTED CROSS-ENGINE FP RISK (r16 ADVICE, adjudicated): parity
    * rests on java.lang.Math.log and DuckDB's ln agreeing through the
    * 1e-6 floor quantization. A flip needs BOTH (a) the true score
    * within ~1 ULP of a 1e-6 cell edge (the 0.5001 nudge means the
    * edge sits 1e-10 of a cell off the half-integer, so exact-half
    * values land consistently) AND (b) the two libm implementations
    * straddling that edge — Math.log and DuckDB ln are both
    * correctly-rounded-to-≤1-ULP doubles, so the exposure per
    * comparison is ~1e-10 of score space. The gates run nMerges=256
    * on a vocabulary whose scores sit far from cell edges (verified
    * green at all three SFs every round since r13); an exact
    * cross-multiplied-integer argmax would need HUGEINT plumbing on
    * both engines and changes the published `lscore` semantics, so
    * the quantized-log contract stands, documented here.
    */
  def wordpieceTrainRecursive(nMerges: Int): String =
    s"""WITH RECURSIVE st(r, w, freq, syms, ma, mb, mc, ms) AS (
       |  SELECT 0, w, freq,
       |         list_transform(generate_series(1, length(w)), i ->
       |           CASE WHEN i = 1 THEN substr(w, i, 1)
       |                ELSE '##' || substr(w, i, 1) END),
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
       |  FROM (SELECT w, COUNT(*) AS freq
       |        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |        WHERE length(w) >= 1 GROUP BY w)
       |  UNION ALL
       |  (WITH sc AS (
       |     SELECT s, SUM(freq) AS c FROM (
       |       SELECT freq, UNNEST(syms) AS s FROM st) GROUP BY 1),
       |   best AS (
       |     SELECT p.a, p.b, p.cnt,
       |            FLOOR((ln(CAST(p.cnt AS DOUBLE)) - ln(CAST(ca.c AS DOUBLE)) -
       |                   ln(CAST(cb.c AS DOUBLE))) * 1000000.0 + 0.5001) / 1000000.0 AS lscore
       |     FROM (
       |       SELECT syms[p] AS a, syms[p + 1] AS b, SUM(freq) AS cnt FROM (
       |         SELECT freq, syms, UNNEST(generate_series(1, len(syms) - 1)) AS p
       |         FROM st)
       |       GROUP BY 1, 2) p
       |     JOIN sc ca ON ca.s = p.a
       |     JOIN sc cb ON cb.s = p.b
       |     ORDER BY lscore DESC, cnt DESC, a, b LIMIT 1),
       |   m0 AS (
       |     SELECT m.r, m.w, m.freq, m.p, m.syms[m.p] AS s,
       |            COALESCE(m.syms[m.p] = b.a AND m.syms[m.p + 1] = b.b, FALSE) AS mt,
       |            b.a AS ba, b.b AS bb, b.cnt AS bc, b.lscore AS bl
       |     FROM (SELECT r, w, freq, syms, UNNEST(generate_series(1, len(syms))) AS p
       |           FROM st) m, best b),
       |   m1 AS (SELECT *, p - ROW_NUMBER() OVER (PARTITION BY w, mt ORDER BY p) AS isl
       |          FROM m0),
       |   m2 AS (SELECT *, mt AND (p - MIN(p) OVER (PARTITION BY w, mt, isl)) % 2 = 0 AS taken
       |          FROM m1),
       |   m3 AS (SELECT *, COALESCE(LAG(taken) OVER (PARTITION BY w ORDER BY p), FALSE) AS consumed
       |          FROM m2)
       |   SELECT m.r + 1, m.w, m.freq,
       |          LIST(CASE WHEN m.taken THEN m.ba || substr(m.bb, 3) ELSE m.s END ORDER BY m.p),
       |          ANY_VALUE(m.ba), ANY_VALUE(m.bb), ANY_VALUE(m.bc), ANY_VALUE(m.bl)
       |   FROM m3 m
       |   WHERE (m.taken OR NOT m.consumed) AND m.r < $nMerges
       |   GROUP BY m.r, m.w, m.freq)
       |)
       |SELECT DISTINCT CAST(r AS BIGINT) AS merge_rank, ma AS lhs, mb AS rhs,
       |       ma || substr(mb, 3) AS merged, CAST(mc AS BIGINT) AS pair_count,
       |       ms AS lscore
       |FROM st WHERE r >= 1
       |ORDER BY merge_rank""".stripMargin

  /** Tokenize the corpus with the learned merges: on the training
    * corpus the final round's symbol state IS the encoding (the
    * encoder replays the same merges in the same order), so each
    * document flattens its words' final symbol lists in word order;
    * words outside the trainer state (length < 2) are their own
    * token, empty words contribute none.
    */
  def bpeEncode(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |dt AS (
       |  SELECT doc_id, ws, UNNEST(generate_series(1, len(ws))) AS i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |tok AS (
       |  SELECT dt.doc_id, dt.i,
       |         CASE WHEN length(dt.ws[dt.i]) = 0 THEN CAST([] AS VARCHAR[])
       |              ELSE COALESCE(wn.syms, [dt.ws[dt.i]]) END AS toks
       |  FROM dt LEFT JOIN w$nMerges wn ON wn.w = dt.ws[dt.i]),
       |fl AS (SELECT doc_id, flatten(LIST(toks ORDER BY i)) AS ft
       |       FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST(len(ft) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(ft, ' ')) AS fp
       |FROM fl ORDER BY doc_id""".stripMargin

  /** Tokenizer-real top-k token frequencies: distinct-word counts ×
    * per-type BPE replay, summed per emitted token.
    */
  def bpeTokenFreq(nMerges: Int, k: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |wc AS (
       |  SELECT w, COUNT(*) AS c FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY 1),
       |tk AS (
       |  SELECT wc.c, UNNEST(COALESCE(wn.syms, [wc.w])) AS token
       |  FROM wc LEFT JOIN w$nMerges wn ON wn.w = wc.w),
       |c2 AS (SELECT token, CAST(SUM(c) AS BIGINT) AS n FROM tk GROUP BY 1)
       |SELECT token, n,
       |       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
       |FROM c2 ORDER BY n DESC, token LIMIT $k""".stripMargin

  /** Tokenizer fertility by language: BPE tokens per word and chars
    * per token under the learned merge list (per-TYPE replay, the
    * bpeTokenFreq discipline).
    */
  def bpeFertility(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |wc AS (
       |  SELECT lang, w, COUNT(*) AS c FROM (
       |    SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents) u
       |  WHERE length(w) > 0 GROUP BY 1, 2),
       |pt AS (
       |  SELECT wc.lang, wc.c, length(wc.w) AS chars,
       |         len(COALESCE(wn.syms, [wc.w])) AS subtoks
       |  FROM wc LEFT JOIN w$nMerges wn ON wn.w = wc.w),
       |ag AS (
       |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
       |         CAST(SUM(c * subtoks) AS BIGINT) AS n_tokens,
       |         SUM(c * chars) AS n_chars
       |  FROM pt GROUP BY 1)
       |SELECT lang, n_words, n_tokens,
       |       ${R("n_tokens / n_words")} AS fertility,
       |       ${R("n_chars / n_tokens")} AS chars_per_token
       |FROM ag ORDER BY lang""".stripMargin

  /** WordPiece trainer rounds as chained CTEs — [[bpeCtes]]' loop with
    * the Schuster & Nakajima 2012 differences mirrored exactly:
    * (1) w0 marks each word as `[c1, ##c2, …]`; (2) the argmax ranks
    * by the LIKELIHOOD score ln cnt − ln c_a − ln c_b over the round's
    * symbol counts, 1e-6-floor-quantized before ranking (ties cnt
    * DESC, a, b — TextOps.wordpieceTrainMerges' exact rule); (3) the
    * merged symbol is `a || substr(b, 3)` (the right half is always
    * `##`-prefixed — the marking invariant). Same MATERIALIZED
    * discipline (the bpeCtes 2^n lesson) and the same requirement that
    * nMerges never exhausts the pairs.
    */
  private def wordpieceCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """w0 AS MATERIALIZED (
        |  SELECT w, freq,
        |         list_transform(generate_series(1, length(w)), i ->
        |           CASE WHEN i = 1 THEN substr(w, i, 1)
        |                ELSE '##' || substr(w, i, 1) END) AS syms
        |  FROM (SELECT w, COUNT(*) AS freq
        |        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        |        WHERE length(w) >= 1 GROUP BY w))""".stripMargin)
    for (i <- 1 to nMerges) {
      sb.append(
        s""",
           |sc$i AS MATERIALIZED (
           |  SELECT s, SUM(freq) AS c FROM (
           |    SELECT freq, UNNEST(syms) AS s FROM w${i - 1}) GROUP BY 1),
           |b$i AS MATERIALIZED (
           |  SELECT a, b, cnt, lscore FROM (
           |    SELECT p.a, p.b, p.cnt,
           |           FLOOR((ln(CAST(p.cnt AS DOUBLE)) - ln(CAST(ca.c AS DOUBLE)) -
           |                  ln(CAST(cb.c AS DOUBLE))) * 1000000.0 + 0.5001) / 1000000.0 AS lscore
           |    FROM (
           |      SELECT syms[p] AS a, syms[p + 1] AS b, SUM(freq) AS cnt FROM (
           |        SELECT freq, syms, UNNEST(generate_series(1, len(syms) - 1)) AS p
           |        FROM w${i - 1})
           |      GROUP BY 1, 2) p
           |    JOIN sc$i ca ON ca.s = p.a
           |    JOIN sc$i cb ON cb.s = p.b)
           |  ORDER BY lscore DESC, cnt DESC, a, b LIMIT 1),
           |m${i}0 AS (
           |  SELECT m.w, m.freq, m.p, m.syms[m.p] AS s,
           |         COALESCE(m.syms[m.p] = b.a AND m.syms[m.p + 1] = b.b, FALSE) AS mt
           |  FROM (SELECT w, freq, syms, UNNEST(generate_series(1, len(syms))) AS p
           |        FROM w${i - 1}) m, b$i b),
           |m${i}1 AS (
           |  SELECT *, p - ROW_NUMBER() OVER (PARTITION BY w, mt ORDER BY p) AS isl
           |  FROM m${i}0),
           |m${i}2 AS (
           |  SELECT *, mt AND (p - MIN(p) OVER (PARTITION BY w, mt, isl)) % 2 = 0 AS taken
           |  FROM m${i}1),
           |m${i}3 AS (
           |  SELECT *, COALESCE(LAG(taken) OVER (PARTITION BY w ORDER BY p), FALSE) AS consumed
           |  FROM m${i}2),
           |w$i AS MATERIALIZED (
           |  SELECT m.w, m.freq,
           |         LIST(CASE WHEN m.taken THEN b.a || substr(b.b, 3) ELSE m.s END ORDER BY m.p) AS syms
           |  FROM m${i}3 m, b$i b
           |  WHERE m.taken OR NOT m.consumed
           |  GROUP BY m.w, m.freq)""".stripMargin)
    }
    sb.toString
  }

  /** The learned WordPiece merge list, one row per round's argmax. */
  def wordpieceTrain(nMerges: Int): String = {
    val rows = (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, " +
        s"a || substr(b, 3) AS merged, CAST(cnt AS BIGINT) AS pair_count, " +
        s"lscore FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${wordpieceCtes(nMerges)}
       |$rows
       |ORDER BY merge_rank""".stripMargin
  }

  /** The greedy longest-match-first WordPiece segmentation of every
    * word TYPE, as CTEs appended to [[wordpieceCtes]]: the encoding
    * vocabulary (initial alphabet + merge products, `wpv`), per
    * (word, position) the LONGEST matching piece (`np` — start pieces
    * bare at position 1, `##` continuations after), then the greedy
    * orbit of position 1 under `i → i + len(piece(i))` unrolled as
    * `maxInputChars` chained hop CTEs (each hop consumes ≥ 1 char, so
    * the chain is exact for every word the length cap admits). A word
    * with a stuck reachable position — or longer than the cap — is
    * `['[UNK]']` whole (graft.functions.WordPieceApply's exact
    * contract). Final CTE: `wtoks(w, toks)`.
    */
  private def wordpieceEncodeCtes(nMerges: Int, maxInputChars: Int): String = {
    val vocabRows = (1 to nMerges)
      .map(i => s"    SELECT a || substr(b, 3) AS piece FROM b$i")
      .mkString("\n    UNION ALL\n")
    val sb = new StringBuilder
    sb.append(
      s""",
         |wpv AS MATERIALIZED (
         |  SELECT DISTINCT piece FROM (
         |    SELECT UNNEST(syms) AS piece FROM w0
         |    UNION ALL
         |$vocabRows)),
         |uws AS MATERIALIZED (SELECT DISTINCT w FROM w0),
         |wpos AS (
         |  SELECT w, i, UNNEST(generate_series(1, length(w) - i + 1)) AS l
         |  FROM (SELECT w, UNNEST(generate_series(1, length(w))) AS i FROM uws)),
         |np AS MATERIALIZED (
         |  SELECT w, i, l,
         |         CASE WHEN i = 1 THEN substr(w, i, l)
         |              ELSE '##' || substr(w, i, l) END AS tok,
         |         i + l AS nxt
         |  FROM (
         |    SELECT s.w, s.i, MAX(s.l) AS l
         |    FROM wpos s JOIN wpv v
         |      ON v.piece = CASE WHEN s.i = 1 THEN substr(s.w, s.i, s.l)
         |                        ELSE '##' || substr(s.w, s.i, s.l) END
         |     AND (s.i > 1 OR v.piece NOT LIKE '##%')
         |    GROUP BY s.w, s.i)),
         |h1 AS (SELECT w, 1 AS i FROM uws)""".stripMargin)
    for (k <- 2 to maxInputChars) {
      sb.append(
        s""",
           |h$k AS MATERIALIZED (
           |  SELECT r.w, np.nxt AS i FROM h${k - 1} r
           |  JOIN np ON np.w = r.w AND np.i = r.i
           |  WHERE np.nxt <= length(r.w))""".stripMargin)
    }
    val reach = (1 to maxInputChars).map(k => s"  SELECT * FROM h$k")
      .mkString("\n  UNION ALL\n")
    sb.append(
      s""",
         |reached AS MATERIALIZED (
         |$reach),
         |seg AS MATERIALIZED (
         |  SELECT r.w, r.i, np.tok FROM reached r
         |  LEFT JOIN np ON np.w = r.w AND np.i = r.i),
         |wunk AS (SELECT DISTINCT w FROM seg WHERE tok IS NULL),
         |wtoks AS MATERIALIZED (
         |  SELECT u.w,
         |         CASE WHEN length(u.w) > $maxInputChars OR k.w IS NOT NULL
         |              THEN ['[UNK]'] ELSE t.toks END AS toks
         |  FROM uws u
         |  LEFT JOIN wunk k ON k.w = u.w
         |  LEFT JOIN (SELECT w, LIST(tok ORDER BY i) AS toks
         |             FROM seg WHERE tok IS NOT NULL GROUP BY w) t ON t.w = u.w)""".stripMargin)
    sb.toString
  }

  /** Tokenize the corpus with the trained WordPiece vocabulary: each
    * document flattens its words' greedy segmentations in word order
    * (empty words contribute none) — the bpeEncode contract.
    */
  def wordpieceEncode(nMerges: Int, maxInputChars: Int = 12): String =
    s"""WITH ${wordpieceCtes(nMerges)}${wordpieceEncodeCtes(nMerges, maxInputChars)},
       |dt AS (
       |  SELECT doc_id, ws, UNNEST(generate_series(1, len(ws))) AS i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |tok AS (
       |  SELECT dt.doc_id, dt.i,
       |         CASE WHEN length(dt.ws[dt.i]) = 0 THEN CAST([] AS VARCHAR[])
       |              ELSE wt.toks END AS toks
       |  FROM dt LEFT JOIN wtoks wt ON wt.w = dt.ws[dt.i]),
       |fl AS (SELECT doc_id, flatten(LIST(toks ORDER BY i)) AS ft
       |       FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST(len(ft) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(ft, ' ')) AS fp
       |FROM fl ORDER BY doc_id""".stripMargin

  /** WordPiece fertility by language (per-TYPE replay, the
    * bpeFertility discipline; an [UNK] word costs 1 token).
    */
  def wordpieceFertility(nMerges: Int, maxInputChars: Int = 12): String =
    s"""WITH ${wordpieceCtes(nMerges)}${wordpieceEncodeCtes(nMerges, maxInputChars)},
       |wc AS (
       |  SELECT lang, w, COUNT(*) AS c FROM (
       |    SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents) u
       |  WHERE length(w) > 0 GROUP BY 1, 2),
       |pt AS (
       |  SELECT wc.lang, wc.c, length(wc.w) AS chars, len(wt.toks) AS subtoks
       |  FROM wc JOIN wtoks wt ON wt.w = wc.w),
       |ag AS (
       |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
       |         CAST(SUM(c * subtoks) AS BIGINT) AS n_tokens,
       |         SUM(c * chars) AS n_chars
       |  FROM pt GROUP BY 1)
       |SELECT lang, n_words, n_tokens,
       |       ${R("n_tokens / n_words")} AS fertility,
       |       ${R("n_chars / n_tokens")} AS chars_per_token
       |FROM ag ORDER BY lang""".stripMargin

  /** WordPiece vocabulary utilization: distinct-word counts × per-TYPE
    * greedy segmentation, summed per emitted token (bpeTokenFreq's
    * report under the wtoks CTE).
    */
  def wordpieceTokenFreq(nMerges: Int, k: Int, maxInputChars: Int = 12): String =
    s"""WITH ${wordpieceCtes(nMerges)}${wordpieceEncodeCtes(nMerges, maxInputChars)},
       |fwc AS (
       |  SELECT w, COUNT(*) AS c FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY 1),
       |ftk AS (
       |  SELECT fwc.c, UNNEST(wt.toks) AS token
       |  FROM fwc JOIN wtoks wt ON wt.w = fwc.w),
       |fc2 AS (SELECT token, CAST(SUM(c) AS BIGINT) AS n FROM ftk GROUP BY 1)
       |SELECT token, n,
       |       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
       |FROM fc2 ORDER BY n DESC, token LIMIT $k""".stripMargin

  /** One unigram-LM Viterbi E-step as chained position CTEs (prefix
    * `e$r`), segmenting every word type under vocab CTE `$vocab`
    * (columns piece, lnp): position i's best prefix is the argmax
    * over piece lengths l = 1..min(maxPieceLen, i) of
    * best(i−l) + lnp(substr(w, i−l+1, l)), ties on (score DESC,
    * k ASC, l DESC) — the EXACT rule graft.functions.UlmViterbi
    * applies, and each branch's (w, l) is unique so the order is
    * total. Scores accumulate in prefix order on both engines over
    * the same 1e-6-quantized lnp inputs, so comparisons are
    * bit-identical. MATERIALIZED: each b_i is referenced by up to
    * maxPieceLen later positions (default inlining re-plans the
    * whole prefix per reference — the bpeCtes 2^n lesson).
    */
  private def ulmEStep(r: Int, vocab: String, maxPieceLen: Int,
                       maxWordLen: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""e${r}b0 AS (SELECT w, freq, CAST(0.0 AS DOUBLE) AS score,
         |            0 AS k, '' AS toks FROM uw)""".stripMargin)
    for (i <- 1 to maxWordLen) {
      val branches = (1 to math.min(maxPieceLen, i)).map { l =>
        s"""      SELECT b.w, b.freq, b.score + v.lnp AS score, b.k + 1 AS k,
           |             b.toks || ' ' || v.piece AS toks, $l AS l
           |      FROM e${r}b${i - l} b JOIN $vocab v
           |        ON length(v.piece) = $l AND v.piece = substr(b.w, ${i - l + 1}, $l)""".stripMargin
      }.mkString("\n      UNION ALL\n")
      sb.append(
        s""",
           |e${r}b$i AS MATERIALIZED (
           |  SELECT w, freq, score, k, toks FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |      PARTITION BY w ORDER BY score DESC, k ASC, l DESC) AS rn FROM (
           |$branches))
           |  WHERE rn = 1)""".stripMargin)
    }
    val fins = (1 to maxWordLen)
      .map(i => s"  SELECT * FROM e${r}b$i WHERE length(w) = $i")
      .mkString("\n  UNION ALL\n")
    sb.append(
      s""",
         |e${r}fin AS MATERIALIZED (
         |$fins)""".stripMargin)
    sb.toString
  }

  /** Unigram-LM (SentencePiece, Kudo 2018) trainer CTE stack: seed
    * vocabulary from corpus-weighted substring counts (top-nSeed
    * multi-char pieces + the full alphabet), then `rounds` hard-EM
    * rounds — E-step = [[ulmEStep]]'s Viterbi DP per word type,
    * M-step = piece recount from the segmentations, prune multi-char
    * pieces at zero count (alphabet always kept), re-smooth
    * lnp = q6(ln((c+1)/Σ(c+1))). Mirrors TextOps.ulmTrainVocab
    * decision for decision; words longer than maxWordLen are excluded
    * on both sides (the DP chain is position-bounded).
    */
  /** Total EM-round count of the trainer CTE stack: the base rounds
    * plus one round per prune step — the index of the FINAL vocab CTE
    * `v{n}p`.
    */
  private def ulmRounds(nSeed: Int, rounds: Int, targetVocab: Int,
                        shrink: Double): Int =
    rounds + (if (targetVocab > 0)
      graft.operators.TextOps.ulmPruneSchedule(nSeed, targetVocab, shrink).size
    else 0)

  private def ulmCtes(nSeed: Int, rounds: Int, maxPieceLen: Int = 4,
                      maxWordLen: Int = 12, targetVocab: Int = 0,
                      shrink: Double = 0.75): String = {
    def lnp(v: String) =
      s"FLOOR(ln(CAST(c + 1 AS DOUBLE) / (SELECT CAST(SUM(c + 1) AS DOUBLE) FROM $v)) * 1000000.0 + 0.5001) / 1000000.0"
    val sb = new StringBuilder
    sb.append(
      s"""uw AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS freq
         |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 1 AND length(w) <= $maxWordLen GROUP BY w),
         |us0 AS (SELECT w, freq, UNNEST(generate_series(1, length(w))) AS i FROM uw),
         |us1 AS (SELECT w, freq, i,
         |               UNNEST(generate_series(i, least(i + ${maxPieceLen - 1}, length(w)))) AS j
         |        FROM us0),
         |us AS (SELECT substr(w, i, j - i + 1) AS piece, SUM(freq) AS c
         |       FROM us1 GROUP BY 1),
         |v0 AS MATERIALIZED (
         |  SELECT piece, c FROM (
         |    SELECT piece, c FROM us WHERE length(piece) >= 2
         |    ORDER BY c DESC, piece LIMIT $nSeed)
         |  UNION ALL
         |  SELECT piece, c FROM us WHERE length(piece) = 1),
         |v0p AS MATERIALIZED (SELECT piece, c, ${lnp("v0")} AS lnp FROM v0)""".stripMargin)
    def emRound(r: Int, vocab: String): Unit = {
      sb.append(",\n")
      sb.append(ulmEStep(r, vocab, maxPieceLen, maxWordLen))
      sb.append(
        s""",
           |c$r AS (SELECT piece, SUM(freq) AS c FROM (
           |  SELECT freq, UNNEST(string_split(trim(toks), ' ')) AS piece
           |  FROM e${r}fin) GROUP BY 1),
           |v$r AS MATERIALIZED (
           |  SELECT v.piece, COALESCE(c.c, 0) AS c
           |  FROM $vocab v LEFT JOIN c$r c USING (piece)
           |  WHERE COALESCE(c.c, 0) > 0 OR length(v.piece) = 1),
           |v${r}p AS MATERIALIZED (SELECT piece, c, ${lnp(s"v$r")} AS lnp FROM v$r)""".stripMargin)
    }
    for (r <- 1 to rounds) emRound(r, s"v${r - 1}p")
    // prune-to-target steps (Kudo 2018 §3.2; literals from the SHARED
    // TextOps.ulmPruneSchedule): keep the alphabet + top-target
    // multi-char pieces by 1e-6-quantized likelihood contribution
    // c·(−lnp) (ties piece ASC — TextOps' exact rule), re-smooth,
    // then one EM round under the pruned vocab
    if (targetVocab > 0) {
      val sched = graft.operators.TextOps.ulmPruneSchedule(nSeed, targetVocab, shrink)
      for ((tgt, i) <- sched.zipWithIndex) {
        val s = i + 1
        val r = rounds + s
        sb.append(
          s""",
             |p${s}k AS MATERIALIZED (
             |  SELECT piece, c FROM (
             |    SELECT piece, c, ROW_NUMBER() OVER (
             |      ORDER BY FLOOR(c * -lnp * 1000000.0 + 0.5001) / 1000000.0 DESC, piece) AS prk
             |    FROM v${r - 1}p WHERE length(piece) >= 2) WHERE prk <= $tgt
             |  UNION ALL
             |  SELECT piece, c FROM v${r - 1}p WHERE length(piece) = 1),
             |p${s}p AS MATERIALIZED (SELECT piece, c, ${lnp(s"p${s}k")} AS lnp FROM p${s}k)""".stripMargin)
        emRound(r, s"p${s}p")
      }
    }
    sb.toString
  }

  /** The trained unigram-LM vocabulary after `rounds` EM rounds (plus
    * the prune-to-target schedule when `targetVocab > 0`).
    */
  def ulmTrain(nSeed: Int, rounds: Int, targetVocab: Int = 0,
               shrink: Double = 0.75): String = {
    val n = ulmRounds(nSeed, rounds, targetVocab, shrink)
    s"""WITH ${ulmCtes(nSeed, rounds, targetVocab = targetVocab, shrink = shrink)}
       |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len,
       |       CAST(c AS BIGINT) AS n, lnp
       |FROM v${n}p ORDER BY piece""".stripMargin
  }

  /** Viterbi-encode the corpus under the trained vocabulary: one more
    * E-step (round `rounds+1`) against v{rounds}p, then per document
    * the word segmentations concatenate in word order (empty words
    * contribute nothing — the bpeEncode convention).
    */
  def ulmEncode(nSeed: Int, rounds: Int): String =
    s"""WITH ${ulmCtes(nSeed, rounds)},
       |${ulmEStep(rounds + 1, s"v${rounds}p", 4, 12)},
       |dt AS (
       |  SELECT doc_id, ws, UNNEST(generate_series(1, len(ws))) AS i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |etok AS (
       |  SELECT dt.doc_id, dt.i,
       |         CASE WHEN length(dt.ws[dt.i]) = 0 THEN '' ELSE f.toks END AS toks,
       |         CASE WHEN length(dt.ws[dt.i]) = 0 THEN 0 ELSE COALESCE(f.k, 0) END AS k
       |  FROM dt LEFT JOIN e${rounds + 1}fin f ON f.w = dt.ws[dt.i]),
       |efl AS (
       |  SELECT doc_id, SUM(k) AS n_tokens,
       |         string_agg(toks, '' ORDER BY i) AS stream
       |  FROM etok GROUP BY doc_id)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       md5(trim(stream)) AS fp
       |FROM efl ORDER BY doc_id""".stripMargin

  /** Unigram-LM vocabulary utilization: type counts × per-TYPE Viterbi
    * segmentation, summed per emitted piece (bpeTokenFreq's report for
    * the SentencePiece family).
    */
  def ulmTokenFreq(nSeed: Int, rounds: Int, k: Int): String =
    s"""WITH ${ulmCtes(nSeed, rounds)},
       |${ulmEStep(rounds + 1, s"v${rounds}p", 4, 12)},
       |twc AS (
       |  SELECT w, COUNT(*) AS c FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY 1),
       |ttk AS (
       |  SELECT twc.c, UNNEST(string_split(trim(f.toks), ' ')) AS token
       |  FROM twc JOIN e${rounds + 1}fin f ON f.w = twc.w),
       |tc2 AS (SELECT token, CAST(SUM(c) AS BIGINT) AS n FROM ttk GROUP BY 1)
       |SELECT token, n,
       |       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
       |FROM tc2 ORDER BY n DESC, token LIMIT $k""".stripMargin

  /** Fertility by language under the trained unigram-LM vocabulary:
    * one more E-step against the final vocab, per-(lang, word) type
    * counts joined to each type's Viterbi piece count.
    */
  def ulmFertility(nSeed: Int, rounds: Int, targetVocab: Int = 0,
                   shrink: Double = 0.75): String = {
    val n = ulmRounds(nSeed, rounds, targetVocab, shrink)
    s"""WITH ${ulmCtes(nSeed, rounds, targetVocab = targetVocab, shrink = shrink)},
       |${ulmEStep(n + 1, s"v${n}p", 4, 12)},
       |wc AS (
       |  SELECT lang, w, COUNT(*) AS c FROM (
       |    SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents) u
       |  WHERE length(w) > 0 GROUP BY 1, 2),
       |pt AS (
       |  SELECT wc.lang, wc.c, length(wc.w) AS chars, f.k AS subtoks
       |  FROM wc JOIN e${n + 1}fin f ON f.w = wc.w),
       |ag AS (
       |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
       |         CAST(SUM(c * subtoks) AS BIGINT) AS n_tokens,
       |         SUM(c * chars) AS n_chars
       |  FROM pt GROUP BY 1)
       |SELECT lang, n_words, n_tokens,
       |       ${R("n_tokens / n_words")} AS fertility,
       |       ${R("n_chars / n_tokens")} AS chars_per_token
       |FROM ag ORDER BY lang""".stripMargin
  }

  /** Token-budget subsample under UNIGRAM-LM costs: one more E-step
    * against the final vocab, per-doc n_tokens = Σ occurrence-weighted
    * Viterbi piece counts, then the seeded per-shard running sum.
    */
  def sampleTokenBudgetUlm(nSeed: Int, rounds: Int, tokenBudget: Long,
                           seed: String, targetVocab: Int = 0,
                           shrink: Double = 0.75): String = {
    val n = ulmRounds(nSeed, rounds, targetVocab, shrink)
    s"""WITH ${ulmCtes(nSeed, rounds, targetVocab = targetVocab, shrink = shrink)},
       |${ulmEStep(n + 1, s"v${n}p", 4, 12)},
       |wc AS (
       |  SELECT doc_id, w, COUNT(*) AS c FROM (
       |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) u
       |  WHERE length(w) > 0 GROUP BY 1, 2),
       |dtok AS (
       |  SELECT wc.doc_id, CAST(SUM(wc.c * f.k) AS BIGINT) AS n_tokens
       |  FROM wc JOIN e${n + 1}fin f ON f.w = wc.w GROUP BY 1),
       |s AS (
       |  SELECT d.doc_id, d.source AS shard, COALESCE(dt.n_tokens, 0) AS n_tokens,
       |         MD5(CONCAT('$seed:', CAST(d.doc_id AS VARCHAR))) AS shuf
       |  FROM documents d LEFT JOIN dtok dt ON dt.doc_id = d.doc_id),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY shuf, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens, stream_pos
       |FROM p WHERE stream_pos < $tokenBudget
       |ORDER BY doc_id""".stripMargin
  }

  /** Overlapping token-window chunking (RAG splitter). */
  def chunkDocs(chunkSize: Int, stride: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |c AS (
       |  SELECT doc_id, toks,
       |         UNNEST(generate_series(0, (len(toks) - 1) // $stride)) AS ci
       |  FROM t),
       |ch AS (
       |  SELECT doc_id, ci,
       |         list_slice(toks, ci * $stride + 1, ci * $stride + $chunkSize) AS w
       |  FROM c)
       |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
       |       CAST(len(w) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(w, ' ')) AS fp
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** MMR greedy selection, k steps unrolled — every step an integer
    * argmax (7·mc − 3·ms packed scores, vid tie-break), mirroring the
    * Spark fold's exact-integer arithmetic.
    */
  def mmrRerank(nQueries: Int, nCand: Int, k: Int): String = {
    val steps = (2 to k).map { i =>
      s"""m$i AS (
         |  SELECT p.qid, p.va AS vid, MAX(p.ms) AS ms
         |  FROM psim p JOIN u${i - 1} s ON s.qid = p.qid AND s.vid = p.vb
         |  GROUP BY 1, 2),
         |w$i AS (
         |  SELECT qid, vid, sc FROM (
         |    SELECT c.qid, c.vid, 7 * c.mc - 3 * COALESCE(m.ms, 0) AS sc,
         |           ROW_NUMBER() OVER (PARTITION BY c.qid
         |             ORDER BY 7 * c.mc - 3 * COALESCE(m.ms, 0) DESC, c.vid) AS rn
         |    FROM cmc c
         |    LEFT JOIN m$i m ON m.qid = c.qid AND m.vid = c.vid
         |    LEFT JOIN u${i - 1} x ON x.qid = c.qid AND x.vid = c.vid
         |    WHERE x.vid IS NULL) WHERE rn = 1),
         |u$i AS (SELECT * FROM u${i - 1} UNION ALL SELECT qid, vid FROM w$i)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(i =>
      s"SELECT qid, CAST($i AS BIGINT) AS mmr_rank, vid, CAST(sc AS DOUBLE) / 10000.0 AS score FROM w$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT qid, vec_id AS vid, ${R("list_cosine_similarity(qv, v)")} AS cos
       |  FROM e CROSS JOIN q WHERE vec_id != qid),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
       |  FROM s),
       |cmc AS (SELECT qid, vid, CAST(ROUND(cos * 1000) AS BIGINT) AS mc
       |        FROM r WHERE rank <= $nCand),
       |cvv AS (SELECT c.qid, c.vid, e.v FROM cmc c JOIN e ON e.vec_id = c.vid),
       |psim AS (
       |  SELECT a.qid, a.vid AS va, b.vid AS vb,
       |         CAST(ROUND(${R("list_cosine_similarity(a.v, b.v)")} * 1000) AS BIGINT) AS ms
       |  FROM cvv a JOIN cvv b ON a.qid = b.qid AND a.vid <> b.vid),
       |w1 AS (
       |  SELECT qid, vid, sc FROM (
       |    SELECT qid, vid, 7 * mc AS sc,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY 7 * mc DESC, vid) AS rn
       |    FROM cmc) WHERE rn = 1),
       |u1 AS (SELECT qid, vid FROM w1),
       |$steps
       |$out
       |ORDER BY qid, mmr_rank""".stripMargin
  }

  /** Power-iteration top principal component: the covariance chain +
    * nIter unrolled normalize-and-multiply rounds + the corpus
    * projection.
    */
  def pcaPower(nIter: Int = 5, nOut: Int = 100, dim: Int = 64): String = {
    val iters = (1 to nIter).map { t =>
      val xp = if (t == 1) "x0" else s"x${t - 1}"
      s"""y$t AS (
         |  SELECT cm.i, ${R(s"SUM(cm.c * $xp.w)")} AS y
         |  FROM cm JOIN $xp ON cm.j = $xp.i GROUP BY cm.i),
         |n$t AS (SELECT ${R("SQRT(SUM(y * y))")} AS nrm FROM y$t),
         |x$t AS (SELECT i, ${R("y / nrm")} AS w FROM y$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |nn AS (SELECT COUNT(*) AS n FROM e),
       |m AS (SELECT r.d AS i, SUM(e.v[r.d + 1]) AS s
       |      FROM e CROSS JOIN range(0, $dim) r(d) GROUP BY 1),
       |p AS (SELECT ri.d AS i, rj.d AS j, SUM(e.v[ri.d + 1] * e.v[rj.d + 1]) AS sp
       |      FROM e CROSS JOIN range(0, $dim) ri(d) CROSS JOIN range(0, $dim) rj(d)
       |      WHERE rj.d >= ri.d GROUP BY 1, 2),
       |cv AS (SELECT p.i, p.j,
       |       ${R("p.sp / nn.n - (mi.s / nn.n) * (mj.s / nn.n)")} AS c
       |       FROM p, nn, m mi, m mj WHERE mi.i = p.i AND mj.i = p.j),
       |cm AS (SELECT i, j, c FROM cv
       |       UNION ALL SELECT j, i, c FROM cv WHERE i <> j),
       |x0 AS (SELECT r.d AS i, CASE WHEN r.d = 0 THEN 1.0 ELSE 0.0 END AS w
       |       FROM range(0, $dim) r(d)),
       |$iters
       |SELECT e.vec_id, ${R("SUM(e.v[x.i + 1] * x.w)")} AS pc1
       |FROM e CROSS JOIN x$nIter x
       |WHERE e.vec_id < $nOut
       |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
  }

  /** Deflated power iteration as chained CTEs: the [[pcaPower]] chain
    * per component c (start axis e_{c−1}, matrix `cm{c}`), plus the
    * Rayleigh value and Hotelling deflation between components —
    * every element R-rounded exactly as the Spark driver loop
    * (Similarity.pcaComponents). Matrices and final eigenvectors are
    * MATERIALIZED: each is referenced several times downstream and
    * default inlining would repeat the whole upstream chain per
    * reference (the BPE-oracle lesson).
    */
  private def pcaDeflatedCtes(p: Int, nIter: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |      WHERE embedding IS NOT NULL),
         |nn AS (SELECT COUNT(*) AS n FROM e),
         |m AS (SELECT r.d AS i, SUM(e.v[r.d + 1]) AS s
         |      FROM e CROSS JOIN range(0, $dim) r(d) GROUP BY 1),
         |pp AS (SELECT ri.d AS i, rj.d AS j, SUM(e.v[ri.d + 1] * e.v[rj.d + 1]) AS sp
         |      FROM e CROSS JOIN range(0, $dim) ri(d) CROSS JOIN range(0, $dim) rj(d)
         |      WHERE rj.d >= ri.d GROUP BY 1, 2),
         |cv AS (SELECT pp.i, pp.j,
         |       ${R("pp.sp / nn.n - (mi.s / nn.n) * (mj.s / nn.n)")} AS c
         |       FROM pp, nn, m mi, m mj WHERE mi.i = pp.i AND mj.i = pp.j),
         |cm1 AS MATERIALIZED (SELECT i, j, c FROM cv
         |       UNION ALL SELECT j, i, c FROM cv WHERE i <> j)""".stripMargin)
    for (c <- 1 to p) {
      sb.append(
        s""",
           |x${c}_0 AS (SELECT r.d AS i, CASE WHEN r.d = ${c - 1} THEN 1.0 ELSE 0.0 END AS w
           |       FROM range(0, $dim) r(d))""".stripMargin)
      for (t <- 1 to nIter) {
        sb.append(
          s""",
             |y${c}_$t AS (
             |  SELECT cm.i, ${R(s"SUM(cm.c * xp.w)")} AS y
             |  FROM cm$c cm JOIN x${c}_${t - 1} xp ON cm.j = xp.i GROUP BY cm.i),
             |n${c}_$t AS (SELECT ${R("SQRT(SUM(y * y))")} AS nrm FROM y${c}_$t),
             |x${c}_$t AS (SELECT i, ${R("y / nrm")} AS w FROM y${c}_$t, n${c}_$t)""".stripMargin)
      }
      sb.append(
        s""",
           |vx$c AS MATERIALIZED (SELECT i, w FROM x${c}_$nIter)""".stripMargin)
      if (c < p) {
        sb.append(
          s""",
             |z$c AS (
             |  SELECT cm.i, ${R("SUM(cm.c * v.w)")} AS z
             |  FROM cm$c cm JOIN vx$c v ON cm.j = v.i GROUP BY cm.i),
             |l$c AS (SELECT ${R("SUM(v.w * z.z)")} AS lam
             |        FROM vx$c v JOIN z$c z ON v.i = z.i),
             |cm${c + 1} AS MATERIALIZED (
             |  SELECT cm.i, cm.j, ${R("cm.c - l.lam * vi.w * vj.w")} AS c
             |  FROM cm$c cm, l$c l, vx$c vi, vx$c vj
             |  WHERE vi.i = cm.i AND vj.i = cm.j)""".stripMargin)
      }
    }
    sb.toString
  }

  /** Long-format projections onto the top-p deflated components. */
  def pcaPowerMulti(p: Int, nIter: Int = 5, nOut: Int = 100,
                    dim: Int = 64): String = {
    val projs = (1 to p).map(c =>
      s"""SELECT e.vec_id, CAST($c AS BIGINT) AS c, ${R("SUM(e.v[x.i + 1] * x.w)")} AS proj
         |FROM e CROSS JOIN vx$c x WHERE e.vec_id < $nOut GROUP BY e.vec_id""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH ${pcaDeflatedCtes(p, nIter, dim)}
       |$projs
       |ORDER BY vec_id, c""".stripMargin
  }

  /** The learned-rotation CTEs: Householder-QR u-chain over the
    * deflated components (component c → round-robin target axis
    * `((c−1) mod m)·(dim/m) + (c−1) div m`), then the p successive
    * reflections applied to the cast-double corpus with the
    * [[rotatedE]] rounding at every step. Ends at `rot$p(vec_id, v)`.
    */
  private def trainedRotCtes(p: Int, m: Int, nIter: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb.append(pcaDeflatedCtes(p, nIter, dim))
    for (c <- 1 to p) {
      sb.append(
        s""",
           |h${c}_0 AS (SELECT i, w FROM vx$c)""".stripMargin)
      for (j <- 1 to c - 1) {
        sb.append(
          s""",
             |hd${c}_$j AS (SELECT ${R("SUM(u.w * h.w)")} AS dr
             |              FROM u$j u JOIN h${c}_${j - 1} h ON u.i = h.i),
             |h${c}_$j AS (SELECT h.i, ${R("h.w - 2.0 * u.w * d.dr")} AS w
             |             FROM h${c}_${j - 1} h JOIN u$j u ON h.i = u.i, hd${c}_$j d)""".stripMargin)
      }
      val t = ((c - 1) % m) * (dim / m) + (c - 1) / m
      sb.append(
        s""",
           |df$c AS (SELECT i, w - (CASE WHEN i = $t THEN 1.0 ELSE 0.0 END) AS w
           |         FROM h${c}_${c - 1}),
           |nm$c AS (SELECT ${R("SQRT(SUM(w * w))")} AS nrm FROM df$c),
           |u$c AS MATERIALIZED (SELECT i, CASE WHEN nrm = 0 THEN 0.0
           |         ELSE ${R("w / nrm")} END AS w FROM df$c, nm$c),
           |ul$c AS (SELECT LIST(w ORDER BY i) AS u FROM u$c)""".stripMargin)
    }
    sb.append(
      s""",
         |rot0 AS (SELECT vec_id, v FROM e)""".stripMargin)
    for (c <- 1 to p) {
      sb.append(
        s""",
           |rd$c AS (
           |  SELECT r.vec_id, r.v, ul.u,
           |         ${R(s"list_sum(list_transform(generate_series(1, $dim), i -> r.v[i] * ul.u[i]))")} AS dr
           |  FROM rot${c - 1} r CROSS JOIN ul$c ul),
           |rot$c AS MATERIALIZED (
           |  SELECT vec_id,
           |         list_transform(generate_series(1, $dim),
           |           i -> FLOOR((v[i] - 2.0 * u[i] * dr) * 1000.0 + 0.5001) / 1000.0) AS v
           |  FROM rd$c)""".stripMargin)
    }
    sb.toString
  }

  /** PQ search in the LEARNED-rotation space — the [[annPqRotated]]
    * body over `rot$p`.
    */
  def annPqRotatedTrained(nCodewords: Int, m: Int, nQueries: Int, k: Int,
                          p: Int = 4, nIter: Int = 5, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH ${trainedRotCtes(p, m, nIter, dim)},
       |re AS (SELECT vec_id, v FROM rot$p),
       |cw AS (
       |  SELECT s.s, re.vec_id AS c, re.v FROM re CROSS JOIN range(0, $m) s(s)
       |  WHERE re.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT re.vec_id, cw.s, cw.c, ${d2("re.v")} AS d2
       |  FROM re CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM re WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT dt.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a JOIN dt ON dt.s = a.s AND dt.code = a.code
       |  WHERE a.vec_id != dt.qid
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Recall of the learned-rotation PQ tier vs the ORIGINAL-space
    * exact top-k.
    */
  def annPqRotatedTrainedRecall(nCodewords: Int, m: Int, nQueries: Int, k: Int,
                                p: Int = 4, nIter: Int = 5, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH ${trainedRotCtes(p, m, nIter, dim)},
       |re AS (SELECT vec_id, v FROM rot$p),
       |q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |${exactTopK("e", "q0", k)},
       |cw AS (
       |  SELECT s.s, re.vec_id AS c, re.v FROM re CROSS JOIN range(0, $m) s(s)
       |  WHERE re.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT re.vec_id, cw.s, cw.c, ${d2("re.v")} AS d2
       |  FROM re CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM re WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT dt.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a JOIN dt ON dt.s = a.s AND dt.code = a.code
       |  WHERE a.vec_id != dt.qid
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
       |  FROM sc),
       |approx AS (SELECT qid, vid, 1 AS hit FROM pr WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  def embeddingCovariance(dim: Int = 64): String =
    s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |nn AS (SELECT COUNT(*) AS n FROM e),
       |m AS (SELECT r.d AS i, SUM(e.v[r.d + 1]) AS s
       |      FROM e CROSS JOIN range(0, $dim) r(d) GROUP BY 1),
       |p AS (SELECT ri.d AS i, rj.d AS j, SUM(e.v[ri.d + 1] * e.v[rj.d + 1]) AS sp
       |      FROM e CROSS JOIN range(0, $dim) ri(d) CROSS JOIN range(0, $dim) rj(d)
       |      WHERE rj.d >= ri.d GROUP BY 1, 2)
       |SELECT p.i, p.j,
       |       ${R("p.sp / nn.n - (mi.s / nn.n) * (mj.s / nn.n)")} AS cov
       |FROM p, nn, m mi, m mj
       |WHERE mi.i = p.i AND mj.i = p.j
       |ORDER BY p.i, p.j""".stripMargin

  /** SemDeDup on the k-means-TRAINED quantizer: the kmeans chain, one
    * more assignment, then the dedupSemantic pair/survivor CTEs.
    */
  def dedupSemanticTrained(nCentroids: Int, kmIter: Int, threshold: Double,
                           dim: Int = 64): String =
    s"""WITH ${kmeansCtes(nCentroids, kmIter, dim)},
       |f0 AS (
       |  SELECT e.vec_id, e.v, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c$kmIter c),
       |asg AS (
       |  SELECT vec_id, v, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM f0)
       |  WHERE crank = 1),
       |dup AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM asg a JOIN asg b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |   AND ${R("list_cosine_similarity(a.v, b.v)")} >= $threshold)
       |SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS dropped
       |FROM asg a LEFT JOIN dup d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** Unrolled per-subspace Lloyd's k-means for the PQ codebook
    * (mirrors [[kmeansCtes]] under squared-L2): `b0` = the first-`k`
    * sub-slice seed (one row per (subspace, codeword) with the
    * sub-vector as `w`), then per iteration an assignment CTE `pa{i}`
    * (rounded-d² argmin, code tie-break — the PqCodes rule), member
    * stats `pm{i}` with the ROUNDED per-sub-dimension mean, and the
    * updated book `b{i}`.
    */
  private def pqKmeansCtes(k: Int, m: Int, nIter: Int, dim: Int,
                           withE: Boolean = true, src: String = "e"): String = {
    val subDim = dim / m
    val sb = new StringBuilder
    if (withE) sb.append(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |      WHERE embedding IS NOT NULL),
         |""".stripMargin)
    sb.append(
      s"""b0 AS (
         |  SELECT s.s, e.vec_id AS c,
         |         e.v[s.s * $subDim + 1 : s.s * $subDim + $subDim] AS w
         |  FROM $src e CROSS JOIN range(0, $m) s(s) WHERE e.vec_id < $k)""".stripMargin)
    for (i <- 1 to nIter) {
      val diff = s"(e.v[b.s * $subDim + j] - b.w[j])"
      sb.append(
        s""",
           |pa${i}0 AS (
           |  SELECT e.vec_id, b.s, b.c,
           |    ${R(s"list_sum(list_transform(generate_series(1, $subDim), j -> $diff * $diff))")} AS d2
           |  FROM $src e CROSS JOIN b${i - 1} b),
           |pa$i AS (
           |  SELECT vec_id, s, c AS code FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
           |    FROM pa${i}0)
           |  WHERE rn = 1),
           |pm$i AS (
           |  SELECT a.s, a.code, g.j, COUNT(*) AS n,
           |         ${R(s"SUM(e.v[a.s * $subDim + g.j]) / COUNT(*)")} AS cd
           |  FROM pa$i a JOIN $src e ON e.vec_id = a.vec_id
           |  CROSS JOIN generate_series(1, $subDim) g(j)
           |  GROUP BY a.s, a.code, g.j),
           |b$i AS (
           |  SELECT s, code AS c, LIST(cd ORDER BY j) AS w FROM pm$i GROUP BY s, code)""".stripMargin)
    }
    sb.toString
  }

  /** pq_fit: per surviving (subspace, codeword) of the final round,
    * the member count and the position-weighted checksum Σ j·cd over
    * the round's updated (rounded) means (j is 1-based).
    */
  def pqFit(k: Int, m: Int, nIter: Int, dim: Int = 64): String =
    s"""WITH ${pqKmeansCtes(k, m, nIter, dim)}
       |SELECT s, code, MAX(n) AS n, ${R("SUM(j * cd)")} AS checksum
       |FROM pm$nIter GROUP BY s, code ORDER BY s, code""".stripMargin

  /** annPq search against the per-subspace-k-means-TRAINED codebook
    * `b{kmIter}` instead of the first-N sub-slice convention.
    */
  def annPqTrained(nCodewords: Int, m: Int, kmIter: Int, nQueries: Int,
                   k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[b.s * $subDim + j] - b.w[j])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), j -> $diff * $diff))")
    }
    s"""WITH ${pqKmeansCtes(nCodewords, m, kmIter, dim)},
       |fa0 AS (
       |  SELECT e.vec_id, b.s, b.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN b$kmIter b),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM fa0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, b.s, b.c AS code, ${d2("q.v")} AS d2
       |  FROM q CROSS JOIN b$kmIter b),
       |sc AS (
       |  SELECT dt.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a JOIN dt ON dt.s = a.s AND dt.code = a.code
       |  WHERE a.vec_id != dt.qid
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** PQ ANN: codebook = sub-slices of the first nCodewords vectors;
    * per-subspace assignment by ROUNDED squared L2 (argmin, cid
    * tie-break); ADC score = sum of per-subspace distance-table
    * entries, rounded before the ascending rank. Squares are written
    * as explicit products (pow() is not guaranteed bit-equal to x·x).
    */
  def annPq(nCodewords: Int, m: Int, nQueries: Int, k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT dt.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a JOIN dt ON dt.s = a.s AND dt.code = a.code
       |  WHERE a.vec_id != dt.qid
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** IVF + PQ composed: the annIvf cell assignment (rounded-cosine
    * argmax) restricts candidate pairs to same-cell; scoring is the
    * annPq ADC sum. One oracle = both CTE families side by side.
    */
  /** `candJoin` / `candCond` splice an extra candidate-side join /
    * predicate into the scoring CTE — the hooks behind the filtered
    * search (`ev.label = qc.qid % n`) and delete/compaction
    * (`NOT (a.vec_id ...)`) gates, which are by construction the
    * recompute-path IVFPQ over a restricted candidate set (codebooks,
    * cells and ADC tables are untouched by a candidate filter).
    */
  def annIvfPq(nCentroids: Int, nCodewords: Int, m: Int,
               nQueries: Int, k: Int, dim: Int = 64,
               candJoin: String = "", candCond: String = ""): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ca0)
       |  WHERE crank = 1),
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |qc AS (SELECT q.qid, cells.cell FROM q JOIN cells ON cells.vec_id = q.qid),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  $candJoin
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid $candCond
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Exact filtered search: the brute cosine top-k of [[annTopK]]
    * restricted to candidates whose label matches the query's
    * predicate (`label = qid % nLabels`) — pre-filter semantics, so
    * the filter sits in the scoring CTE's WHERE, before ranking.
    */
  def annTopKFiltered(nQueries: Int, k: Int, nLabels: Int): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT qid, vec_id AS vid, label, ${R("list_cosine_similarity(qv, v)")} AS cos
       |  FROM e CROSS JOIN q WHERE vec_id != qid AND label = qid % $nLabels),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, vid, label, cos, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Shared SQ8 CTE chain: per-dim ROUNDED min/max (the embedding_stats
    * ground truth), affine scale 255/(max−min) (0 when degenerate),
    * per-(vec, d) uint8 code, and the query term table (qid, d, code,
    * rounded squared diff against the reconstruction) — mirrors
    * [[graft.operators.Similarity.annSqTopK]]'s driver arithmetic
    * op for op.
    */
  private def sqCtes(nQueries: Int, dim: Int, statsWhere: String = ""): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE embedding IS NOT NULL),
       |st AS (
       |  SELECT r.d, ${R("MIN(e.v[r.d + 1])")} AS mn, ${R("MAX(e.v[r.d + 1])")} AS mx
       |  FROM (SELECT * FROM e $statsWhere) e CROSS JOIN range(0, $dim) r(d) GROUP BY r.d),
       |sp AS (SELECT d, mn,
       |              CASE WHEN mx > mn THEN 255.0 / (mx - mn) ELSE 0.0 END AS s
       |       FROM st),
       |cx AS (
       |  SELECT e.vec_id, sp.d,
       |         CAST(LEAST(255.0, GREATEST(0.0,
       |           FLOOR((e.v[sp.d + 1] - sp.mn) * sp.s + 0.5))) AS INTEGER) AS code
       |  FROM e CROSS JOIN sp),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |dt0 AS (
       |  SELECT q.qid, sp.d, cd.code,
       |         q.qv[sp.d + 1] - (sp.mn +
       |           CASE WHEN sp.s = 0 THEN 0 ELSE cd.code / sp.s END) AS diff
       |  FROM q CROSS JOIN sp CROSS JOIN range(0, 256) cd(code)),
       |dt AS (SELECT qid, d, code, ${R("diff * diff")} AS term FROM dt0)""".stripMargin

  /** The full-scan SQ8 scoring CTE (every pair; the IVF-composed
    * variant swaps in a cell-restricted version).
    */
  private val sqScanSc: String =
    s"""sc AS (
       |  SELECT dt.qid, cx.vec_id AS vid, ${R("SUM(dt.term)")} AS adist
       |  FROM cx JOIN dt ON dt.d = cx.d AND dt.code = cx.code
       |  WHERE cx.vec_id != dt.qid
       |  GROUP BY 1, 2)""".stripMargin

  /** SQ8 ANN: asymmetric full-precision-query vs uint8-codes search. */
  def annSq(nQueries: Int, k: Int, dim: Int = 64): String =
    s"""WITH ${sqCtes(nQueries, dim)},
       |$sqScanSc,
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** IVF + SQ8 composed (FAISS IndexIVFScalarQuantizer): the sq chain
    * with scoring restricted to the query's coarse cell.
    */
  def annIvfSq(nCentroids: Int, nQueries: Int, k: Int, dim: Int = 64): String =
    annIvfSqWith(nCentroids, nQueries, k, dim, "")

  /** IVF+SQ8 against the STORED index: identical chain, but the SQ8
    * stats come from the index's TRAIN block (vec_id < trainN — the
    * writeAnnIndex convention that keeps append ≡ one-shot).
    */
  def annIvfSqStored(nCentroids: Int, trainN: Int, nQueries: Int, k: Int,
                     dim: Int = 64): String =
    annIvfSqWith(nCentroids, nQueries, k, dim, s"WHERE vec_id < $trainN")

  private def annIvfSqWith(nCentroids: Int, nQueries: Int, k: Int, dim: Int,
                           statsWhere: String): String =
    s"""WITH ${sqCtes(nQueries, dim, statsWhere)},
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ca0)
       |  WHERE crank = 1),
       |qc AS (SELECT vec_id AS qid, cell FROM cells WHERE vec_id < $nQueries),
       |sc AS (
       |  SELECT qc.qid, cx.vec_id AS vid, ${R("SUM(dt.term)")} AS adist
       |  FROM cx
       |  JOIN cells ce ON ce.vec_id = cx.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND cx.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.d = cx.d AND dt.code = cx.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Recall of the SQ8 tier vs the exact cosine top-k. */
  def annSqRecall(nQueries: Int, k: Int, dim: Int = 64): String =
    s"""WITH ${sqCtes(nQueries, dim)},
       |$sqScanSc,
       |${exactTopK("e", "q", k, qualified = true)},
       |pr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
       |  FROM sc),
       |approx AS (SELECT qid, vid, 1 AS hit FROM pr WHERE rank <= $k)
       |$recallTail""".stripMargin

  /** Residual IVF+PQ (FAISS proper): the annIvfPq CTE chain with every
    * PQ-facing vector replaced by its residual r = v − centroid(cell)
    * — codebook slices, code assignment, and the query distance tables
    * all operate in residual space; the cell chain is unchanged.
    */
  def annIvfPqResidual(nCentroids: Int, nCodewords: Int, m: Int,
                       nQueries: Int, k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ca0)
       |  WHERE crank = 1),
       |res AS (
       |  SELECT e.vec_id, cl.cell,
       |         list_transform(generate_series(1, $dim), i -> e.v[i] - cc.cv[i]) AS rv
       |  FROM e JOIN cells cl ON cl.vec_id = e.vec_id
       |         JOIN c cc ON cc.cid = cl.cell),
       |cw AS (
       |  SELECT s.s, r.vec_id AS c, r.rv AS v FROM res r CROSS JOIN range(0, $m) s(s)
       |  WHERE r.vec_id >= $nCentroids AND r.vec_id < ${nCentroids + nCodewords}),
       |a0 AS (
       |  SELECT r.vec_id, cw.s, cw.c, ${d2("r.rv")} AS d2
       |  FROM res r CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |qc AS (SELECT vec_id AS qid, cell FROM cells WHERE vec_id < $nQueries),
       |qres AS (SELECT vec_id AS qid, rv FROM res WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.rv")} AS d2
       |  FROM qres q CROSS JOIN cw),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Recall of the residual composed tier vs exact — the annIvfPqRecall
    * frame with the residual CTE chain as the approx side.
    */
  def annIvfPqResidualRecall(nCentroids: Int, nCodewords: Int, m: Int,
                             nQueries: Int, k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |${exactTopK("e", "q", k)},
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ca0)
       |  WHERE crank = 1),
       |res AS (
       |  SELECT e.vec_id, cl.cell,
       |         list_transform(generate_series(1, $dim), i -> e.v[i] - cc.cv[i]) AS rv
       |  FROM e JOIN cells cl ON cl.vec_id = e.vec_id
       |         JOIN c cc ON cc.cid = cl.cell),
       |cw AS (
       |  SELECT s.s, r.vec_id AS c, r.rv AS v FROM res r CROSS JOIN range(0, $m) s(s)
       |  WHERE r.vec_id >= $nCentroids AND r.vec_id < ${nCentroids + nCodewords}),
       |a0 AS (
       |  SELECT r.vec_id, cw.s, cw.c, ${d2("r.rv")} AS d2
       |  FROM res r CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |qc AS (SELECT vec_id AS qid, cell FROM cells WHERE vec_id < $nQueries),
       |qres AS (SELECT vec_id AS qid, rv FROM res WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.rv")} AS d2
       |  FROM qres q CROSS JOIN cw),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
       |  FROM sc),
       |approx AS (SELECT qid, vid, 1 AS hit FROM pr WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  /** Multi-probe IVF+PQ: the annIvfPq CTEs with the query side
    * searching its `nprobe` nearest cells (crank <= nprobe, as in
    * annIvfProbe). Corpus rows keep top-1, probed cells are distinct.
    */
  def annIvfPqProbe(nCentroids: Int, nCodewords: Int, m: Int,
                    nQueries: Int, k: Int, nprobe: Int, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |ca1 AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |  FROM ca0),
       |cells AS (SELECT vec_id, cid AS cell FROM ca1 WHERE crank = 1),
       |qc AS (SELECT vec_id AS qid, cid AS cell FROM ca1
       |       WHERE vec_id < $nQueries AND crank <= $nprobe),
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Fully-trained IVF+PQ: the cosine k-means chain (coarse cells) AND
    * the per-subspace L2 chain (codebook) side by side — `e` emitted
    * once — then assignment from the FINAL c/b tables and the ADC
    * search.
    */
  def annIvfPqTrained(nCentroids: Int, nCodewords: Int, m: Int, kmIter: Int,
                      nQueries: Int, k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[b.s * $subDim + j] - b.w[j])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), j -> $diff * $diff))")
    }
    s"""WITH ${kmeansCtes(nCentroids, kmIter, dim)},
       |${pqKmeansCtes(nCodewords, m, kmIter, dim, withE = false)},
       |fc0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c$kmIter c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM fc0)
       |  WHERE crank = 1),
       |fb0 AS (
       |  SELECT e.vec_id, b.s, b.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN b$kmIter b),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM fb0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < $nQueries),
       |qc AS (SELECT q.qid, cells.cell FROM q JOIN cells ON cells.vec_id = q.qid),
       |dt AS (
       |  SELECT q.qid, b.s, b.c AS code, ${d2("q.v")} AS d2
       |  FROM q CROSS JOIN b$kmIter b),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Stored OPQ index probe: the UNTRAINED annIvfPq body (head-vector
    * seeds/codewords — the writeAnnIndex convention) with every stage
    * over the learned-rotation corpus `rot$p`; shared verbatim by the
    * build-then-probe gate, mirroring how `ann_ivfpq_stored` shares
    * the recompute oracle.
    */
  def annIvfPqRotatedStored(nCentroids: Int, nCodewords: Int, m: Int,
                            nQueries: Int, k: Int, p: Int = 4,
                            nIter: Int = 5, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH ${trainedRotCtes(p, m, nIter, dim)},
       |c AS (SELECT vec_id AS cid, v AS cv FROM rot$p WHERE vec_id < $nCentroids),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM rot$p e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ca0)
       |  WHERE crank = 1),
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM rot$p e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM rot$p e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM rot$p WHERE vec_id < $nQueries),
       |qc AS (SELECT q.qid, cells.cell FROM q JOIN cells ON cells.vec_id = q.qid),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** NDCG@k of the Hamming tier against the exact cosine top-k: the
    * annHamming ranking CTEs + the exact ranking + the graded
    * DCG/IDCG aggregate (IDCG = the shared closed-form literal).
    */
  /** The shared Hamming-approx vs exact-cosine CTE chain (`approx`
    * with rank_a, `exact` with rank_e) that [[evalNdcgHamming]] and
    * [[evalMrrHamming]] aggregate differently.
    */
  private def hammingVsExactCtes(nPlanes: Int, nQueries: Int, k: Int,
                                 dim: Int): String = {
    def proj(p: Int) = (0 until dim)
      .map(d => s"v[${d + 1}] * ${graft.operators.Similarity.planeWeight(p, d)}")
      .mkString(" + ")
    val bucket = (0 until nPlanes)
      .map(p => s"CASE WHEN ${proj(p)} > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    s"""e0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |e AS (SELECT vec_id, $bucket AS sig FROM e0),
       |q AS (SELECT vec_id AS qid, sig AS qsig FROM e WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT q.qid, e.vec_id AS vid,
       |         CAST(bit_count(xor(e.sig, q.qsig)) AS BIGINT) AS hamming
       |  FROM e CROSS JOIN q WHERE e.vec_id != q.qid),
       |ar AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, vid) AS BIGINT) AS rank_a
       |  FROM s),
       |approx AS (SELECT qid, vid, rank_a FROM ar WHERE rank_a <= $k),
       |q0 AS (SELECT vec_id AS qid, v AS qv FROM e0 WHERE vec_id < $nQueries),
       |xs AS (
       |  SELECT qid, vec_id AS vid, ${R("list_cosine_similarity(qv, v)")} AS cos
       |  FROM e0 CROSS JOIN q0 WHERE vec_id != qid),
       |xr AS (
       |  SELECT qid, vid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank_e
       |  FROM xs),
       |exact AS (SELECT qid, vid, rank_e FROM xr WHERE rank_e <= $k)""".stripMargin
  }

  def evalNdcgHamming(nPlanes: Int, nQueries: Int, k: Int, dim: Int = 64): String = {
    val idcg = (1 to k).map(i => (k + 1 - i).toDouble / math.log((i + 1).toDouble)).sum
    s"""WITH ${hammingVsExactCtes(nPlanes, nQueries, k, dim)}
       |SELECT a.qid,
       |       COUNT(CASE WHEN x.rank_e IS NOT NULL THEN 1 END) AS n_rel,
       |       ${R(s"SUM(CASE WHEN x.rank_e IS NOT NULL THEN (${k + 1} - x.rank_e) / LN(a.rank_a + 1) ELSE 0.0 END) / $idcg")} AS ndcg
       |FROM approx a LEFT JOIN exact x ON x.qid = a.qid AND x.vid = a.vid
       |GROUP BY a.qid ORDER BY a.qid""".stripMargin
  }

  /** MRR inputs per query: first approx rank that is exact-relevant
    * (NULL on miss), rr = 1/first_rank (0 on miss).
    */
  def evalMrrHamming(nPlanes: Int, nQueries: Int, k: Int, dim: Int = 64): String =
    s"""WITH ${hammingVsExactCtes(nPlanes, nQueries, k, dim)}
       |SELECT a.qid,
       |       MIN(CASE WHEN x.rank_e IS NOT NULL THEN a.rank_a END) AS first_rank,
       |       ${R("COALESCE(1.0 / MIN(CASE WHEN x.rank_e IS NOT NULL THEN a.rank_a END), 0.0)")} AS rr
       |FROM approx a LEFT JOIN exact x ON x.qid = a.qid AND x.vid = a.vid
       |GROUP BY a.qid ORDER BY a.qid""".stripMargin

  /** OPQ-IVFADC composed: the [[annIvfPqTrained]] chain with EVERY
    * stage (centroid training, PQ book training, assignment, query
    * encoding) run over the learned-rotation corpus `rot$p` — the
    * full FAISS `OPQ…,IVF…,PQ…` factory string as chained CTEs.
    */
  def annIvfPqRotatedTrained(nCentroids: Int, nCodewords: Int, m: Int,
                             kmIter: Int, nQueries: Int, k: Int, p: Int = 4,
                             nIter: Int = 5, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[b.s * $subDim + j] - b.w[j])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), j -> $diff * $diff))")
    }
    s"""WITH ${trainedRotCtes(p, m, nIter, dim)},
       |${kmeansCtes(nCentroids, kmIter, dim, src = s"rot$p", withE = false)},
       |${pqKmeansCtes(nCodewords, m, kmIter, dim, withE = false, src = s"rot$p")},
       |fc0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM rot$p e CROSS JOIN c$kmIter c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM fc0)
       |  WHERE crank = 1),
       |fb0 AS (
       |  SELECT e.vec_id, b.s, b.c, ${d2("e.v")} AS d2
       |  FROM rot$p e CROSS JOIN b$kmIter b),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM fb0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v FROM rot$p WHERE vec_id < $nQueries),
       |qc AS (SELECT q.qid, cells.cell FROM q JOIN cells ON cells.vec_id = q.qid),
       |dt AS (
       |  SELECT q.qid, b.s, b.c AS code, ${d2("q.v")} AS d2
       |  FROM q CROSS JOIN b$kmIter b),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Recall of the composed OPQ-IVFADC tier vs the ORIGINAL-space
    * exact cosine top-k.
    */
  def annIvfPqRotatedTrainedRecall(nCentroids: Int, nCodewords: Int, m: Int,
                                   kmIter: Int, nQueries: Int, k: Int,
                                   p: Int = 4, nIter: Int = 5,
                                   dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[b.s * $subDim + j] - b.w[j])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), j -> $diff * $diff))")
    }
    s"""WITH ${trainedRotCtes(p, m, nIter, dim)},
       |${kmeansCtes(nCentroids, kmIter, dim, src = s"rot$p", withE = false)},
       |${pqKmeansCtes(nCodewords, m, kmIter, dim, withE = false, src = s"rot$p")},
       |q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |${exactTopK("e", "q0", k)},
       |fc0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM rot$p e CROSS JOIN c$kmIter c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM fc0)
       |  WHERE crank = 1),
       |fb0 AS (
       |  SELECT e.vec_id, b.s, b.c, ${d2("e.v")} AS d2
       |  FROM rot$p e CROSS JOIN b$kmIter b),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM fb0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v FROM rot$p WHERE vec_id < $nQueries),
       |qc AS (SELECT q.qid, cells.cell FROM q JOIN cells ON cells.vec_id = q.qid),
       |dt AS (
       |  SELECT q.qid, b.s, b.c AS code, ${d2("q.v")} AS d2
       |  FROM q CROSS JOIN b$kmIter b),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |ar AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
       |  FROM sc),
       |approx AS (SELECT qid, vid, 1 AS hit FROM ar WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  /** Recall@k of the PQ tier vs the exact cosine top-k: the annPq
    * CTEs + the brute-force ranking + the recall left join.
    */
  /** Binary Hamming top-k: the sign-signature CTE (identical plane
    * literals) + popcount(xor) ranking — integer-exact end to end.
    */
  def annHamming(nPlanes: Int, nQueries: Int, k: Int, dim: Int = 64): String = {
    def proj(p: Int) = (0 until dim)
      .map(d => s"v[${d + 1}] * ${graft.operators.Similarity.planeWeight(p, d)}")
      .mkString(" + ")
    val bucket = (0 until nPlanes)
      .map(p => s"CASE WHEN ${proj(p)} > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, $bucket AS sig
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |        WHERE embedding IS NOT NULL)),
       |q AS (SELECT vec_id AS qid, sig AS qsig FROM e WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT q.qid, e.vec_id AS vid,
       |         CAST(bit_count(xor(e.sig, q.qsig)) AS BIGINT) AS hamming
       |  FROM e CROSS JOIN q WHERE e.vec_id != q.qid),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, vid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, vid, hamming, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Recall of the Hamming tier vs the exact cosine top-k. */
  def annHammingRecall(nPlanes: Int, nQueries: Int, k: Int, dim: Int = 64): String = {
    def proj(p: Int) = (0 until dim)
      .map(d => s"v[${d + 1}] * ${graft.operators.Similarity.planeWeight(p, d)}")
      .mkString(" + ")
    val bucket = (0 until nPlanes)
      .map(p => s"CASE WHEN ${proj(p)} > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |             WHERE embedding IS NOT NULL),
       |q0 AS (SELECT vec_id AS qid, v AS qv FROM raw WHERE vec_id < $nQueries),
       |${exactTopK("raw", "q0", k)},
       |e AS (SELECT vec_id, $bucket AS sig FROM raw),
       |q AS (SELECT vec_id AS qid, sig AS qsig FROM e WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT q.qid, e.vec_id AS vid,
       |         CAST(bit_count(xor(e.sig, q.qsig)) AS BIGINT) AS hamming
       |  FROM e CROSS JOIN q WHERE e.vec_id != q.qid),
       |pr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, vid) AS rank
       |  FROM s),
       |approx AS (SELECT qid, vid, 1 AS hit FROM pr WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  /** The Householder-rotated `e` CTE chain (raw → dot → reflected,
    * component-rounded) — u embedded as the same full-precision
    * literals the Spark side uses ([[graft.operators.Similarity
    * .householderU]] is the single source).
    */
  private def rotatedE(dim: Int): String = {
    val uL = graft.operators.Similarity.householderU(dim)
      .mkString("[", ", ", "]")
    s"""raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings
       |        WHERE embedding IS NOT NULL),
       |uvec AS (SELECT CAST($uL AS DOUBLE[]) AS u),
       |rot0 AS (
       |  SELECT r.vec_id, r.v0, u.u,
       |         ${R(s"list_sum(list_transform(generate_series(1, $dim), i -> r.v0[i] * u.u[i]))")} AS dr
       |  FROM raw r CROSS JOIN uvec u),
       |e AS (
       |  SELECT vec_id,
       |         list_transform(generate_series(1, $dim),
       |           i -> FLOOR((v0[i] - 2.0 * u[i] * dr) * 1000.0 + 0.5001) / 1000.0) AS v
       |  FROM rot0)""".stripMargin
  }

  /** PQ over the rotated corpus: the annPq chain with the rotated `e`. */
  def annPqRotated(nCodewords: Int, m: Int, nQueries: Int, k: Int,
                   dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH ${rotatedE(dim)},
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT dt.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a JOIN dt ON dt.s = a.s AND dt.code = a.code
       |  WHERE a.vec_id != dt.qid
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT qid, vid, adist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Recall of the rotated-PQ tier vs the ORIGINAL-space exact top-k. */
  def annPqRotatedRecall(nCodewords: Int, m: Int, nQueries: Int, k: Int,
                         dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH ${rotatedE(dim)},
       |q0 AS (SELECT vec_id AS qid, v0 AS qv FROM raw WHERE vec_id < $nQueries),
       |${exactTopK("raw", "q0", k, v = "v0")},
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT dt.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a JOIN dt ON dt.s = a.s AND dt.code = a.code
       |  WHERE a.vec_id != dt.qid
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
       |  FROM sc),
       |approx AS (SELECT qid, vid, 1 AS hit FROM pr WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  def annPqRecall(nCodewords: Int, m: Int, nQueries: Int, k: Int, dim: Int = 64): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |${exactTopK("e", "q", k)},
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT dt.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a JOIN dt ON dt.s = a.s AND dt.code = a.code
       |  WHERE a.vec_id != dt.qid
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
       |  FROM sc),
       |approx AS (SELECT qid, vid, 1 AS hit FROM pr WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  /** Recall@k of the composed IVF+PQ tier vs the exact cosine top-k:
    * the annIvfPq CTEs (cell pruning + ADC scoring) + the brute-force
    * ranking + the recall left join.
    */
  /** `labelMod` restricts BOTH the exact and the approximate
    * candidate sets to the per-query metadata predicate — the
    * filtered-search recall gate.
    */
  def annIvfPqRecall(nCentroids: Int, nCodewords: Int, m: Int,
                     nQueries: Int, k: Int, dim: Int = 64,
                     labelMod: Option[Int] = None): String = {
    val subDim = dim / m
    def d2(vec: String) = {
      val diff = s"($vec[cw.s * $subDim + i] - cw.v[cw.s * $subDim + i])"
      R(s"list_sum(list_transform(generate_series(1, $subDim), i -> $diff * $diff))")
    }
    val exactCond = labelMod.map(n => s"AND label = qid % $n").getOrElse("")
    val candJoin = labelMod.map(_ => "JOIN e ev ON ev.vec_id = a.vec_id").getOrElse("")
    val candCond = labelMod.map(n => s"AND ev.label = qc.qid % $n").getOrElse("")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |${exactTopK("e", "q", k, cond = s" $exactCond")},
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ca0)
       |  WHERE crank = 1),
       |cw AS (
       |  SELECT s.s, e.vec_id AS c, e.v FROM e CROSS JOIN range(0, $m) s(s)
       |  WHERE e.vec_id < $nCodewords),
       |a0 AS (
       |  SELECT e.vec_id, cw.s, cw.c, ${d2("e.v")} AS d2
       |  FROM e CROSS JOIN cw),
       |asg AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM a0)
       |  WHERE rn = 1),
       |qc AS (SELECT q.qid, cells.cell FROM q JOIN cells ON cells.vec_id = q.qid),
       |dt AS (
       |  SELECT q.qid, cw.s, cw.c AS code, ${d2("q.qv")} AS d2
       |  FROM q CROSS JOIN cw),
       |sc AS (
       |  SELECT qc.qid, a.vec_id AS vid, ${R("SUM(dt.d2)")} AS adist
       |  FROM asg a
       |  JOIN cells ce ON ce.vec_id = a.vec_id
       |  $candJoin
       |  JOIN qc ON qc.cell = ce.cell AND a.vec_id != qc.qid $candCond
       |  JOIN dt ON dt.qid = qc.qid AND dt.s = a.s AND dt.code = a.code
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
       |  FROM sc),
       |approx AS (SELECT qid, vid, 1 AS hit FROM pr WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  /** Two-stage IVFPQ rerank: the ADC top-`shortlist` (the full
    * [[annIvfPq]] chain as a nested derived table) re-scored with the
    * exact rounded cosine, top-k kept.
    */
  def annIvfPqRerank(nCentroids: Int, nCodewords: Int, m: Int,
                     nQueries: Int, shortlist: Int, k: Int,
                     dim: Int = 64): String =
    s"""WITH sl AS (
       |  SELECT qid, vid FROM (
       |${annIvfPq(nCentroids, nCodewords, m, nQueries, shortlist, dim)}) x),
       |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |       WHERE embedding IS NOT NULL),
       |q2 AS (SELECT vec_id AS sqid, v AS qv FROM e2 WHERE vec_id < $nQueries),
       |rr AS (
       |  SELECT sl.qid, sl.vid, ${R("list_cosine_similarity(e2.v, q2.qv)")} AS cos
       |  FROM sl JOIN e2 ON e2.vec_id = sl.vid JOIN q2 ON q2.sqid = sl.qid),
       |rk AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM rr)
       |SELECT qid, vid, cos, rank FROM rk WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Recall@k of the re-ranked tier vs the exact cosine top-k. */
  def annIvfPqRerankRecall(nCentroids: Int, nCodewords: Int, m: Int,
                           nQueries: Int, shortlist: Int, k: Int,
                           dim: Int = 64): String =
    approxRecall(annIvfPqRerank(nCentroids, nCodewords, m, nQueries, shortlist, k, dim),
      nQueries, k)

  /** Matryoshka two-stage: prefix-dim cosine shortlist, full-dim
    * exact rerank (the annIvfPqRerank tail on a truncated stage 1).
    */
  def annMatryoshka(pDims: Int, nQueries: Int, shortlist: Int, k: Int): String =
    s"""WITH t AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:$pDims] AS tv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |tq AS (SELECT vec_id AS qid, tv AS tqv FROM t WHERE vec_id < $nQueries),
       |tsc AS (
       |  SELECT qid, vec_id AS vid, ${R("list_cosine_similarity(tqv, tv)")} AS tcos
       |  FROM t CROSS JOIN tq WHERE vec_id != qid),
       |trk AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY tcos DESC, vid) AS rk
       |  FROM tsc),
       |sl AS (SELECT qid, vid FROM trk WHERE rk <= $shortlist),
       |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |       WHERE embedding IS NOT NULL),
       |q2 AS (SELECT vec_id AS sqid, v AS qv FROM e2 WHERE vec_id < $nQueries),
       |rr AS (
       |  SELECT sl.qid, sl.vid, ${R("list_cosine_similarity(e2.v, q2.qv)")} AS cos
       |  FROM sl JOIN e2 ON e2.vec_id = sl.vid JOIN q2 ON q2.sqid = sl.qid),
       |rk2 AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM rr)
       |SELECT qid, vid, cos, rank FROM rk2 WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Recall@k of the Matryoshka tier vs the exact cosine top-k. */
  def annMatryoshkaRecall(pDims: Int, nQueries: Int, shortlist: Int, k: Int): String =
    approxRecall(annMatryoshka(pDims, nQueries, shortlist, k),
      nQueries, k)

  def annTopK(nQueries: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT qid, vec_id AS vid, ${R("list_cosine_similarity(qv, v)")} AS cos
       |  FROM e CROSS JOIN q WHERE vec_id != qid),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, vid, cos, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  def embedCosineDup(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${R("list_cosine_similarity(a.v, b.v)")} AS cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${R("list_cosine_similarity(a.v, b.v)")} >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** LSH-bucketed ANN. Plane weights are the same Scala-computed md5
    * literals the Spark side uses (Double.toString round-trips), and
    * both sides fold projections left-to-right — bucket signs are
    * bit-exact, not merely ε-close.
    */
  def annLsh(nPlanes: Int, nQueries: Int, k: Int, dim: Int): String = {
    def proj(p: Int) = (0 until dim)
      .map(d => s"v[${d + 1}] * ${graft.operators.Similarity.planeWeight(p, d)}")
      .mkString(" + ")
    val bucket = (0 until nPlanes)
      .map(p => s"CASE WHEN ${proj(p)} > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    val dot = (0 until dim).map(d => s"e.v[${d + 1}] * q.v[${d + 1}]").mkString(" + ")
    val norm = (0 until dim).map(d => s"v[${d + 1}] * v[${d + 1}]").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         SQRT($norm) AS norm, $bucket AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v, norm AS qnorm, bucket FROM e WHERE vec_id < $nQueries),
       |s AS (
       |  SELECT q.qid, e.vec_id AS vid, ${R(s"($dot) / (e.norm * q.qnorm)")} AS cos
       |  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id != q.qid),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, vid, cos, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Autocorrelation at fixed lags per key — explicit
    * covar/std·std Pearson with a zero-variance NULL guard, the same
    * formulation as the Spark side (library CORRs differ in their
    * zero-variance and accumulation behavior).
    */
  def acf(lags: Seq[Int]): String = {
    val lagCols = lags.map(l => s"LAG(v, $l) OVER w AS v_l$l").mkString(", ")
    val corrs = lags.map { l =>
      val vp = s"CASE WHEN v_l$l IS NOT NULL THEN v END"
      s"${R(s"COVAR_POP($vp, v_l$l) / NULLIF(STDDEV_POP($vp) * STDDEV_POP(v_l$l), 0)")} AS acf_$l"
    }.mkString(",\n       ")
    s"""WITH $daily,
       |l AS (
       |  SELECT user_id, v, $lagCols
       |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day))
       |SELECT user_id, $corrs
       |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Fourier extrapolation: linear fit on the row index + first-kMax
    * residual harmonics, projected `horizon` steps past the end.
    * Composition order parenthesized to match the Spark expression
    * tree exactly.
    */
  def harmonicsForecast(kMax: Int, horizon: Int): String = {
    val slopeRaw = "COVAR_POP(v, i) / NULLIF(VAR_POP(i), 0.0)"
    val coeffCols = (1 to kMax).map { k =>
      s"${R(s"2.0 * SUM(res * COS(2.0 * PI() * $k * i / n)) / MAX(n)")} AS a$k,\n       " +
        s"${R(s"2.0 * SUM(res * SIN(2.0 * PI() * $k * i / n)) / MAX(n)")} AS b$k"
    }.mkString(",\n       ")
    val harmSum = (1 to kMax).map { k =>
      s"a$k * COS(2.0 * PI() * $k * (n - 1.0 + h) / n) + b$k * SIN(2.0 * PI() * $k * (n - 1.0 + h) / n)"
    }.mkString("(", " + ", ")")
    s"""WITH $daily,
       |idx AS (
       |  SELECT user_id, v,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS DOUBLE) AS i,
       |         CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS n
       |  FROM daily),
       |fit AS (
       |  SELECT user_id, ${R(slopeRaw)} AS slope,
       |         ${R(s"AVG(v) - $slopeRaw * AVG(i)")} AS intercept,
       |         MAX(n) AS n
       |  FROM idx GROUP BY 1),
       |res AS (
       |  SELECT idx.user_id, idx.i, idx.n, fit.slope, fit.intercept,
       |         v - (intercept + slope * i) AS res
       |  FROM idx JOIN fit USING (user_id)),
       |cf AS (
       |  SELECT user_id, MAX(slope) AS slope, MAX(intercept) AS intercept, MAX(n) AS n,
       |       $coeffCols
       |  FROM res GROUP BY 1),
       |f AS (
       |  SELECT *, UNNEST(generate_series(1, $horizon)) AS h FROM cf)
       |SELECT user_id, h,
       |       ${R(s"intercept + slope * (n - 1.0 + h) + $harmSum")} AS forecast
       |FROM f ORDER BY user_id, h""".stripMargin
  }

  /** Multi-grain rollup: GROUPING SETS over (key, day/week/month). */
  val tsRollup: String =
    s"""WITH base AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         CAST(date_trunc('week', ts) AS DATE) AS week,
       |         CAST(date_trunc('month', ts) AS DATE) AS month, value
       |  FROM events)
       |SELECT user_id,
       |       CASE WHEN day IS NOT NULL THEN 'day'
       |            WHEN week IS NOT NULL THEN 'week'
       |            ELSE 'month' END AS grain,
       |       COALESCE(day, week, month) AS period,
       |       ${R("SUM(value)")} AS v
       |FROM base
       |GROUP BY GROUPING SETS ((user_id, day), (user_id, week), (user_id, month))
       |ORDER BY user_id, grain, period""".stripMargin

  /** Content-digest dedup on the media payload (payload ≡ utf-8 text
    * bytes by construction, so md5(text) is the same digest).
    */
  val multimodalDedup: String =
    """SELECT doc_id AS media_id, md5(text) AS content_hash,
      |       'image' AS modality,
      |       COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
      |       CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS keep
      |FROM documents ORDER BY media_id""".stripMargin

  /** PACF lags 1–3: Durbin–Levinson closed forms over the rounded
    * acf estimates, identical expression tree to the Spark side.
    */
  val pacf: String = {
    def corr(l: Int) = {
      val vp = s"CASE WHEN v_l$l IS NOT NULL THEN v END"
      R(s"COVAR_POP($vp, v_l$l) / NULLIF(STDDEV_POP($vp) * STDDEV_POP(v_l$l), 0)")
    }
    s"""WITH $daily,
       |l AS (
       |  SELECT user_id, v, LAG(v, 1) OVER w AS v_l1,
       |         LAG(v, 2) OVER w AS v_l2, LAG(v, 3) OVER w AS v_l3
       |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
       |a AS (
       |  SELECT user_id, ${corr(1)} AS r1, ${corr(2)} AS r2, ${corr(3)} AS r3
       |  FROM l GROUP BY user_id),
       |p AS (
       |  SELECT user_id, r1, r2, r3,
       |         (r2 - r1 * r1) / NULLIF(1.0 - r1 * r1, 0.0) AS phi22
       |  FROM a),
       |q AS (SELECT *, r1 * (1.0 - phi22) AS phi21 FROM p)
       |SELECT user_id, r1 AS pacf_1,
       |       ${R("phi22")} AS pacf_2,
       |       ${R("(r3 - phi21 * r2 - phi22 * r1) / NULLIF(1.0 - phi21 * r1 - phi22 * r2, 0.0)")} AS pacf_3
       |FROM q ORDER BY user_id""".stripMargin
  }

  /** Lagged cross-correlation between two event-type daily series —
    * rounded per-type daily sums (identical corr inputs on both
    * engines), pairs (a_d, b_{d−k}) matched on calendar days.
    */
  def crossCorr(typeA: String, typeB: String, maxLag: Int): String =
    s"""WITH da AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ${R("SUM(value)")} AS va
       |  FROM events WHERE event_type = '$typeA' GROUP BY 1, 2),
       |db AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ${R("SUM(value)")} AS vb
       |  FROM events WHERE event_type = '$typeB' GROUP BY 1, 2),
       |j AS (
       |  SELECT da.user_id, l.lag, da.va, db.vb
       |  FROM da CROSS JOIN range(0, ${maxLag + 1}) l(lag)
       |  JOIN db ON db.user_id = da.user_id
       |         AND db.day = da.day - CAST(l.lag AS INTEGER))
       |SELECT user_id, lag,
       |       ${R("COVAR_POP(va, vb) / NULLIF(STDDEV_POP(va) * STDDEV_POP(vb), 0)")} AS ccf
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** PII redaction over the deterministically augmented corpus — the
    * regex constants are interpolated from
    * [[graft.operators.TextOps.EmailRe]]/PhoneRe/IpRe so the two
    * sides share one pattern source (Java regex and RE2 agree on this
    * syntax subset by construction).
    */
  val textPiiMask: String = {
    val e = graft.operators.TextOps.EmailRe
    val p = graft.operators.TextOps.PhoneRe
    val ip = graft.operators.TextOps.IpRe
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |         '@mail.example or +1 555-' ||
       |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |         ' at 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |         CAST(doc_id * 7 % 256 AS VARCHAR) AS text
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_phones,
       |       CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
       |       regexp_replace(regexp_replace(regexp_replace(text,
       |         '$e', '[EMAIL]', 'g'), '$p', '[PHONE]', 'g'), '$ip', '[IP]', 'g') AS masked
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  /** Largest day-over-day level shift per key (ties broken by day). */
  val changepoint: String =
    s"""WITH $daily,
       |d AS (
       |  SELECT user_id, day, v - LAG(v) OVER (PARTITION BY user_id ORDER BY day) AS diff
       |  FROM daily),
       |r AS (
       |  SELECT user_id, day, diff,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ABS(diff) DESC, day) AS rn
       |  FROM d WHERE diff IS NOT NULL)
       |SELECT user_id, day AS cp_day, ${R("diff")} AS cp_shift
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Piecewise OLS trend around the per-key changepoint (guarded
    * covar/var slopes per segment, mirroring TimeSeries.piecewiseTrend).
    */
  val piecewiseTrend: String = {
    val slope = "COVAR_POP(v, t) / NULLIF(VAR_POP(t), 0)"
    s"""WITH $daily,
       |d0 AS (
       |  SELECT user_id, day, v - LAG(v) OVER (PARTITION BY user_id ORDER BY day) AS diff
       |  FROM daily),
       |r AS (
       |  SELECT user_id, day,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ABS(diff) DESC, day) AS rn
       |  FROM d0 WHERE diff IS NOT NULL),
       |cp AS (SELECT user_id, day AS cp_day FROM r WHERE rn = 1),
       |seg AS (
       |  SELECT daily.user_id, daily.day, daily.v,
       |         CASE WHEN daily.day < cp.cp_day THEN 0 ELSE 1 END AS segment,
       |         CAST(daily.day - DATE '1970-01-01' AS DOUBLE) AS t
       |  FROM daily JOIN cp ON daily.user_id = cp.user_id)
       |SELECT user_id, CAST(segment AS BIGINT) AS segment,
       |       MIN(day) AS seg_start, MAX(day) AS seg_end,
       |       COUNT(*) AS n_days,
       |       ${R(slope)} AS slope,
       |       ${R(s"AVG(v) - (${R(slope)}) * AVG(t)")} AS intercept
       |FROM seg GROUP BY 1, 2 ORDER BY user_id, segment""".stripMargin
  }

  /** Day-of-week profile of the detrended series (0 = Monday, anchored
    * arithmetic — engine dayofweek conventions differ).
    */
  def seasonalProfile(half: Int): String =
    s"""WITH $daily, ${trendCte(half)}, $detrendCte
       |SELECT user_id, CAST((day - DATE '1970-01-05') % 7 AS BIGINT) AS dow,
       |       ${R("AVG(detrended)")} AS seasonal
       |FROM det GROUP BY user_id, dow ORDER BY user_id, dow""".stripMargin

  /** Linear interpolation gap-fill over the dense per-key spine. */
  val interpolate: String =
    s"""WITH $daily,
       |spine AS (
       |  SELECT user_id, UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS day
       |  FROM daily GROUP BY user_id),
       |j AS (
       |  SELECT s.user_id, CAST(s.day AS DATE) AS day, d.v,
       |         CASE WHEN d.v IS NULL THEN 1 ELSE 0 END AS was_gap
       |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
       |c AS (
       |  SELECT user_id, day, v, was_gap,
       |    last_value(v IGNORE NULLS) OVER wp AS pv,
       |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
       |    first_value(v IGNORE NULLS) OVER wn AS nv,
       |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
       |  FROM j WINDOW
       |    wp AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wn AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT user_id, day,
       |       ${R("CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv ELSE pv + (nv - pv) * (day - pd) / (nd - pd) END")} AS v_interp,
       |       was_gap
       |FROM c ORDER BY user_id, day""".stripMargin

  /** Full seasonal decomposition v = trend + seasonal + resid. */
  def decompose(half: Int): String =
    s"""WITH $daily, ${trendCte(half)}, $detrendCte,
       |d AS (
       |  SELECT *, CAST((day - DATE '1970-01-05') % 7 AS BIGINT) AS dow FROM det),
       |w AS (
       |  SELECT user_id, day, v, trend, detrended,
       |         ${R("AVG(detrended) OVER (PARTITION BY user_id, dow)")} AS seasonal
       |  FROM d)
       |SELECT user_id, day, v, trend, seasonal,
       |       ${R("detrended - seasonal")} AS resid
       |FROM w ORDER BY user_id, day""".stripMargin

  /** Wang-Hyndman trend/seasonality strength over the decomposition
    * components (explicit CASE on zero denominator variance — see the
    * Spark side).
    */
  def seasonalStrength(half: Int): String = {
    def strength(denom: String) =
      s"""CASE WHEN VAR_POP($denom) = 0 THEN NULL
         |            ELSE ${R(s"GREATEST(0.0, 1.0 - VAR_POP(resid) / VAR_POP($denom))")} END""".stripMargin
    s"""WITH $daily, ${trendCte(half)}, $detrendCte,
       |d AS (
       |  SELECT *, CAST((day - DATE '1970-01-05') % 7 AS BIGINT) AS dow FROM det),
       |w AS (
       |  SELECT user_id, day, v, detrended,
       |         ${R("AVG(detrended) OVER (PARTITION BY user_id, dow)")} AS seasonal
       |  FROM d),
       |sel AS (
       |  SELECT user_id, v, seasonal, ${R("detrended - seasonal")} AS resid FROM w)
       |SELECT user_id,
       |       ${strength("v - seasonal")} AS trend_strength,
       |       ${strength("seasonal + resid")} AS seasonal_strength
       |FROM sel GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Forecast router: density + Wang-Hyndman strengths pick the model
    * per key; each candidate branch is the standalone oracle's
    * arithmetic (holt/HW recursions, croston on the zero-filled daily
    * spine, AR(2) unrolled steps) with CTE names prefixed to coexist
    * in one WITH chain.
    */
  def forecastAuto(half: Int, period: Int, horizon: Int, alpha: Double,
                   beta: Double, gamma: Double, crostonAlpha: Double = 0.3,
                   tauSparse: Double = 0.6, tauSeason: Double = 0.6,
                   tauTrend: Double = 0.6): String = {
    def strength(denom: String) =
      s"""CASE WHEN VAR_POP($denom) = 0 THEN NULL
         |            ELSE ${R(s"GREATEST(0.0, 1.0 - VAR_POP(resid) / VAR_POP($denom))")} END""".stripMargin
    val ca = crostonAlpha
    val cia = 1 - crostonAlpha
    val ia = 1 - alpha
    val ib = 1 - beta
    def corr(l: Int) = {
      val vp = s"CASE WHEN v_l$l IS NOT NULL THEN v END"
      R(s"COVAR_POP($vp, v_l$l) / NULLIF(STDDEV_POP($vp) * STDDEV_POP(v_l$l), 0)")
    }
    val arSteps = (1 to horizon).map { s =>
      val p1 = if (s == 1) "x_last" else s"f${s - 1}"
      val p2 = if (s == 1) "x_prev" else if (s == 2) "x_last" else s"f${s - 2}"
      val src = if (s == 1) "ap2" else s"ac${s - 1}"
      s"ac$s AS (SELECT *, ${R(s"mu + phi1 * ($p1 - mu) + phi2 * ($p2 - mu)")} AS f$s FROM $src)"
    }.mkString(",\n")
    s"""WITH RECURSIVE $daily, ${trendCte(half)}, $detrendCte,
       |sd AS (
       |  SELECT *, CAST((day - DATE '1970-01-05') % 7 AS BIGINT) AS dow FROM det),
       |sw AS (
       |  SELECT user_id, day, v, detrended,
       |         ${R("AVG(detrended) OVER (PARTITION BY user_id, dow)")} AS seasonal
       |  FROM sd),
       |ssel AS (
       |  SELECT user_id, v, seasonal, ${R("detrended - seasonal")} AS resid FROM sw),
       |str AS (
       |  SELECT user_id,
       |         ${strength("v - seasonal")} AS trend_strength,
       |         ${strength("seasonal + resid")} AS seasonal_strength
       |  FROM ssel GROUP BY user_id),
       |bounds AS (
       |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1, COUNT(*) AS n
       |  FROM daily GROUP BY 1),
       |dens AS (
       |  SELECT user_id, ${R("n / (date_diff('day', d0, d1) + 1.0)")} AS density
       |  FROM bounds),
       |hn AS (
       |  SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM daily),
       |hh AS (
       |  SELECT user_id, rn, v AS l, CAST(0.0 AS DOUBLE) AS b FROM hn WHERE rn = 1
       |  UNION ALL
       |  SELECT hn.user_id, hn.rn,
       |         hn.v * $alpha + (hh.l + hh.b) * $ia AS l,
       |         ((hn.v * $alpha + (hh.l + hh.b) * $ia) - hh.l) * $beta + hh.b * $ib AS b
       |  FROM hh JOIN hn ON hn.user_id = hh.user_id AND hn.rn = hh.rn + 1),
       |hlast AS (SELECT user_id, MAX(rn) AS mx FROM hn GROUP BY user_id),
       |fh AS (
       |  SELECT hh.user_id, ${R(s"hh.l + hh.b * $horizon.0")} AS f
       |  FROM hh JOIN hlast ON hh.user_id = hlast.user_id AND hh.rn = hlast.mx),
       |${hwCtes(alpha, beta, gamma, period, "daily", "w")},
       |fw AS (
       |  SELECT wh.user_id,
       |         ${R(s"wh.l + wh.b * $horizon.0 + wh.s[((wlastr.mx - 1 + $horizon) % $period) + 1]")} AS f
       |  FROM wh JOIN wlastr ON wh.user_id = wlastr.user_id AND wh.rn = wlastr.mx),
       |cspine AS (
       |  SELECT user_id,
       |         CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM bounds),
       |csp AS (
       |  SELECT s.user_id, s.day, COALESCE(d.v, 0.0) AS v
       |  FROM cspine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
       |cpos AS (
       |  SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS p
       |  FROM csp),
       |cnz AS (
       |  SELECT user_id, v, CAST(p AS DOUBLE) AS p,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p) AS rn
       |  FROM cpos WHERE v > 0.0),
       |civ AS (
       |  SELECT user_id, v, rn,
       |         CASE WHEN rn = 1 THEN p
       |              ELSE p - LAG(p) OVER (PARTITION BY user_id ORDER BY rn) END AS ivl
       |  FROM cnz),
       |ch AS (
       |  SELECT user_id, rn, v AS z, ivl AS pp FROM civ WHERE rn = 1
       |  UNION ALL
       |  SELECT i.user_id, i.rn, ch.z * $cia + i.v * $ca, ch.pp * $cia + i.ivl * $ca
       |  FROM ch JOIN civ i ON i.user_id = ch.user_id AND i.rn = ch.rn + 1),
       |clast AS (SELECT user_id, MAX(rn) AS mx FROM cnz GROUP BY user_id),
       |fc AS (
       |  SELECT ch.user_id, ${R("ch.z / ch.pp")} AS f
       |  FROM ch JOIN clast ON ch.user_id = clast.user_id AND ch.rn = clast.mx),
       |al AS (
       |  SELECT user_id, day, v, LAG(v, 1) OVER w AS v_l1, LAG(v, 2) OVER w AS v_l2,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
       |ast AS (
       |  SELECT user_id, ${corr(1)} AS r1, ${corr(2)} AS r2,
       |         ${R("AVG(v)")} AS mu,
       |         MAX(CASE WHEN rn_end = 1 THEN v END) AS x_last,
       |         MAX(CASE WHEN rn_end = 2 THEN v END) AS x_prev
       |  FROM al GROUP BY user_id),
       |ap AS (
       |  SELECT *, ${R("r1 * (1.0 - r2) / NULLIF(1.0 - r1 * r1, 0)")} AS phi1,
       |         ${R("(r2 - r1 * r1) / NULLIF(1.0 - r1 * r1, 0)")} AS phi2
       |  FROM ast WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND x_prev IS NOT NULL),
       |ap2 AS (SELECT * FROM ap WHERE phi1 IS NOT NULL AND phi2 IS NOT NULL),
       |$arSteps,
       |fa AS (SELECT user_id, f$horizon AS f FROM ac$horizon),
       |route AS (
       |  SELECT d.user_id, d.density, str.trend_strength, str.seasonal_strength,
       |         CASE WHEN d.density < $tauSparse THEN 'croston'
       |              WHEN COALESCE(str.seasonal_strength, 0.0) >= $tauSeason THEN 'hw'
       |              WHEN COALESCE(str.trend_strength, 0.0) >= $tauTrend THEN 'holt'
       |              ELSE 'ar2' END AS model0
       |  FROM dens d JOIN str USING (user_id)),
       |m AS (
       |  SELECT r.user_id, r.density, r.trend_strength, r.seasonal_strength,
       |         fh.f AS f_holt, fw.f AS f_hw, fc.f AS f_cro, fa.f AS f_ar,
       |         CASE WHEN r.model0 = 'ar2' AND fa.f IS NULL THEN 'holt'
       |              WHEN r.model0 = 'croston' AND fc.f IS NULL THEN 'holt'
       |              ELSE r.model0 END AS model
       |  FROM route r
       |  LEFT JOIN fh USING (user_id) LEFT JOIN fw USING (user_id)
       |  LEFT JOIN fc USING (user_id) LEFT JOIN fa USING (user_id))
       |SELECT user_id, density, trend_strength, seasonal_strength, model,
       |       CASE model WHEN 'croston' THEN f_cro WHEN 'hw' THEN f_hw
       |            WHEN 'holt' THEN f_holt ELSE f_ar END AS forecast
       |FROM m ORDER BY user_id""".stripMargin
  }

  /** Fixed-width value histogram per event type. */
  def valueHistogram(width: Double, nBins: Int): String =
    s"""SELECT event_type,
       |       CAST(LEAST(FLOOR(value / $width), ${nBins - 1}) AS BIGINT) AS bin,
       |       COUNT(*) AS n, ${R("SUM(value)")} AS v_sum
       |FROM events GROUP BY event_type, bin
       |ORDER BY event_type, bin""".stripMargin

  /** Recall@k of the LSH ANN vs the exact top-k per query. */
  def annRecall(nPlanes: Int, nQueries: Int, k: Int, dim: Int): String = {
    def proj(p: Int) = (0 until dim)
      .map(d => s"v[${d + 1}] * ${graft.operators.Similarity.planeWeight(p, d)}")
      .mkString(" + ")
    val bucket = (0 until nPlanes)
      .map(p => s"CASE WHEN ${proj(p)} > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    s"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |e AS (SELECT vec_id, v, $bucket AS bucket FROM v0),
       |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM e WHERE vec_id < $nQueries),
       |${exactTopK("e", "q", k)},
       |ls AS (
       |  SELECT q.qid, e.vec_id AS vid, ${R("list_cosine_similarity(q.qv, e.v)")} AS cos
       |  FROM e JOIN q ON e.bucket = q.qbucket AND e.vec_id != q.qid),
       |lr AS (
       |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
       |  FROM ls),
       |approx AS (SELECT qid, vid, 1 AS hit FROM lr WHERE rank <= $k)
       |$recallTail""".stripMargin
  }

  /** Corpus-wide top-k tokens by frequency. */
  def tokenTopK(k: Int): String =
    s"""WITH t AS (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
       |c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
       |r AS (SELECT token, n,
       |        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
       |      FROM c)
       |SELECT token, n, rank FROM r WHERE rank <= $k ORDER BY rank""".stripMargin

  /** Count-Min heavy-hitter tier: d salted md5 hash rows × w buckets,
    * estimate = MIN over the candidate's d cells, published next to
    * the exact counts (same tokenizer + top-k as tokenTopK).
    */
  def tokenTopKCms(k: Int, d: Int = 4, w: Int = 1024): String = {
    def bucket(src: String) =
      s"CAST(CONCAT('0x', SUBSTR(md5(CONCAT(CAST(j AS VARCHAR), ':', $src.token)), 1, 15)) AS BIGINT) % $w"
    s"""WITH t AS (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
       |c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
       |r AS (SELECT token, n,
       |        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
       |      FROM c),
       |top AS (SELECT token, n, rank FROM r WHERE rank <= $k),
       |js AS (SELECT UNNEST(generate_series(0, ${d - 1})) AS j),
       |cells AS (
       |  SELECT j, ${bucket("c")} AS bucket, CAST(SUM(c.n) AS BIGINT) AS cnt
       |  FROM c CROSS JOIN js GROUP BY 1, 2),
       |cand AS (
       |  SELECT top.token, top.n, top.rank, j, ${bucket("top")} AS bucket
       |  FROM top CROSS JOIN js)
       |SELECT cand.token, cand.rank, cand.n AS n_exact, MIN(cells.cnt) AS n_cms,
       |       ${R("CAST(MIN(cells.cnt) - cand.n AS DOUBLE) / cand.n", 6)} AS over_err
       |FROM cand JOIN cells USING (j, bucket)
       |GROUP BY cand.token, cand.n, cand.rank
       |ORDER BY cand.rank""".stripMargin
  }

  /** Daily DAU by HLL next to the exact count — the register chain of
    * activeUsersRollingApprox without the trailing window.
    */
  def hllDailyUsers(b: Int = 6): String = {
    val m = 1 << b
    val alpha = if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
       |dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY 1),
       |hsh AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |         CAST(CONCAT('0x', SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |reg AS (
       |  SELECT day, h & ${m - 1} AS r,
       |         MAX(CASE WHEN (h >> $b) = 0 THEN ${61 - b}
       |                  ELSE ${61 - b} - length(bin(h >> $b)) END) AS mx
       |  FROM hsh GROUP BY 1, 2),
       |hll0 AS (
       |  SELECT day,
       |         SUM(1.0 / CAST(1::BIGINT << mx AS DOUBLE)) + ($m - COUNT(*)) AS s,
       |         $m - COUNT(*) AS v
       |  FROM reg GROUP BY day),
       |hll AS (
       |  SELECT day,
       |         CASE WHEN ($alpha * $m * $m) / s <= ${2.5 * m} AND v > 0
       |              THEN ${m.toDouble} * ln(CAST($m AS DOUBLE) / v)
       |              ELSE ($alpha * $m * $m) / s END AS est
       |  FROM hll0)
       |SELECT dau.day, dau.dau,
       |       ${R("hll.est")} AS hll_users,
       |       ${R("ABS(hll.est - dau.dau) / dau.dau")} AS rel_err
       |FROM dau JOIN hll USING (day)
       |ORDER BY day""".stripMargin
  }

  /** Corpus overlap by HLL inclusion-exclusion next to the exact
    * distinct-n-gram intersection: parity corpora, md5 registers,
    * union = register-wise MAX.
    */
  def corpusOverlapHll(n: Int = 4, b: Int = 6): String = {
    val m = 1 << b
    val alpha = if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    s"""WITH dg0 AS (
       |  SELECT DISTINCT doc_id % 2 AS g, gram FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${n - 1}),
       |      i -> array_to_string(t[i:i+${n - 1}], ' '))) AS gram
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |    WHERE len(t) >= $n)),
       |f AS (
       |  SELECT gram, MAX(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS a,
       |         MAX(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS b
       |  FROM dg0 GROUP BY 1),
       |ex AS (
       |  SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b,
       |         CAST(SUM(a * b) AS BIGINT) AS exact_overlap FROM f),
       |hsh AS (
       |  SELECT g AS day,
       |         CAST(CONCAT('0x', SUBSTR(md5(gram), 1, 15)) AS BIGINT) AS h
       |  FROM dg0),
       |reg AS (
       |  SELECT day, h & ${m - 1} AS r,
       |         MAX(CASE WHEN (h >> $b) = 0 THEN ${61 - b}
       |                  ELSE ${61 - b} - length(bin(h >> $b)) END) AS mx
       |  FROM hsh GROUP BY 1, 2),
       |allreg AS (
       |  SELECT day, r, mx FROM reg
       |  UNION ALL SELECT 2 AS day, r, MAX(mx) AS mx FROM reg GROUP BY r),
       |hll0 AS (
       |  SELECT day,
       |         SUM(1.0 / CAST(1::BIGINT << mx AS DOUBLE)) + ($m - COUNT(*)) AS s,
       |         $m - COUNT(*) AS v
       |  FROM allreg GROUP BY day),
       |hll AS (
       |  SELECT day,
       |         CASE WHEN ($alpha * $m * $m) / s <= ${2.5 * m} AND v > 0
       |              THEN ${m.toDouble} * ln(CAST($m AS DOUBLE) / v)
       |              ELSE ($alpha * $m * $m) / s END AS est
       |  FROM hll0),
       |p AS (
       |  SELECT SUM(CASE WHEN day = 0 THEN est END) AS ea,
       |         SUM(CASE WHEN day = 1 THEN est END) AS eb,
       |         SUM(CASE WHEN day = 2 THEN est END) AS eu
       |  FROM hll)
       |SELECT ex.n_a, ex.n_b, ex.exact_overlap,
       |       ${R("ea + eb - eu")} AS est_overlap,
       |       ${R("ABS(ea + eb - eu - exact_overlap) / NULLIF(exact_overlap, 0)")} AS rel_err
       |FROM ex CROSS JOIN p""".stripMargin
  }

  /** Windowed PSI drift vs the all-time event-type mix (smoothed, the
    * Eval.psi formulation); one row per tumbling window.
    */
  def streamPsiBatch(windowHours: Int = 6): String = {
    val wus = windowHours.toLong * 3600L * 1000000L
    s"""WITH base AS (SELECT event_type, COUNT(*) AS n_b FROM events GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k,
       |               CAST(SUM(n_b) AS DOUBLE) AS tb FROM base),
       |wc AS (
       |  SELECT (epoch_us(ts) // $wus) * $wus AS w_us, event_type,
       |         COUNT(*) AS n_w
       |  FROM events GROUP BY 1, 2),
       |wins AS (SELECT DISTINCT w_us FROM wc),
       |j AS (
       |  SELECT w.w_us, b.event_type, b.n_b, COALESCE(wc.n_w, 0) AS n_w
       |  FROM wins w CROSS JOIN base b
       |  LEFT JOIN wc ON wc.w_us = w.w_us AND wc.event_type = b.event_type),
       |tw AS (
       |  SELECT w_us, CAST(SUM(n_w) AS DOUBLE) AS t,
       |         CAST(SUM(n_w) AS BIGINT) AS n_events
       |  FROM j GROUP BY 1),
       |c AS (
       |  SELECT j.w_us, tw.n_events,
       |         ((j.n_w + 1.0) / (tw.t + tot.k) - (j.n_b + 1.0) / (tot.tb + tot.k)) *
       |         ln(((j.n_w + 1.0) / (tw.t + tot.k)) / ((j.n_b + 1.0) / (tot.tb + tot.k))) AS contrib
       |  FROM j JOIN tw USING (w_us) CROSS JOIN tot)
       |SELECT w_us AS window_start_us, n_events, ${R("SUM(contrib)")} AS psi
       |FROM c GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  /** MAD-based robust outlier days. */
  /** Robust scaling: per-key rounded median/IQR, (v − med)/IQR. */
  val scaleRobust: String =
    s"""WITH $daily,
       |q AS (
       |  SELECT user_id, ${R("quantile_cont(v, 0.5)")} AS med,
       |         ${R("quantile_cont(v, 0.75) - quantile_cont(v, 0.25)")} AS iqr
       |  FROM daily GROUP BY 1)
       |SELECT d.user_id, d.day, d.v, q.med, q.iqr,
       |       ${R("(d.v - q.med) / NULLIF(q.iqr, 0)")} AS scaled_robust
       |FROM daily d JOIN q USING (user_id)
       |ORDER BY d.user_id, d.day""".stripMargin

  def outliersMad(nMads: Double): String =
    s"""WITH $daily,
       |m1 AS (SELECT user_id, MEDIAN(v) AS med FROM daily GROUP BY user_id),
       |m2 AS (
       |  SELECT d.user_id, MEDIAN(ABS(d.v - m.med)) AS mad
       |  FROM daily d JOIN m1 m USING (user_id) GROUP BY d.user_id)
       |SELECT d.user_id, d.day, d.v, ${R("m.med")} AS med,
       |       ${R("ABS(d.v - m.med) / NULLIF(x.mad, 0)")} AS n_mads
       |FROM daily d JOIN m1 m USING (user_id) JOIN m2 x USING (user_id)
       |WHERE ABS(d.v - m.med) > $nMads * x.mad
       |ORDER BY d.user_id, d.day""".stripMargin

  /** MAD-flag + linear imputation between surviving neighbors. */
  def imputeOutliers(nMads: Double): String =
    s"""WITH $daily,
       |m1 AS (SELECT user_id, MEDIAN(v) AS med FROM daily GROUP BY user_id),
       |m2 AS (
       |  SELECT d.user_id, MEDIAN(ABS(d.v - m.med)) AS mad
       |  FROM daily d JOIN m1 m USING (user_id) GROUP BY d.user_id),
       |f AS (
       |  SELECT d.user_id, d.day, d.v,
       |         CASE WHEN ABS(d.v - m.med) > $nMads * x.mad THEN 1 ELSE 0 END AS is_out,
       |         CASE WHEN ABS(d.v - m.med) > $nMads * x.mad THEN NULL ELSE d.v END AS v0
       |  FROM daily d JOIN m1 m USING (user_id) JOIN m2 x USING (user_id)),
       |c AS (
       |  SELECT *,
       |         LAST_VALUE(v0 IGNORE NULLS) OVER wp AS pv,
       |         LAST_VALUE(CASE WHEN v0 IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
       |         FIRST_VALUE(v0 IGNORE NULLS) OVER wn AS nv,
       |         FIRST_VALUE(CASE WHEN v0 IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
       |  FROM f
       |  WINDOW wp AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         wn AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT user_id, day, v, is_out,
       |       ${R("CASE WHEN v0 IS NOT NULL THEN v0 WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv ELSE pv + (nv - pv) * (day - pd) / (nd - pd) END")} AS v_imputed
       |FROM c ORDER BY user_id, day""".stripMargin

  /** Top-k PMI collocations within a forward window. */
  def pmiPairs(window: Int, minCount: Long, k: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pairs AS (
       |  SELECT UNNEST(flatten(list_transform(generate_series(1, len(t) - 1),
       |    i -> list_transform(generate_series(1, least($window, len(t) - i)),
       |      d -> t[i] || ' ' || t[i + d])))) AS pair
       |  FROM toks WHERE len(t) >= 2),
       |pc AS (SELECT pair, COUNT(*) AS n_ab FROM pairs GROUP BY 1),
       |np AS (SELECT SUM(n_ab) AS n_pairs FROM pc),
       |uc AS (
       |  SELECT tok, COUNT(*) AS c FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1),
       |nt AS (SELECT SUM(c) AS n_tok FROM uc),
       |f AS (
       |  SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b, n_ab
       |  FROM pc WHERE n_ab >= $minCount)
       |SELECT f.a, f.b, f.n_ab,
       |       ${R("LN((CAST(f.n_ab AS DOUBLE) / np.n_pairs) / ((CAST(ca.c AS DOUBLE) / nt.n_tok) * (CAST(cb.c AS DOUBLE) / nt.n_tok)))")} AS pmi
       |FROM f
       |JOIN uc ca ON ca.tok = f.a
       |JOIN uc cb ON cb.tok = f.b
       |CROSS JOIN np CROSS JOIN nt
       |ORDER BY pmi DESC, a, b LIMIT $k""".stripMargin

  val retrend: String =
    s"""WITH $daily, ${trendCte(3)}, $detrendCte
       |SELECT user_id, day, v, ${R("detrended + trend")} AS retrended
       |FROM det ORDER BY user_id, day""".stripMargin

  val rescale: String =
    s"""WITH $daily, ${trendCte(3)}, $detrendCte, $scaleCte
       |SELECT user_id, day, detrended, ${R("scaled * std + mean")} AS rescaled
       |FROM sc ORDER BY user_id, day""".stripMargin

  val langId: String =
    """SELECT doc_id,
      |  CASE WHEN en_c >= de_c AND en_c >= fr_c AND en_c >= es_c THEN 'en'
      |       WHEN de_c >= fr_c AND de_c >= es_c THEN 'de'
      |       WHEN fr_c >= es_c THEN 'fr' ELSE 'es' END AS lang_pred
      |FROM (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','is'))) AS en_c,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist','nicht'))) AS de_c,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','est','un','une'))) AS fr_c,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('el','la','y','es','un','una'))) AS es_c
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  val textQuality: String =
    s"""SELECT doc_id, chars, alpha_ratio, digit_ratio, space_ratio, uniq_ratio, stop_ratio,
       |  ${R("alpha_ratio * 0.4 + uniq_ratio * 0.2 + (1.0 - stop_ratio) * 0.2 + CASE WHEN chars BETWEEN 100 AND 400 THEN 0.2 ELSE 0.1 END")} AS score
       |FROM (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
       |    ${R("(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / length(text)")} AS alpha_ratio,
       |    ${R("(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)")} AS digit_ratio,
       |    ${R("(length(text) - length(replace(text, ' ', ''))) / length(text)")} AS space_ratio,
       |    ${R("len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))")} AS uniq_ratio,
       |    ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS stop_ratio
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Importance sampling: md5 8-hex-digit draw vs the quality score
    * on the same hex scale (string comparison, engine-portable).
    */
  def sampleImportance(seed: String): String =
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |    ${R("alpha_ratio * 0.4 + uniq_ratio * 0.2 + (1.0 - stop_ratio) * 0.2 + CASE WHEN chars BETWEEN 100 AND 400 THEN 0.2 ELSE 0.1 END")} AS score
       |  FROM (
       |    SELECT doc_id, source, CAST(length(text) AS BIGINT) AS chars,
       |      ${R("(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / length(text)")} AS alpha_ratio,
       |      ${R("len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))")} AS uniq_ratio,
       |      ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS stop_ratio
       |    FROM documents))
       |SELECT doc_id, source, score,
       |       substr(MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))), 1, 8) AS draw
       |FROM q
       |WHERE substr(MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))), 1, 8)
       |      < printf('%08x', CAST(LEAST(FLOOR(score * 4294967296.0), 4294967295.0) AS BIGINT))
       |ORDER BY doc_id""".stripMargin

  /** Top-k tf·idf terms per doc — df derived from tf, ln-ulp
    * differences absorbed by R() BEFORE the rank (same convention as
    * the ANN cosine rankings).
    */
  def textTfidf(k: Int): String =
    s"""WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |dfx AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |s AS (
       |  SELECT tf.doc_id, tf.tok,
       |         ${R("tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfx.df)")} AS tfidf
       |  FROM tf JOIN dfx ON tf.tok = dfx.tok CROSS JOIN n),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS BIGINT) AS rank
       |  FROM s)
       |SELECT doc_id, tok, tfidf, rank FROM r WHERE rank <= $k
       |ORDER BY doc_id, rank""".stripMargin

  val tokenCount: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
      |  CAST(length(text) AS BIGINT) AS chars
      |FROM documents ORDER BY doc_id""".stripMargin

  val docFingerprint: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(text)),
      |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Distinct word n-grams per doc, as a CTE named `dg`. DuckDB array
    * slicing `t[i:i+k]` is INCLUSIVE on both ends, so an n-gram is
    * `t[i : i+n-1]`.
    */
  private def ngramsCte(n: Int): String =
    s"""dg AS (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${n - 1}),
       |      i -> array_to_string(t[i:i+${n - 1}], ' '))) AS g
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |    WHERE len(t) >= $n))""".stripMargin

  /** Benchmark decontamination: benchmark = docs with doc_id % `m` = 0
    * (mirrors the gate's deterministic eval-set selection).
    */
  def decontaminate(n: Int, m: Int): String =
    s"""WITH ${ngramsCte(n)},
       |bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % $m = 0),
       |hits AS (
       |  SELECT dg.doc_id, COUNT(*) AS hits FROM dg JOIN bench USING (g) GROUP BY 1)
       |SELECT d.doc_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(CASE WHEN COALESCE(h.hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Contamination report: per-doc distinct n-grams, benchmark hits,
    * overlap fraction (NULL for gram-less docs).
    */
  def decontaminateScore(n: Int, m: Int): String =
    s"""WITH ${ngramsCte(n)},
       |bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % $m = 0),
       |per AS (
       |  SELECT dg.doc_id, COUNT(*) AS n_grams,
       |         COUNT(b.g) AS hits
       |  FROM dg LEFT JOIN bench b USING (g) GROUP BY 1)
       |SELECT d.doc_id, CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       |       CAST(COALESCE(p.hits, 0) AS BIGINT) AS hits,
       |       ${R("COALESCE(p.hits, 0) / NULLIF(COALESCE(p.n_grams, 0), 0)")} AS frac
       |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** LSH S-curve tuning table over the divisor splits of nHashes. */
  def lshTuningCurve(nHashes: Int): String = {
    val splits = (1 to nHashes).filter(nHashes % _ == 0)
      .map(b => s"($b, ${nHashes / b})").mkString(", ")
    s"""WITH cfg AS (SELECT * FROM (VALUES $splits) t(b, r)),
       |grid AS (SELECT CAST(i AS DOUBLE) / 20 AS s
       |         FROM generate_series(1, 19) t(i))
       |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
       |       ${R("s")} AS s,
       |       ${R("1.0 - pow(1.0 - pow(s, r), b)")} AS p_cand,
       |       ${R("pow(1.0 / b, 1.0 / r)")} AS t_star
       |FROM cfg CROSS JOIN grid ORDER BY bands, s""".stripMargin
  }

  // z and z² for the 95% interval — z² inlined from the same Scala
  // double the Spark side uses (1.96² ≠ 3.8416 in IEEE)
  private val AB_Z = "1.96"
  private val AB_Z2 = (1.96 * 1.96).toString
  private val AB_ARM =
    "CAST(CAST(CONCAT('0x', SUBSTR(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS INT)"

  /** Hashing-trick features: md5 bucket + independent md5 sign bit,
    * signed integer counts per (user, bucket).
    */
  def featureHash(b: Int): String =
    s"""WITH f AS (
       |  SELECT user_id, UNNEST(['et:' || event_type,
       |                          -- Spark dayofweek is 1-based Sunday-first; DuckDB 0-based
       |                          'dow:' || CAST(dayofweek(ts) + 1 AS VARCHAR)]) AS feat
       |  FROM events),
       |h AS (
       |  SELECT user_id,
       |         CAST(CONCAT('0x', SUBSTR(md5(feat), 1, 8)) AS BIGINT) % $b AS bucket,
       |         CAST(CONCAT('0x', SUBSTR(md5(feat), 9, 1)) AS BIGINT) % 2 * 2 - 1 AS sign
       |  FROM f)
       |SELECT user_id, bucket, CAST(SUM(sign) AS BIGINT) AS v
       |FROM h GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin

  /** Two-arm A/B readout: md5 arm split, Wilson 95% intervals, pooled
    * two-proportion z — integer-count inputs, so exact by construction.
    */
  def abLift(convType: String, minEvents: Int = 1): String = {
    def p(a: String) = s"(conv_$a / n_$a)"
    def wilson(a: String, sign: String) =
      s"(${p(a)} + $AB_Z2 / (2.0 * n_$a)) / (1.0 + $AB_Z2 / n_$a) $sign " +
        s"$AB_Z * sqrt(${p(a)} * (1.0 - ${p(a)}) / n_$a + $AB_Z2 / (4.0 * n_$a * n_$a)) / (1.0 + $AB_Z2 / n_$a)"
    val pp = "((conv_a + conv_b) / (n_a + n_b))"
    s"""WITH pu AS (
       |  SELECT user_id,
       |         CASE WHEN SUM(CASE WHEN event_type = '$convType' THEN 1 ELSE 0 END)
       |                   >= $minEvents THEN 1 ELSE 0 END AS converted
       |  FROM events GROUP BY 1),
       |au AS (SELECT $AB_ARM AS arm, converted FROM pu),
       |arms AS (
       |  SELECT arm, COUNT(*) AS n, SUM(converted) AS cv FROM au GROUP BY 1),
       |m AS (
       |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
       |         CAST(SUM(CASE WHEN arm = 0 THEN cv END) AS BIGINT) AS conv_a,
       |         CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
       |         CAST(SUM(CASE WHEN arm = 1 THEN cv END) AS BIGINT) AS conv_b
       |  FROM arms)
       |SELECT n_a, conv_a, ${R(p("a"))} AS rate_a,
       |       ${R(wilson("a", "-"))} AS lo_a, ${R(wilson("a", "+"))} AS hi_a,
       |       n_b, conv_b, ${R(p("b"))} AS rate_b,
       |       ${R(wilson("b", "-"))} AS lo_b, ${R(wilson("b", "+"))} AS hi_b,
       |       ${R(s"${p("b")} - ${p("a")}")} AS lift,
       |       ${R(s"(${p("b")} - ${p("a")}) / NULLIF(sqrt($pp * (1.0 - $pp) * (1.0 / n_a + 1.0 / n_b)), 0.0)")} AS z_stat
       |FROM m""".stripMargin
  }

  /** CUPED-adjusted A/B: r3'd per-user pre/post sums, r3'd per-arm
    * moments, exact scalar math over the rounded moments.
    */
  def abCuped(splitDay: String): String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |         ${R(s"COALESCE(SUM(CASE WHEN CAST(date_trunc('day', ts) AS DATE) < DATE '$splitDay' THEN value END), 0.0)")} AS x,
       |         ${R(s"COALESCE(SUM(CASE WHEN CAST(date_trunc('day', ts) AS DATE) >= DATE '$splitDay' THEN value END), 0.0)")} AS y
       |  FROM events GROUP BY 1),
       |au AS (SELECT $AB_ARM AS arm, x, y FROM pu),
       |arms AS (
       |  SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n,
       |         ${R("SUM(x)")} AS sx, ${R("SUM(y)")} AS sy,
       |         ${R("SUM(x * x)")} AS sxx, ${R("SUM(x * y)")} AS sxy,
       |         ${R("SUM(y * y)")} AS syy
       |  FROM au GROUP BY 1),
       |m AS (
       |  SELECT SUM(CASE WHEN arm = 0 THEN n END) AS n_a,
       |         SUM(CASE WHEN arm = 0 THEN sx END) AS sx_a,
       |         SUM(CASE WHEN arm = 0 THEN sy END) AS sy_a,
       |         SUM(CASE WHEN arm = 1 THEN n END) AS n_b,
       |         SUM(CASE WHEN arm = 1 THEN sx END) AS sx_b,
       |         SUM(CASE WHEN arm = 1 THEN sy END) AS sy_b,
       |         SUM(CASE WHEN arm = 0 THEN n END) + SUM(CASE WHEN arm = 1 THEN n END) AS n,
       |         SUM(CASE WHEN arm = 0 THEN sx END) + SUM(CASE WHEN arm = 1 THEN sx END) AS sx,
       |         SUM(CASE WHEN arm = 0 THEN sy END) + SUM(CASE WHEN arm = 1 THEN sy END) AS sy,
       |         SUM(CASE WHEN arm = 0 THEN sxx END) + SUM(CASE WHEN arm = 1 THEN sxx END) AS sxx,
       |         SUM(CASE WHEN arm = 0 THEN sxy END) + SUM(CASE WHEN arm = 1 THEN sxy END) AS sxy,
       |         SUM(CASE WHEN arm = 0 THEN syy END) + SUM(CASE WHEN arm = 1 THEN syy END) AS syy
       |  FROM arms),
       |m2 AS (
       |  SELECT *, sx / n AS mx, sy / n AS my,
       |         sxx / n - (sx / n) * (sx / n) AS varx,
       |         syy / n - (sy / n) * (sy / n) AS vary,
       |         sxy / n - (sx / n) * (sy / n) AS covxy
       |  FROM m),
       |m3 AS (SELECT *, covxy / varx AS theta FROM m2)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |       ${R("theta")} AS theta,
       |       ${R("sy_a / n_a")} AS y_a, ${R("sy_b / n_b")} AS y_b,
       |       ${R("sy_a / n_a - theta * (sx_a / n_a - mx)")} AS yadj_a,
       |       ${R("sy_b / n_b - theta * (sx_b / n_b - mx)")} AS yadj_b,
       |       ${R("sy_b / n_b - sy_a / n_a")} AS lift_raw,
       |       ${R("(sy_b / n_b - theta * (sx_b / n_b - mx)) - (sy_a / n_a - theta * (sx_a / n_a - mx))")} AS lift_cuped,
       |       ${R("1.0 - (vary - theta * covxy) / vary")} AS var_reduction
       |FROM m3""".stripMargin

  /** Trending tokens: even/odd doc_id snapshots, smoothed log
    * frequency-ratio, top-k rising.
    */
  def tokenTrending(k: Int): String =
    s"""WITH t AS (
       |  SELECT CAST(doc_id % 2 AS INT) AS grp,
       |         UNNEST(string_split(text, ' ')) AS token
       |  FROM documents),
       |c AS (
       |  SELECT token,
       |         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
       |         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
       |  FROM t GROUP BY 1),
       |tot AS (SELECT SUM(c_old) AS t_old, SUM(c_new) AS t_new FROM c),
       |s AS (
       |  SELECT token, c_old, c_new,
       |         ${R("LN(((c_new + 1.0) / (t_new + 1.0)) / ((c_old + 1.0) / (t_old + 1.0)))")} AS score
       |  FROM c CROSS JOIN tot)
       |SELECT token, c_old, c_new, score,
       |       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, token) AS BIGINT) AS rank
       |FROM s ORDER BY score DESC, token LIMIT $k""".stripMargin

  /** Per-dim embedding drift between even/odd vec_id halves —
    * standardized |Δmean| over the rounded moments.
    */
  def embeddingDrift(dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |x AS (
       |  SELECT CAST(vec_id % 2 AS INT) AS grp, r.d, v[r.d + 1] AS x
       |  FROM e CROSS JOIN range(0, $dim) r(d)),
       |st AS (
       |  SELECT grp, d, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
       |  FROM x GROUP BY 1, 2),
       |m AS (
       |  SELECT grp, d, ${R("sx / n")} AS m,
       |         ${R("sxx / n - (sx / n) * (sx / n)")} AS v
       |  FROM st),
       |piv AS (
       |  SELECT d,
       |         MAX(CASE WHEN grp = 0 THEN m END) AS mean_a,
       |         MAX(CASE WHEN grp = 1 THEN m END) AS mean_b,
       |         MAX(CASE WHEN grp = 0 THEN v END) AS var_a,
       |         MAX(CASE WHEN grp = 1 THEN v END) AS var_b
       |  FROM m GROUP BY 1)
       |SELECT d, mean_a, mean_b, var_a, var_b,
       |       ${R("ABS(mean_b - mean_a) / sqrt((var_a + var_b) / 2.0 + 1.0e-9)")} AS drift
       |FROM piv ORDER BY d""".stripMargin

  /** Cross-document boilerplate: positional n-grams, Zipf-head
    * frequent set (document frequency ≥ minDf), per-doc hit ratio.
    */
  def boilerplate(n: Int, minDf: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $n),
       |g AS (
       |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${n - 1}),
       |    i -> array_to_string(t[i:i+${n - 1}], ' '))) AS gram
       |  FROM toks),
       |freq AS (
       |  SELECT gram FROM (
       |    SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
       |  WHERE df >= $minDf),
       |hits AS (
       |  SELECT doc_id, COUNT(*) AS bp_hits FROM g JOIN freq USING (gram) GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.t) - ${n - 1} AS BIGINT) AS ngrams,
       |       CAST(COALESCE(h.bp_hits, 0) AS BIGINT) AS bp_hits,
       |       ${R(s"COALESCE(h.bp_hits, 0) * 1.0 / (len(t.t) - ${n - 1})")} AS bp_ratio
       |FROM toks t LEFT JOIN hits h USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** Cluster-size histogram over the dedup pipeline's labels
    * (singletons included) — the pipeline oracle wrapped in two
    * grouping shells.
    */
  def dedupClusterStats(perms: Int, rowsPerBand: Int, minJaccard: Double): String =
    s"""SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
       |FROM (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz FROM (
       |${dedupPipeline(perms, rowsPerBand, minJaccard)}
       |  ) GROUP BY cluster)
       |GROUP BY sz ORDER BY sz""".stripMargin

  /** crossDupStream's batch twin: the dedupCross verdict restricted to
    * flagged docs, with the synthetic first event time (2024-01-01
    * epoch + doc_id seconds — the gate's convention).
    */
  def streamCrossDupBatch(perms: Int, rowsPerBand: Int, minJaccard: Double): String =
    s"""SELECT doc_id, 1704067200000000 + doc_id * 1000000 AS ts_us
       |FROM (
       |${dedupCross(perms, rowsPerBand, minJaccard)}
       |) WHERE flagged = 1 ORDER BY doc_id""".stripMargin

  /** semanticDedupStream's batch twin: the even-id embeddings are the
    * stored index (coarse quantizer = the evens with vec_id <
    * nCentroids — 8 cells at the gate's nCentroids=16, the
    * writeAnnIndex id-threshold convention on a filtered input; SQ8
    * stats from the same train block); the stream = odd ids
    * plus re-crawled copies of the indexed vectors under offset ids.
    * A streamed vector is flagged when its assigned cell holds an
    * indexed vector (other than itself) with R(cos(v, SQ8-recon)) ≥
    * `threshold`. Output = (vec_id, synthetic first event time).
    */
  def streamSemDedupBatch(nCentroids: Int, threshold: Double, offset: Long,
                          dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |idx AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |str AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1
       |        UNION ALL SELECT vec_id + $offset, v FROM idx),
       |c AS (SELECT vec_id AS cid, v AS cv FROM idx WHERE vec_id < $nCentroids),
       |st AS (
       |  SELECT r.d, ${R("MIN(h.v[r.d + 1])")} AS mn, ${R("MAX(h.v[r.d + 1])")} AS mx
       |  FROM (SELECT * FROM idx WHERE vec_id < $nCentroids) h
       |  CROSS JOIN range(0, $dim) r(d) GROUP BY r.d),
       |sp AS (SELECT d, mn,
       |              CASE WHEN mx > mn THEN 255.0 / (mx - mn) ELSE 0.0 END AS s
       |       FROM st),
       |ic0 AS (
       |  SELECT idx.vec_id, c.cid, ${R("list_cosine_similarity(idx.v, c.cv)")} AS ccos
       |  FROM idx CROSS JOIN c),
       |icells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ic0)
       |  WHERE crank = 1),
       |rx AS (
       |  SELECT i.vec_id, sp.d,
       |         sp.mn + CASE WHEN sp.s = 0 THEN 0 ELSE
       |           CAST(LEAST(255.0, GREATEST(0.0,
       |             FLOOR((i.v[sp.d + 1] - sp.mn) * sp.s + 0.5))) AS INTEGER) / sp.s END AS x
       |  FROM idx i CROSS JOIN sp),
       |rv AS (SELECT vec_id, LIST(x ORDER BY d) AS rv FROM rx GROUP BY vec_id),
       |sc0 AS (
       |  SELECT s.vec_id, c.cid, ${R("list_cosine_similarity(s.v, c.cv)")} AS ccos
       |  FROM str s CROSS JOIN c),
       |scells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM sc0)
       |  WHERE crank = 1),
       |hit AS (
       |  SELECT DISTINCT sc.vec_id
       |  FROM scells sc
       |  JOIN str sv ON sv.vec_id = sc.vec_id
       |  JOIN icells ic ON ic.cell = sc.cell AND ic.vec_id != sc.vec_id
       |  JOIN rv ON rv.vec_id = ic.vec_id
       |  WHERE ${R("list_cosine_similarity(sv.v, rv.rv)")} >= $threshold)
       |SELECT vec_id, 1704067200000000 + vec_id * 1000000 AS ts_us
       |FROM hit ORDER BY vec_id""".stripMargin

  /** Range search against the stored index: every same-cell indexed
    * vector with R(cos(query, SQ8-recon)) ≥ threshold. Quantizer,
    * cell assignment and reconstruction mirror the writeAnnIndex
    * conventions on the FULL build input (head-block codebooks and SQ
    * stats, rounded mins/maxes, clamp-to-edge codes).
    */
  def annRangeStored(nCentroids: Int, nCodewords: Int, nQueries: Int,
                     threshold: Double, dim: Int = 64): String = {
    val trainMax = math.max(nCentroids, nCodewords)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
       |st AS (
       |  SELECT r.d, ${R("MIN(h.v[r.d + 1])")} AS mn, ${R("MAX(h.v[r.d + 1])")} AS mx
       |  FROM (SELECT * FROM e WHERE vec_id < $trainMax) h
       |  CROSS JOIN range(0, $dim) r(d) GROUP BY r.d),
       |sp AS (SELECT d, mn,
       |              CASE WHEN mx > mn THEN 255.0 / (mx - mn) ELSE 0.0 END AS s
       |       FROM st),
       |ca0 AS (
       |  SELECT e.vec_id, c.cid, ${R("list_cosine_similarity(e.v, c.cv)")} AS ccos
       |  FROM e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
       |    FROM ca0)
       |  WHERE crank = 1),
       |rx AS (
       |  SELECT i.vec_id, sp.d,
       |         sp.mn + CASE WHEN sp.s = 0 THEN 0 ELSE
       |           CAST(LEAST(255.0, GREATEST(0.0,
       |             FLOOR((i.v[sp.d + 1] - sp.mn) * sp.s + 0.5))) AS INTEGER) / sp.s END AS x
       |  FROM e i CROSS JOIN sp),
       |rv AS (SELECT vec_id, LIST(x ORDER BY d) AS rv FROM rx GROUP BY vec_id),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |qq AS (SELECT q.qid, q.qv, cells.cell FROM q JOIN cells ON cells.vec_id = q.qid),
       |hits AS (
       |  SELECT qq.qid, ce.vec_id AS vid,
       |         ${R("list_cosine_similarity(qq.qv, rv.rv)")} AS cos
       |  FROM qq
       |  JOIN cells ce ON ce.cell = qq.cell AND ce.vec_id != qq.qid
       |  JOIN rv ON rv.vec_id = ce.vec_id)
       |SELECT qid, vid, cos FROM hits WHERE cos >= $threshold
       |ORDER BY qid, vid""".stripMargin
  }

  /** decontaminateStream's batch twin: contaminated docs (any shared
    * n-gram with the benchmark = docs with doc_id % m = 0) with their
    * synthetic first event time (2024-01-01 epoch + doc_id seconds —
    * the gate's convention).
    */
  def streamDecontaminateBatch(n: Int, m: Int): String =
    s"""WITH ${ngramsCte(n)},
       |bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % $m = 0),
       |hits AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bench USING (g))
       |SELECT doc_id, 1704067200000000 + doc_id * 1000000 AS ts_us
       |FROM hits ORDER BY doc_id""".stripMargin

  /** StreamOps.substrDupStreamBatch: even docs (synthetic event
    * times, the engine-portable 2024-01-01 + doc_id seconds
    * convention) probed against the odd half's `l`-token window gram
    * set — one row per doc carrying at least one witnessed window.
    */
  def streamSubstrDupBatch(l: Int): String =
    s"""WITH ${tokenWindowCtes(l)},
       |b AS (SELECT DISTINCT gram FROM w WHERE doc_id % 2 = 1),
       |f AS (SELECT DISTINCT doc_id FROM w
       |      WHERE doc_id % 2 = 0 AND gram IN (SELECT gram FROM b))
       |SELECT doc_id, 1704067200000000 + doc_id * 1000000 AS ts_us
       |FROM f ORDER BY doc_id""".stripMargin

  /** Repetition signals: duplicate-n-gram fraction + top-token
    * dominance. Grams here are NOT deduped (the fraction needs the raw
    * count), so this builds its own list instead of ngramsCte.
    */
  def textRepetition(n: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |tc AS (
       |  SELECT doc_id, tok, COUNT(*) AS c
       |  FROM (SELECT doc_id, UNNEST(t) AS tok FROM toks) GROUP BY 1, 2),
       |top AS (SELECT doc_id, MAX(c) AS m FROM tc GROUP BY 1),
       |g AS (
       |  SELECT doc_id, len(t) AS nt,
       |    list_transform(generate_series(1, len(t) - ${n - 1}),
       |      i -> array_to_string(t[i:i+${n - 1}], ' ')) AS grams
       |  FROM toks WHERE len(t) >= $n)
       |SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS ngrams,
       |  ${R("1.0 - len(list_distinct(g.grams)) / len(g.grams)")} AS dup_frac,
       |  ${R("top.m / g.nt")} AS top_tok_frac
       |FROM g JOIN top ON top.doc_id = g.doc_id
       |ORDER BY g.doc_id""".stripMargin

  /** Composite keep/drop filter — thresholds compare the ROUNDED
    * ratios, matching the Spark side exactly.
    */
  def textFilter(minTokens: Int, maxTokens: Int,
                 maxStop: Double, maxDup: Double): String =
    s"""WITH s AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
       |    ${R("len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for'))) / len(t)")} AS stop_ratio,
       |    ${R("1.0 - len(list_distinct(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) / (len(t) - 1)")} AS dup_frac
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |  WHERE len(t) >= 2)
       |SELECT doc_id, n_toks, stop_ratio, dup_frac,
       |  CAST(CASE WHEN n_toks BETWEEN $minTokens AND $maxTokens
       |            AND stop_ratio <= $maxStop AND dup_frac <= $maxDup
       |       THEN 1 ELSE 0 END AS INT) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  /** Unigram LM score: mean ln(corpus unigram probability) per doc.
    * Mirrors the Spark side's single-pass shape: per-(doc, tok) term
    * frequency first, vocab counts derived from tf, score = the
    * tf-weighted mean Σ tf·ln(n/total) / Σ tf (≡ the per-token mean).
    */
  val textLmScore: String =
    s"""WITH tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |c AS (SELECT tok, SUM(tf) AS n FROM tf GROUP BY tok),
       |tot AS (SELECT SUM(n) AS total FROM c)
       |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       |  ${R("SUM(tf.tf * ln(CAST(c.n AS DOUBLE) / tot.total)) / SUM(tf.tf)")} AS lm_score
       |FROM tf JOIN c ON c.tok = tf.tok CROSS JOIN tot
       |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin

  /** Winnowing CTEs: per-position k-gram polynomial hash (exact
    * BIGINT power sum, ONE final mod — equal to the Spark side's
    * per-step fold for k ≤ 8), windows of w hashes, rightmost-min
    * selection via (fp ASC, p DESC) rank. `sel ... rn = 1` rows are
    * the fingerprints; DISTINCT equals the change-detection dedup
    * (a position's winning window range is contiguous).
    */
  private def winnowCtes(k: Int, w: Int): String = {
    require(k <= 8, s"winnow oracle: k = $k overflows the BIGINT power sum")
    val terms = (0 until k).map { i =>
      val pow = BigInt(31).pow(k - 1 - i).toLong
      s"CAST(ascii(substr(text, p + $i, 1)) AS BIGINT) * $pow"
    }.mkString(" + ")
    s"""h AS (
       |  SELECT doc_id, p, CAST(($terms) % 1000000007 AS BIGINT) AS fp, nh
       |  FROM (SELECT doc_id, text, length(text) - ${k - 1} AS nh,
       |          UNNEST(generate_series(1, length(text) - ${k - 1})) AS p
       |        FROM documents WHERE length(text) >= $k)),
       |wins AS (
       |  SELECT doc_id, UNNEST(generate_series(1, GREATEST(1, nh - ${w - 1}))) AS j
       |  FROM (SELECT DISTINCT doc_id, nh FROM h)),
       |sel AS (
       |  SELECT wi.doc_id, wi.j, h.p, h.fp,
       |         ROW_NUMBER() OVER (PARTITION BY wi.doc_id, wi.j ORDER BY h.fp ASC, h.p DESC) AS rn
       |  FROM wins wi JOIN h ON h.doc_id = wi.doc_id AND h.p BETWEEN wi.j AND wi.j + ${w - 1})""".stripMargin
  }

  /** Winnowing fingerprints per doc (MOSS). */
  def docWinnow(k: Int, w: Int): String =
    s"""WITH ${winnowCtes(k, w)}
       |SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos, fp
       |FROM sel WHERE rn = 1
       |ORDER BY doc_id, pos""".stripMargin

  /** Substring-level near-dup pairs by shared winnow fingerprints;
    * fingerprints in more than maxDocFreq docs dropped first (the
    * ignore-ubiquitous rule, mirrored from the Spark side).
    */
  def dedupWinnow(k: Int, w: Int, minShared: Int, maxDocFreq: Long): String =
    s"""WITH ${winnowCtes(k, w)},
       |fps0 AS (SELECT DISTINCT doc_id, fp FROM sel WHERE rn = 1),
       |fps AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps0)
       |  WHERE df <= $maxDocFreq)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The shared repeated-L-gram span CTE chain ending in
    * `spans(doc_id, grp, span_start, span_end)` — ExactSubstr's
    * window identity: dup-substring coverage = dup-L-gram coverage.
    */
  /** The t/w window CTEs shared by every span builder: every
    * `l`-token window of every document as (doc_id, p, gram).
    */
  private def tokenWindowCtes(l: Int): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, i AS p, array_to_string(toks[i:i + ${l - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, toks, UNNEST(generate_series(1, len(toks) - ${l - 1})) AS i
       |        FROM t WHERE len(toks) >= $l))""".stripMargin

  /** Maximal-span merge over a preceding `st(doc_id, p)` CTE of
    * flagged window starts — ends in `spans(doc_id, grp, span_start,
    * span_end)`.
    */
  private def spanMergeCtes(l: Int): String =
    s"""m AS (
       |  SELECT doc_id, p,
       |         MAX(p + ${l - 1}) OVER (PARTITION BY doc_id ORDER BY p
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM st),
       |g AS (
       |  SELECT doc_id, p, SUM(CASE WHEN prev_end IS NULL OR p > prev_end + 1
       |                             THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |  FROM m),
       |spans AS (
       |  SELECT doc_id, grp, MIN(p) AS span_start, MAX(p) + ${l - 1} AS span_end
       |  FROM g GROUP BY doc_id, grp)""".stripMargin

  private def substringSpanCtes(l: Int): String =
    s"""${tokenWindowCtes(l)},
       |d AS (SELECT gram FROM w GROUP BY gram HAVING COUNT(*) >= 2),
       |st AS (SELECT doc_id, p FROM w WHERE gram IN (SELECT gram FROM d)),
       |${spanMergeCtes(l)}""".stripMargin

  /** Cross-corpus ExactSubstr vs the stored gram index: spans of the
    * even half covered by `l`-grams occurring in the odd half.
    */
  def dedupSubstringStored(l: Int): String =
    s"""WITH ${tokenWindowCtes(l)},
       |b AS (SELECT DISTINCT gram FROM w WHERE doc_id % 2 = 1),
       |st AS (SELECT doc_id, p FROM w
       |       WHERE doc_id % 2 = 0 AND gram IN (SELECT gram FROM b)),
       |${spanMergeCtes(l)}
       |SELECT doc_id, span_start, span_end,
       |       span_end - span_start + 1 AS span_toks
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** Cross-corpus ExactSubstr after a takedown: spans of the even
    * half covered by `l`-grams a SURVIVING reference doc witnesses —
    * reference = odd docs, removed = doc_id % 4 = 1, so survivors are
    * doc_id % 4 = 3. Shared with the post-compaction twin (compaction
    * must not change any probe answer).
    */
  def dedupSubstringTakedown(l: Int): String =
    s"""WITH ${tokenWindowCtes(l)},
       |b AS (SELECT DISTINCT gram FROM w WHERE doc_id % 4 = 3),
       |st AS (SELECT doc_id, p FROM w
       |       WHERE doc_id % 2 = 0 AND gram IN (SELECT gram FROM b)),
       |${spanMergeCtes(l)}
       |SELECT doc_id, span_start, span_end,
       |       span_end - span_start + 1 AS span_toks
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** Span-level decontamination: maximal merged coverage of `n`-grams
    * occurring in the benchmark half (doc_id % mod = 0).
    */
  def decontaminateSpans(n: Int, mod: Int): String =
    s"""WITH ${tokenWindowCtes(n)},
       |b AS (SELECT DISTINCT gram FROM w WHERE doc_id % $mod = 0),
       |st AS (SELECT doc_id, p FROM w WHERE gram IN (SELECT gram FROM b)),
       |${spanMergeCtes(n)}
       |SELECT doc_id, span_start, span_end,
       |       span_end - span_start + 1 AS span_toks
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** Per-source lexical diversity: TTR + distinct-2 over the token
    * and bigram streams.
    */
  val corpusDiversity: String =
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
       |uni AS (
       |  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types
       |  FROM (SELECT source, UNNEST(toks) AS tok FROM t) u GROUP BY source),
       |bi AS (
       |  SELECT source, COUNT(*) AS n_bigrams, COUNT(DISTINCT bg) AS n_bigram_types
       |  FROM (SELECT source, array_to_string(toks[i:i + 1], ' ') AS bg
       |        FROM (SELECT source, toks, UNNEST(generate_series(1, len(toks) - 1)) AS i
       |              FROM t WHERE len(toks) >= 2) wi) v
       |  GROUP BY source),
       |d AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
       |SELECT d.source, n_docs, n_tokens, n_types,
       |       ${R("n_types / n_tokens")} AS ttr,
       |       n_bigram_types,
       |       ${R("n_bigram_types / n_bigrams")} AS distinct_2
       |FROM d JOIN uni USING (source) JOIN bi USING (source)
       |ORDER BY d.source""".stripMargin

  /** ExactSubstr duplicated spans (Lee et al. 2022): maximal merged
    * coverage of corpus-repeated `l`-token windows, per document.
    */
  def dedupSubstringExact(l: Int): String =
    s"""WITH ${substringSpanCtes(l)}
       |SELECT doc_id, span_start, span_end,
       |       span_end - span_start + 1 AS span_toks
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** ExactSubstr strip: each document minus its duplicated spans,
    * with the n_toks/n_removed audit counts.
    */
  def dedupSubstringStrip(l: Int): String =
    s"""WITH ${substringSpanCtes(l)},
       |cov AS (SELECT doc_id, UNNEST(generate_series(span_start, span_end)) AS p
       |        FROM spans),
       |rem AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id),
       |tok AS (SELECT doc_id, UNNEST(toks) AS tk,
       |               generate_subscripts(toks, 1) AS p
       |        FROM t),
       |kept AS (
       |  SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS text_clean
       |  FROM (SELECT tok.* FROM tok ANTI JOIN cov USING (doc_id, p)) u
       |  GROUP BY doc_id)
       |SELECT t.doc_id, len(t.toks) AS n_toks,
       |       COALESCE(r.n_removed, 0) AS n_removed,
       |       COALESCE(k.text_clean, '') AS text_clean
       |FROM t
       |LEFT JOIN rem r USING (doc_id)
       |LEFT JOIN kept k ON k.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Bigram LM score: mirrors the Spark side's single-pass shape —
    * per-(doc, prev, tok) tf, corpus counts and prev-marginals derived
    * from it, score = tf-weighted mean ln(c_pt / c_p).
    */
  val textLmBigram: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id, tk[i] AS p, tk[i + 1] AS t
       |  FROM (SELECT doc_id, tk, UNNEST(generate_series(1, len(tk) - 1)) AS i
       |        FROM toks WHERE len(tk) >= 2)),
       |tf AS (SELECT doc_id, p, t, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
       |cpt AS (SELECT p, t, SUM(tf) AS c_pt FROM tf GROUP BY 1, 2),
       |cp AS (SELECT p, SUM(c_pt) AS c_p FROM cpt GROUP BY 1)
       |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
       |  ${R("SUM(tf.tf * ln(CAST(cpt.c_pt AS DOUBLE) / cp.c_p)) / SUM(tf.tf)")} AS lm2_score
       |FROM tf
       |JOIN cpt ON cpt.p = tf.p AND cpt.t = tf.t
       |JOIN cp ON cp.p = tf.p
       |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin

  /** Interpolated Kneser-Ney bigram score: the textLmBigram CTE chain
    * plus context/continuation stats, probability arithmetic
    * parenthesized exactly like the Spark column expression.
    */
  def textLmKneserNey(discount: Double): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id, tk[i] AS p, tk[i + 1] AS t
       |  FROM (SELECT doc_id, tk, UNNEST(generate_series(1, len(tk) - 1)) AS i
       |        FROM toks WHERE len(tk) >= 2)),
       |tf AS (SELECT doc_id, p, t, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
       |cpt AS MATERIALIZED (SELECT p, t, SUM(tf) AS c_pt FROM tf GROUP BY 1, 2),
       |ps AS (SELECT p, SUM(c_pt) AS c_p, COUNT(*) AS n1p FROM cpt GROUP BY 1),
       |ts AS (SELECT t, COUNT(*) AS n1t FROM cpt GROUP BY 1),
       |ty AS (SELECT COUNT(*) AS n_types FROM cpt)
       |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
       |  ${R(s"SUM(tf.tf * ln(GREATEST(cpt.c_pt - $discount, 0.0) / ps.c_p + (($discount * ps.n1p) / ps.c_p) * (ts.n1t / ty.n_types))) / SUM(tf.tf)")} AS kn_score
       |FROM tf
       |JOIN cpt ON cpt.p = tf.p AND cpt.t = tf.t
       |JOIN ps ON ps.p = tf.p
       |JOIN ts ON ts.t = tf.t
       |CROSS JOIN ty
       |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin

  /** BM25 retrieval: identical Robertson/Lucene arithmetic, score
    * rounded before the rank. dl/tf/df/N are integer-valued doubles
    * (exact sums), so both engines feed ln the same rationals.
    */
  /** The BM25 CTE chain ending in `br(doc_id, score, rank)` — shared
    * by [[textBm25]] and the hybrid-retrieval fusion oracle.
    */
  private def bm25Ctes(terms: Seq[String], k1: Double, b: Double,
                       where: String = ""): String = {
    val tfCols = terms.indices.map { i =>
      s"CAST(len(list_filter(t, x -> x = '${terms(i)}')) AS DOUBLE) AS tf_$i"
    }.mkString(",\n       |    ")
    val dfCols = terms.indices.map { i =>
      s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(",\n       |    ")
    val score = terms.indices.map { i =>
      s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * ${k1 + 1.0}) / " +
        s"(tf_$i + $k1 * (${1.0 - b} + $b * dl / avgdl))"
    }.mkString(" + ")
    s"""base AS (
       |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |        ${if (where.isEmpty) "" else s"WHERE $where"})),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
       |    $dfCols
       |  FROM base),
       |bscored AS (
       |  SELECT doc_id, ${R(score)} AS score FROM base CROSS JOIN stats),
       |br AS (
       |  SELECT doc_id, score,
       |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM bscored WHERE score > 0.0)""".stripMargin
  }

  def textBm25(terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25Ctes(terms, k1, b)}
       |SELECT doc_id, score, rank FROM br WHERE rank <= $k ORDER BY rank""".stripMargin

  /** DELTA scoring under pinned index statistics: stats (N, avgdl,
    * per-term df) from the INDEXED slice, tf/dl from the DELTA slice
    * — tonight's crawl triaged under yesterday's distribution.
    */
  def textBm25Delta(terms: Seq[String], k: Int, indexedPred: String,
                    deltaPred: String,
                    k1: Double = 1.2, b: Double = 0.75): String = {
    val tfCols = terms.indices.map { i =>
      s"CAST(len(list_filter(t, x -> x = '${terms(i)}')) AS DOUBLE) AS tf_$i"
    }.mkString(",\n       |    ")
    val dfCols = terms.indices.map { i =>
      s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(",\n       |    ")
    val score = terms.indices.map { i =>
      s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * ${k1 + 1.0}) / " +
        s"(tf_$i + $k1 * (${1.0 - b} + $b * dl / avgdl))"
    }.mkString(" + ")
    s"""WITH ibase AS (
       |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |        WHERE $indexedPred)),
       |istats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
       |    $dfCols
       |  FROM ibase),
       |dbase AS (
       |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |        WHERE $deltaPred)),
       |dscored AS (
       |  SELECT doc_id, ${R(score)} AS score FROM dbase CROSS JOIN istats),
       |dr AS (
       |  SELECT doc_id, score,
       |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM dscored WHERE score > 0.0)
       |SELECT doc_id, score, rank FROM dr WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  /** BM25 over a doc-predicate-filtered corpus — the stored-index
    * takedown oracle: removed docs leave the CANDIDATE set and the
    * corpus stats (N, avgdl, df), exactly what the masked index
    * recomputes.
    */
  def textBm25Filtered(terms: Seq[String], k: Int, where: String,
                       k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25Ctes(terms, k1, b, where)}
       |SELECT doc_id, score, rank FROM br WHERE rank <= $k ORDER BY rank""".stripMargin

  /** Hybrid retrieval: BM25 rank list ⊕ cosine rank list fused by
    * reciprocal-rank fusion, `Σ 1/(rrfK + rank)` (Cormack et al. 2009)
    * with an absent list contributing 0 — the standard sparse+dense
    * production retrieval stack. Query = the term set for the text
    * side, embedding vec_id 0 for the dense side (doc_id ≡ vec_id).
    */
  def hybridRrf(terms: Seq[String], nCand: Int, k: Int,
                rrfK: Int = 60): String =
    s"""WITH ${bm25Ctes(terms, 1.2, 0.75)},
       |tr AS (SELECT doc_id, rank FROM br WHERE rank <= $nCand),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 1),
       |vs AS (
       |  SELECT vec_id AS vid, ${R("list_cosine_similarity(qv, v)")} AS cos
       |  FROM e CROSS JOIN q WHERE vec_id != qid),
       |vr0 AS (
       |  SELECT vid AS doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |  FROM vs),
       |vr AS (SELECT doc_id, rank FROM vr0 WHERE rank <= $nCand),
       |f AS (
       |  SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
       |         ${R(s"COALESCE(1.0 / ($rrfK + tr.rank), 0.0) + COALESCE(1.0 / ($rrfK + vr.rank), 0.0)")} AS rrf
       |  FROM tr FULL OUTER JOIN vr ON vr.doc_id = tr.doc_id),
       |fr AS (
       |  SELECT doc_id, rrf,
       |         CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM f)
       |SELECT doc_id, rrf, rank FROM fr WHERE rank <= $k ORDER BY rank""".stripMargin

  /** Token-budget subsample: same md5-PRNG per-shard order and
    * exclusive running sum as the Spark side.
    */
  def sampleTokenBudget(tokenBudget: Long, seed: String): String =
    s"""WITH s AS (
       |  SELECT doc_id, source AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))) AS shuf
       |  FROM documents),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY shuf, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens, stream_pos
       |FROM p WHERE stream_pos < $tokenBudget
       |ORDER BY doc_id""".stripMargin

  /** [[sampleTokenBudget]] with BPE-token costs: per-doc n_tokens =
    * Σ per-word symbol-list lengths under the learned merges (the
    * bpeCtes word table; words absent from it — single chars — count
    * their whole-word fallback).
    */
  def sampleTokenBudgetBpe(nMerges: Int, tokenBudget: Long, seed: String): String =
    s"""WITH ${bpeCtes(nMerges)},
       |wc AS (
       |  SELECT doc_id, w, COUNT(*) AS c FROM (
       |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) u
       |  WHERE length(w) > 0 GROUP BY 1, 2),
       |dtok AS (
       |  SELECT wc.doc_id,
       |         CAST(SUM(wc.c * len(COALESCE(wn.syms, [wc.w]))) AS BIGINT) AS n_tokens
       |  FROM wc LEFT JOIN w$nMerges wn ON wn.w = wc.w GROUP BY 1),
       |s AS (
       |  SELECT d.doc_id, d.source AS shard, dt.n_tokens,
       |         MD5(CONCAT('$seed:', CAST(d.doc_id AS VARCHAR))) AS shuf
       |  FROM documents d JOIN dtok dt ON dt.doc_id = d.doc_id),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY shuf, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens, stream_pos
       |FROM p WHERE stream_pos < $tokenBudget
       |ORDER BY doc_id""".stripMargin

  /** [[sampleTokenBudgetBpe]] with WordPiece-token costs: per-doc
    * n_tokens = Σ per-word greedy segmentation lengths under the
    * trained vocabulary (the wtoks CTE; `[UNK]` words cost 1).
    */
  def sampleTokenBudgetWp(nMerges: Int, tokenBudget: Long, seed: String,
                          maxInputChars: Int = 12): String =
    s"""WITH ${wordpieceCtes(nMerges)}${wordpieceEncodeCtes(nMerges, maxInputChars)},
       |bwc AS (
       |  SELECT doc_id, w, COUNT(*) AS c FROM (
       |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) u
       |  WHERE length(w) > 0 GROUP BY 1, 2),
       |dtok AS (
       |  SELECT bwc.doc_id,
       |         CAST(SUM(bwc.c * len(wt.toks)) AS BIGINT) AS n_tokens
       |  FROM bwc JOIN wtoks wt ON wt.w = bwc.w GROUP BY 1),
       |s AS (
       |  SELECT d.doc_id, d.source AS shard, dt.n_tokens,
       |         MD5(CONCAT('$seed:', CAST(d.doc_id AS VARCHAR))) AS shuf
       |  FROM documents d JOIN dtok dt ON dt.doc_id = d.doc_id),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY shuf, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens, stream_pos
       |FROM p WHERE stream_pos < $tokenBudget
       |ORDER BY doc_id""".stripMargin

  /** SQL string literal with single quotes doubled — source names in
    * mixture weight maps are caller-supplied data values, not
    * identifiers under our control.
    */
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Mixture budgets as a CASE over escaped source literals (the SAME
    * floor(w·N) longs via [[graft.operators.TextOps.mixtureBudgets]]).
    */
  private def mixtureCases(weights: Map[String, Double],
                           totalBudget: Long): String =
    graft.operators.TextOps.mixtureBudgets(weights, totalBudget)
      .toSeq.sortBy(_._1)
      .map { case (s, b) => s"WHEN ${sqlStr(s)} THEN CAST($b AS BIGINT)" }
      .mkString(" ")

  /** Mixture sampling: per-source literal budgets, per-source seeded
    * order, exclusive running sum.
    */
  def sampleMixture(weights: Map[String, Double], totalBudget: Long,
                    seed: String): String = {
    val cases = mixtureCases(weights, totalBudget)
    s"""WITH s AS (
       |  SELECT doc_id, source AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CASE source $cases END AS budget,
       |    MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))) AS shuf
       |  FROM documents),
       |f AS (SELECT * FROM s WHERE budget IS NOT NULL),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY shuf, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM f)
       |SELECT doc_id, shard, n_tokens, budget, stream_pos
       |FROM p WHERE stream_pos < budget
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature mixture: weights ∝ pow(source token mass, 1/T),
    * r3'd, then the sampleMixture fill with SQL-derived budgets.
    */
  def sampleTemperature(temperature: Double, totalBudget: Long,
                        seed: String): String = {
    val invT = (1.0 / temperature).toString
    s"""WITH s AS (
       |  SELECT doc_id, source AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))) AS shuf
       |  FROM documents),
       |tot AS (SELECT shard, CAST(SUM(n_tokens) AS DOUBLE) AS nt FROM s GROUP BY 1),
       |z AS (SELECT SUM(pow(nt, $invT)) AS z FROM tot),
       |b AS (
       |  SELECT shard,
       |         CAST(FLOOR(${R(s"pow(nt, $invT) / z")} * $totalBudget) AS BIGINT) AS budget
       |  FROM tot CROSS JOIN z),
       |f AS (SELECT s.*, b.budget FROM s JOIN b USING (shard)),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY shuf, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM f)
       |SELECT doc_id, shard, n_tokens, budget, stream_pos
       |FROM p WHERE stream_pos < budget
       |ORDER BY doc_id""".stripMargin
  }

  /** One-row corpus report. */
  val corpusStats: String =
    s"""WITH t AS (
       |  SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS vocab
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)),
       |d AS (
       |  SELECT COUNT(*) AS n_docs, COUNT(DISTINCT MD5(text)) AS n_unique_docs
       |  FROM documents)
       |SELECT d.n_docs, d.n_unique_docs, t.n_tokens, t.vocab,
       |  ${R("CAST(t.n_tokens AS DOUBLE) / d.n_docs")} AS avg_tokens,
       |  ${R("1.0 - CAST(d.n_unique_docs AS DOUBLE) / d.n_docs")} AS dup_rate
       |FROM d CROSS JOIN t""".stripMargin

  /** Unigram Shannon entropy per doc: H = ln(n) − Σ tf·ln(tf) / n. */
  val textEntropy: String =
    s"""WITH tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS uniq_tokens,
       |  ${R("ln(CAST(SUM(tf) AS DOUBLE)) - SUM(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) / SUM(tf)")} AS entropy
       |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Cross-corpus near-dup: corpus = odd doc_ids, reference = even
    * (the gate's split of the documents table). Same minhash/band CTEs
    * over the full table; candidates restricted to corpus×reference.
    */
  /** `refCond` restricts the REFERENCE (b) side — the default is the
    * gates' even-id training set; the takedown gates subtract the
    * tombstoned ids from it.
    */
  def dedupCross(perms: Int, rowsPerBand: Int, minJaccard: Double,
                 refCond: String = "b.doc_id % 2 = 0"): String =
    s"""WITH ${minhashCtes(perms, rowsPerBand)},
       |xcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |  WHERE a.doc_id % 2 = 1 AND $refCond),
       |est AS (
       |  SELECT p.doc_a, p.doc_b,
       |         ${R(s"SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / CAST($perms AS DOUBLE)")} AS je
       |  FROM xcand p
       |  JOIN mh ma ON ma.doc_id = p.doc_a
       |  JOIN mh mb ON mb.doc_id = p.doc_b AND mb.p = ma.p
       |  GROUP BY p.doc_a, p.doc_b),
       |hits AS (
       |  SELECT doc_a AS doc_id, COUNT(*) AS ref_dups, MIN(doc_b) AS dup_of
       |  FROM est WHERE je >= $minJaccard GROUP BY doc_a)
       |SELECT d.doc_id, CAST(COALESCE(h.ref_dups, 0) AS BIGINT) AS ref_dups,
       |       CAST(COALESCE(h.dup_of, -1) AS BIGINT) AS dup_of,
       |       CAST(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS flagged
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       |LEFT JOIN hits h ON h.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The packed token stream's content check: same running sum as
    * [[packSequences]], tokens positioned `stream_pos + i − 1`, one
    * row per (shard, seq) with count + md5 of the space-joined
    * stream-ordered tokens.
    */
  def packTokenStream(budget: Int): String =
    s"""WITH s AS (
       |  SELECT doc_id, source AS shard, string_split(text, ' ') AS t
       |  FROM documents),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(len(t)) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s),
       |tk AS (
       |  SELECT shard, stream_pos + u.i - 1 AS pos, u.tok
       |  FROM (SELECT shard, stream_pos,
       |          UNNEST(list_transform(generate_series(1, len(t)),
       |            i -> {'i': i, 'tok': t[i]})) AS u
       |        FROM p))
       |SELECT shard, pos // $budget AS seq, COUNT(*) AS n_tokens,
       |       MD5(STRING_AGG(tok, ' ' ORDER BY pos)) AS fp
       |FROM tk GROUP BY 1, 2 ORDER BY shard, seq""".stripMargin

  /** Sequence packing: per-shard running token sum (CAST to BIGINT —
    * DuckDB window SUM yields HUGEINT) → integer-division chunk ids.
    */
  def packSequences(budget: Int): String =
    s"""WITH s AS (
       |  SELECT doc_id, source AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens,
       |  stream_pos // $budget AS start_seq,
       |  stream_pos % $budget AS start_offset,
       |  (stream_pos + n_tokens - 1) // $budget AS end_seq
       |FROM p ORDER BY doc_id""".stripMargin

  /** Tokenizer-real packing: packSequences with per-doc BPE token
    * counts from the bpeEncode chain (final-round symbol state).
    */
  def packSequencesBpe(budget: Int, nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |dt AS (
       |  SELECT doc_id, ws, UNNEST(generate_series(1, len(ws))) AS i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |tok AS (
       |  SELECT dt.doc_id, dt.i,
       |         CASE WHEN length(dt.ws[dt.i]) = 0 THEN CAST([] AS VARCHAR[])
       |              ELSE COALESCE(wn.syms, [dt.ws[dt.i]]) END AS toks
       |  FROM dt LEFT JOIN w$nMerges wn ON wn.w = dt.ws[dt.i]),
       |bc AS (
       |  SELECT doc_id, CAST(len(flatten(LIST(toks ORDER BY i))) AS BIGINT) AS n_tokens
       |  FROM tok GROUP BY doc_id),
       |s AS (
       |  SELECT d.doc_id, d.source AS shard, bc.n_tokens
       |  FROM documents d JOIN bc ON bc.doc_id = d.doc_id),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens,
       |  stream_pos // $budget AS start_seq,
       |  stream_pos % $budget AS start_offset,
       |  (stream_pos + n_tokens - 1) // $budget AS end_seq
       |FROM p ORDER BY doc_id""".stripMargin

  /** Shuffled packing: identical to packSequences but the per-shard
    * stream order is the md5-PRNG key (hex strings compare identically
    * in any engine), doc_id tie-break.
    */
  def packShuffled(budget: Int, seed: String): String =
    s"""WITH s AS (
       |  SELECT doc_id, source AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))) AS shuf
       |  FROM documents),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY shuf, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens,
       |  stream_pos // $budget AS start_seq,
       |  stream_pos % $budget AS start_offset,
       |  (stream_pos + n_tokens - 1) // $budget AS end_seq
       |FROM p ORDER BY doc_id""".stripMargin

  /** Curriculum packing: the per-shard stream order is the rounded
    * quality score (textQuality's exact formula), doc_id tie-break.
    */
  def packCurriculum(budget: Int): String =
    s"""WITH q AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
       |    ${R("(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / length(text)")} AS alpha_ratio,
       |    ${R("len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))")} AS uniq_ratio,
       |    ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS stop_ratio,
       |    source AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, shard, n_tokens,
       |    ${R("alpha_ratio * 0.4 + uniq_ratio * 0.2 + (1.0 - stop_ratio) * 0.2 + CASE WHEN chars BETWEEN 100 AND 400 THEN 0.2 ELSE 0.1 END")} AS score
       |  FROM q),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY score, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM s)
       |SELECT doc_id, shard, n_tokens,
       |  stream_pos // $budget AS start_seq,
       |  stream_pos % $budget AS start_offset,
       |  (stream_pos + n_tokens - 1) // $budget AS end_seq,
       |  score
       |FROM p ORDER BY doc_id""".stripMargin

  /** ml_feed summary oracle: per-key X/y sample shapes + checksums,
    * float-cast exactly like the feed's arrays.
    */
  def mlFeed(nX: Int, nY: Int): String =
    s"""WITH $daily,
       |numbered AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily)
       |SELECT user_id,
       |  COUNT(*) FILTER (WHERE rn_end > $nY) AS x_n,
       |  COUNT(*) FILTER (WHERE rn_end <= $nY) AS y_n,
       |  ${R("SUM(CAST(CAST(v AS FLOAT) AS DOUBLE)) FILTER (WHERE rn_end > " + nY + ")")} AS x_sum,
       |  ${R("SUM(CAST(CAST(v AS FLOAT) AS DOUBLE)) FILTER (WHERE rn_end <= " + nY + ")")} AS y_sum
       |FROM numbered WHERE rn_end <= ${nX + nY}
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** writeShards→batches roundtrip oracle: with ONE key-sorted shard
    * (how the gate writes it), MlFeed.batches assembles batch
    * `rank(user_id) div batchSize` — reproduced here as a window rank
    * over per-user X/y subtotals. Per-user sums are float-cast exactly
    * like the feed's arrays; batch checksums sum the per-user
    * subtotals, the same association order as the gate's nested
    * `aggregate` fold.
    */
  def mlFeedBatches(nX: Int, nY: Int, batchSize: Int): String =
    s"""WITH $daily,
       |numbered AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily),
       |per_user AS (
       |  SELECT user_id,
       |    COALESCE(SUM(CAST(CAST(v AS FLOAT) AS DOUBLE)) FILTER (WHERE rn_end > $nY), 0.0) AS x_sum,
       |    COALESCE(SUM(CAST(CAST(v AS FLOAT) AS DOUBLE)) FILTER (WHERE rn_end <= $nY), 0.0) AS y_sum
       |  FROM numbered WHERE rn_end <= ${nX + nY}
       |  GROUP BY user_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY user_id) - 1 AS rk FROM per_user)
       |SELECT CAST(rk // $batchSize AS BIGINT) AS batch,
       |       COUNT(*) AS n,
       |       ${R("SUM(x_sum)")} AS xs_sum,
       |       ${R("SUM(y_sum)")} AS ys_sum
       |FROM ranked GROUP BY 1 ORDER BY batch""".stripMargin

  /** Multi-shard roundtrip oracle: shard = the explicit md5 bucket
    * (the exact MlFeed.shardOf arithmetic — first 8 md5 hex chars of
    * "shard:" + key as a BIGINT, mod nShards), batch = rank within
    * shard div batchSize. Per-user sums float-cast like the feed's
    * arrays; batch checksums sum per-user subtotals in user order,
    * matching the gate's nested `aggregate` fold.
    */
  def mlFeedBatchesSharded(nX: Int, nY: Int, nShards: Int, batchSize: Int): String =
    s"""WITH $daily,
       |numbered AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily),
       |per_user AS (
       |  SELECT user_id,
       |    COALESCE(SUM(CAST(CAST(v AS FLOAT) AS DOUBLE)) FILTER (WHERE rn_end > $nY), 0.0) AS x_sum,
       |    COALESCE(SUM(CAST(CAST(v AS FLOAT) AS DOUBLE)) FILTER (WHERE rn_end <= $nY), 0.0) AS y_sum
       |  FROM numbered WHERE rn_end <= ${nX + nY}
       |  GROUP BY user_id),
       |sharded AS (
       |  SELECT *,
       |    CAST(CONCAT('0x', SUBSTR(MD5(CONCAT('shard:', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % $nShards AS shard
       |  FROM per_user),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY user_id) - 1 AS rk
       |  FROM sharded)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |       CAST(rk // $batchSize AS BIGINT) AS batch,
       |       COUNT(*) AS n,
       |       ${R("SUM(x_sum)")} AS xs_sum,
       |       ${R("SUM(y_sum)")} AS ys_sum
       |FROM ranked GROUP BY 1, 2 ORDER BY shard, batch""".stripMargin

  /** Multimodal feature oracle: byte-bucket histogram == ascii%16
    * histogram for the ascii corpus.
    */
  val multimodalFeatures: String =
    """SELECT media_id, CAST(ascii(substr(text, i, 1)) % 16 AS INTEGER) AS bucket,
      |       COUNT(*) AS cnt
      |FROM (SELECT doc_id AS media_id, text,
      |        UNNEST(generate_series(1, length(text))) AS i
      |      FROM documents)
      |GROUP BY 1, 2 ORDER BY media_id, bucket""".stripMargin

  /** Batch twin of the streaming tumbling-window aggregate. */
  val streamWindowAgg: String =
    s"""SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       |       COUNT(*) AS n, ${R("SUM(value)")} AS v_sum
       |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin

  def metricsOverall(half: Int, window: Int, horizon: Int): String =
    s"""WITH ${forecastCtes(half, window, horizon)},
       |m AS (SELECT *, AVG(v_actual) OVER () AS mu FROM joined)
       |SELECT COUNT(*) AS n,
       |       ${R("AVG((v_hat - v_actual) * (v_hat - v_actual))")} AS mse,
       |       ${R("AVG(ABS(v_hat - v_actual))")} AS mae,
       |       ${R("1.0 - SUM((v_hat - v_actual) * (v_hat - v_actual)) / NULLIF(SUM((v_actual - mu) * (v_actual - mu)), 0)")} AS r2
       |FROM m""".stripMargin

  /** TPC-H Q5-style revenue by nation within a region. */
  val q5RegionRevenue: String =
    s"""SELECT n.n_name,
       |  ${R("CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)", 2)} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'ASIA'
       |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  /** TPC-H Q14-style promotion revenue share. */
  val q6Revenue: String =
    s"""SELECT
       |  ${R("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND CAST(l_discount AS DECIMAL(4,2)) >= CAST(0.05 AS DECIMAL(4,2))
       |  AND CAST(l_discount AS DECIMAL(4,2)) <= CAST(0.07 AS DECIMAL(4,2))
       |  AND l_quantity < 24""".stripMargin

  val q14PromoShare: String = {
    val disc = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    s"""SELECT
       |  ${R(s"CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $disc ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) * 100.0 / CAST(SUM($disc) AS DOUBLE)")} AS promo_share,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'""".stripMargin
  }

  /** Every stride-th byte offset of each payload as a "frame". */
  def multimodalFrameSample(stride: Int): String =
    s"""SELECT doc_id AS media_id, CAST(o AS BIGINT) AS frame_off,
       |       CAST(ascii(substr(text, CAST(o + 1 AS INTEGER), 1)) AS BIGINT) AS frame_val
       |FROM (SELECT doc_id, text, UNNEST(generate_series(0, length(text) - 1, $stride)) AS o
       |      FROM documents)
       |ORDER BY media_id, frame_off""".stripMargin

  /** Aspect-preserving resize planning on the typed metadata. */
  def multimodalResize(maxDim: Int): String =
    s"""SELECT media_id, w, h,
       |  CAST(CASE WHEN m <= $maxDim THEN w ELSE FLOOR(w * $maxDim / m) END AS BIGINT) AS out_w,
       |  CAST(CASE WHEN m <= $maxDim THEN h ELSE FLOOR(h * $maxDim / m) END AS BIGINT) AS out_h
       |FROM (
       |  SELECT doc_id AS media_id,
       |         CAST(doc_id % 64 + 32 AS BIGINT) AS w,
       |         CAST(doc_id % 48 + 24 AS BIGINT) AS h,
       |         GREATEST(CAST(doc_id % 64 + 32 AS BIGINT), CAST(doc_id % 48 + 24 AS BIGINT)) AS m
       |  FROM documents)
       |ORDER BY media_id""".stripMargin

  /** Per-modality corpus composition over the mixed-modality ingest
    * (modality = doc_id % 3 → image/audio/video; duration_ms = 40
    * ms/byte for time media — Multimodal.ingestMixed's stub rates).
    */
  val multimodalStats: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       |    CAST(length(text) AS BIGINT) AS nb,
       |    CASE WHEN doc_id % 3 != 0 THEN CAST(length(text) * 40 AS BIGINT) END AS dur
       |  FROM documents)
       |SELECT modality, COUNT(*) AS n_items,
       |       CAST(SUM(nb) AS BIGINT) AS total_bytes,
       |       ${R("AVG(nb)")} AS avg_bytes,
       |       MAX(nb) AS max_bytes,
       |       CAST(COALESCE(SUM(dur), 0) AS BIGINT) AS total_duration_ms
       |FROM m GROUP BY modality ORDER BY modality""".stripMargin

  /** Per-modality byte-budget sample: the sampleTokenBudget machinery
    * (seeded md5 order, exclusive running sum) with payload bytes as
    * the cost and the modality as the shard.
    */
  def multimodalBudget(byteBudget: Long, seed: String,
                       removedPred: String = "FALSE"): String =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       |    CAST(length(text) AS BIGINT) AS n_bytes,
       |    MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))) AS shuf
       |  FROM documents WHERE NOT ($removedPred)),
       |p AS (
       |  SELECT *, CAST(COALESCE(SUM(n_bytes) OVER (
       |      PARTITION BY modality ORDER BY shuf, media_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS stream_pos
       |  FROM m)
       |SELECT media_id, modality, n_bytes, stream_pos
       |FROM p WHERE stream_pos < $byteBudget
       |ORDER BY media_id""".stripMargin

  /** The stored media index's dedup verdicts as a recompute over the
    * mixed ingest — survivors only when `removedPred` masks a
    * takedown (masking precedes the digest windows, exactly the
    * serve path's maskedMediaIndex order). One-shot ≡ two-batch
    * append ≡ masked ≡ compacted, so every lifecycle gate shares it.
    */
  def mediaDedupStored(removedPred: String = "FALSE"): String =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, md5(text) AS digest,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality
       |  FROM documents WHERE NOT ($removedPred))
       |SELECT media_id, digest, modality,
       |       COUNT(*) OVER (PARTITION BY digest) AS n_copies,
       |       CASE WHEN media_id = MIN(media_id) OVER (PARTITION BY digest) THEN 1 ELSE 0 END AS keep
       |FROM m ORDER BY media_id""".stripMargin

  /** Per-series OLS fit (guarded covar/var formulation). */
  val fitLinear: String = {
    val slope = "COVAR_POP(v, t) / NULLIF(VAR_POP(t), 0)"
    s"""WITH $daily,
       |d AS (SELECT user_id, v, CAST(day - DATE '1970-01-01' AS DOUBLE) AS t FROM daily)
       |SELECT user_id,
       |  ${R(slope)} AS slope,
       |  ${R(s"AVG(v) - ($slope) * AVG(t)")} AS intercept,
       |  ${R("COVAR_POP(v, t) * COVAR_POP(v, t) / NULLIF(VAR_POP(t) * VAR_POP(v), 0)")} AS r2,
       |  COUNT(*) AS n_days
       |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Theta-method forecast: rounded OLS (a, b), rounded theta-2 line,
    * list_reduce SES with EwmaFold's exact arithmetic, averaged
    * forecast — every composed value rounded before reuse, mirroring
    * TimeSeries.theta.
    */
  def theta(alpha: Double, horizon: Int): String = {
    val slope = "COVAR_POP(v, t) / NULLIF(VAR_POP(t), 0)"
    s"""WITH $daily,
       |d AS (SELECT user_id, day, v, CAST(day - DATE '1970-01-01' AS DOUBLE) AS t FROM daily),
       |fit AS (
       |  SELECT user_id, ${R(slope)} AS b,
       |         ${R(s"AVG(v) - ($slope) * AVG(t)")} AS a,
       |         MAX(day) AS last_day
       |  FROM d GROUP BY user_id),
       |th AS (
       |  SELECT d.user_id, d.day, fit.a, fit.b, fit.last_day,
       |         ${R("2.0 * d.v - (fit.a + fit.b * d.t)")} AS th2
       |  FROM d JOIN fit USING (user_id)),
       |vals AS (
       |  SELECT user_id, MIN(a) AS a, MIN(b) AS b, MIN(last_day) AS last_day,
       |         LIST(th2 ORDER BY day) AS vs
       |  FROM th GROUP BY user_id),
       |s AS (
       |  SELECT user_id, a, b, last_day,
       |         ${R(s"list_reduce(vs, (acc, x) -> acc * ${1 - alpha} + x * $alpha)")} AS ses
       |  FROM vals)
       |SELECT user_id, b AS drift, ses,
       |       ${R(s"0.5 * (a + b * CAST((last_day + $horizon) - DATE '1970-01-01' AS DOUBLE)) + 0.5 * ses")} AS forecast
       |FROM s ORDER BY user_id""".stripMargin
  }

  /** OLS forecast `horizon` days past each series' end. */
  def predictLinear(horizon: Int): String = {
    val slope = "COVAR_POP(v, t) / NULLIF(VAR_POP(t), 0)"
    s"""WITH $daily,
       |d AS (SELECT user_id, day, v, CAST(day - DATE '1970-01-01' AS DOUBLE) AS t FROM daily),
       |fit AS (
       |  SELECT user_id, $slope AS slope,
       |         AVG(v) - ($slope) * AVG(t) AS intercept,
       |         MAX(day) AS last_day
       |  FROM d GROUP BY user_id)
       |SELECT user_id, (last_day + CAST(h AS INTEGER)) AS day,
       |       ${R("intercept + slope * CAST((last_day + CAST(h AS INTEGER)) - DATE '1970-01-01' AS DOUBLE)")} AS v_hat
       |FROM fit CROSS JOIN generate_series(1, $horizon) AS t(h)
       |ORDER BY user_id, day""".stripMargin
  }

  /** Detrended series minus its per-(key, dow) mean. */
  def deseasonalize(half: Int): String =
    s"""WITH $daily, ${trendCte(half)}, $detrendCte,
       |d AS (
       |  SELECT *, CAST((day - DATE '1970-01-05') % 7 AS BIGINT) AS dow FROM det),
       |w AS (
       |  SELECT user_id, day, dow, detrended,
       |         ${R("AVG(detrended) OVER (PARTITION BY user_id, dow)")} AS seasonal
       |  FROM d)
       |SELECT user_id, day, dow, detrended, seasonal,
       |       ${R("detrended - seasonal")} AS deseasonal
       |FROM w ORDER BY user_id, day""".stripMargin

  /** Per-key temporal split: last testDays test, prior valDays val. */
  def splitTemporal(valDays: Int, testDays: Int): String =
    s"""WITH $daily,
       |m AS (
       |  SELECT user_id, day, v, MAX(day) OVER (PARTITION BY user_id) AS maxd
       |  FROM daily)
       |SELECT user_id, day, v,
       |       CASE WHEN day > maxd - $testDays THEN 'test'
       |            WHEN day > maxd - ${testDays + valDays} THEN 'val'
       |            ELSE 'train' END AS subset
       |FROM m ORDER BY user_id, day""".stripMargin

  /** Deseasonalized z-anomalies: the deseasonalize chain + per-key
    * standardization of the residual, |z| filter.
    */
  def anomaliesDeseasonal(half: Int, z: Double): String =
    s"""WITH $daily, ${trendCte(half)}, $detrendCte,
       |d AS (
       |  SELECT *, CAST((day - DATE '1970-01-05') % 7 AS BIGINT) AS dow FROM det),
       |w AS (
       |  SELECT user_id, day, detrended,
       |         ${R("AVG(detrended) OVER (PARTITION BY user_id, dow)")} AS seasonal
       |  FROM d),
       |ds AS (
       |  SELECT user_id, day, ${R("detrended - seasonal")} AS deseasonal FROM w),
       |st AS (
       |  SELECT user_id, day, deseasonal,
       |         ${R("AVG(deseasonal) OVER (PARTITION BY user_id)")} AS mean,
       |         ${R("STDDEV_POP(deseasonal) OVER (PARTITION BY user_id)")} AS std
       |  FROM ds)
       |SELECT user_id, day, deseasonal,
       |       ${R("(deseasonal - mean) / NULLIF(std, 0)")} AS scaled
       |FROM st
       |WHERE ABS(${R("(deseasonal - mean) / NULLIF(std, 0)")}) >= $z
       |ORDER BY user_id, day""".stripMargin

  /** TPC-H Q1-style pricing summary. Decimal-exact sums cast to DOUBLE
    * (identical IEEE conversion both engines) then floor-rounded.
    */
  val q1Pricing: String = {
    def sumQty = "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)"
    def sumPrice = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"
    def sumDisc = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"
    def sumCharge = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)"
    def sumDiscount = "CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)"
    s"""SELECT l_returnflag, l_linestatus,
       |  ${R(sumQty, 2)} AS sum_qty,
       |  ${R(sumPrice, 2)} AS sum_base_price,
       |  ${R(sumDisc, 2)} AS sum_disc_price,
       |  ${R(sumCharge, 2)} AS sum_charge,
       |  ${R(s"$sumQty / COUNT(*)")} AS avg_qty,
       |  ${R(s"$sumPrice / COUNT(*)")} AS avg_price,
       |  ${R(s"$sumDiscount / COUNT(*)")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** The scored frame shared by the eval gates: stop_ratio feature vs
    * the lang='en' label (mirrors Eval.stopRatioScored).
    */
  private val scoredCte: String =
    s"""scored AS (
       |  SELECT ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS score,
       |         lang = 'en' AS label
       |  FROM documents),
       |per AS (
       |  SELECT score,
       |         SUM(CASE WHEN label THEN 1 ELSE 0 END) AS np,
       |         SUM(CASE WHEN label THEN 0 ELSE 1 END) AS nn
       |  FROM scored GROUP BY score)""".stripMargin

  /** Group-fairness audit: per-source n / n_pos / pos_rate /
    * avg_score / group-restricted tie-aware AUC (NULL on a
    * single-class group — the CASE fires before the division, matching
    * the engine's guard).
    */
  val evalFairness: String =
    s"""WITH scored AS (
       |  SELECT source AS grp,
       |         ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS score,
       |         lang = 'en' AS label
       |  FROM documents),
       |per AS (
       |  SELECT grp, score,
       |         SUM(CASE WHEN label THEN 1 ELSE 0 END) AS np,
       |         SUM(CASE WHEN label THEN 0 ELSE 1 END) AS nn
       |  FROM scored GROUP BY grp, score),
       |c AS (
       |  SELECT grp, score, np, nn,
       |         COALESCE(SUM(nn) OVER (PARTITION BY grp ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below_n
       |  FROM per)
       |SELECT grp, CAST(SUM(np + nn) AS BIGINT) AS n,
       |       CAST(SUM(np) AS BIGINT) AS n_pos,
       |       ${R("CAST(SUM(np) AS DOUBLE) / CAST(SUM(np + nn) AS DOUBLE)")} AS pos_rate,
       |       ${R("SUM(CAST(np + nn AS DOUBLE) * score) / CAST(SUM(np + nn) AS DOUBLE)")} AS avg_score,
       |       CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
       |         ${R("SUM(CAST(np AS DOUBLE) * (CAST(below_n AS DOUBLE) + CAST(nn AS DOUBLE) * 0.5)) / (CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE))")}
       |       END AS auc_grp
       |FROM c GROUP BY grp ORDER BY grp""".stripMargin

  /** Equalized-odds audit at a fixed threshold: per-source TPR/FPR of
    * "positive when score ≥ t", NULL when the group lacks the class.
    */
  def evalFairnessOdds(thresh: Double): String =
    s"""WITH scored AS (
       |  SELECT source AS grp,
       |         ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS score,
       |         lang = 'en' AS label
       |  FROM documents)
       |SELECT grp,
       |       CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
       |       CASE WHEN SUM(CASE WHEN label THEN 1 ELSE 0 END) > 0 THEN
       |         ${R(s"CAST(SUM(CASE WHEN label AND score >= $thresh THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)")}
       |       END AS tpr,
       |       CASE WHEN SUM(CASE WHEN label THEN 0 ELSE 1 END) > 0 THEN
       |         ${R(s"CAST(SUM(CASE WHEN NOT label AND score >= $thresh THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS DOUBLE)")}
       |       END AS fpr
       |FROM scored GROUP BY grp ORDER BY grp""".stripMargin

  /** Streaming BM25 triage batch twin: delta docs scored under the
    * indexed slice's stats, kept at or above `minScore`.
    */
  def streamBm25Batch(terms: Seq[String], minScore: Double,
                      indexedPred: String, deltaPred: String,
                      k1: Double = 1.2, b: Double = 0.75): String = {
    val tfCols = terms.indices.map { i =>
      s"CAST(len(list_filter(t, x -> x = '${terms(i)}')) AS DOUBLE) AS tf_$i"
    }.mkString(",\n       |    ")
    val dfCols = terms.indices.map { i =>
      s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(",\n       |    ")
    val score = terms.indices.map { i =>
      s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * ${k1 + 1.0}) / " +
        s"(tf_$i + $k1 * (${1.0 - b} + $b * dl / avgdl))"
    }.mkString(" + ")
    s"""WITH ibase AS (
       |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |        WHERE $indexedPred)),
       |istats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
       |    $dfCols
       |  FROM ibase),
       |dbase AS (
       |  SELECT doc_id,
       |         CAST(1704067200000000 + doc_id * 1000000 AS BIGINT) AS ts_us,
       |         CAST(len(t) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |        WHERE $deltaPred))
       |SELECT doc_id, ts_us, score FROM (
       |  SELECT doc_id, ts_us, ${R(score)} AS score
       |  FROM dbase CROSS JOIN istats)
       |WHERE score >= $minScore ORDER BY doc_id""".stripMargin
  }

  /** PSI between even/odd doc halves: reference-half decile edges
    * (quantile_cont, r3'd), Laplace-smoothed shares, per-bin
    * contributions with the rounded total on every row.
    */
  def evalPsi(nBins: Int): String = {
    val qs = (1 until nBins).map(i => i.toDouble / nBins).mkString("[", ", ", "]")
    s"""WITH s AS (
       |  SELECT CAST(doc_id % 2 AS INT) AS grp,
       |         ${R("len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for'))) / len(string_split(text, ' '))")} AS score
       |  FROM documents),
       |ea AS (SELECT quantile_cont(score, $qs) AS e FROM s WHERE grp = 0),
       |e2 AS (SELECT list_transform(e, x -> FLOOR(x * 1000 + 0.5001) / 1000) AS e FROM ea),
       |b AS (
       |  SELECT grp, len(list_filter((SELECT e FROM e2), x -> x < score)) AS bin
       |  FROM s),
       |c AS (
       |  SELECT bin,
       |         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_a,
       |         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_b
       |  FROM b GROUP BY 1),
       |sp AS (SELECT i AS bin FROM range(0, $nBins) r(i)),
       |a2 AS (
       |  SELECT sp.bin, COALESCE(c.n_a, 0) AS n_a, COALESCE(c.n_b, 0) AS n_b
       |  FROM sp LEFT JOIN c ON c.bin = sp.bin),
       |t AS (SELECT *, SUM(n_a) OVER () AS ta, SUM(n_b) OVER () AS tb FROM a2),
       |f AS (
       |  SELECT bin, n_a, n_b,
       |         (n_a + 1.0) / (ta + $nBins.0) AS p_a,
       |         (n_b + 1.0) / (tb + $nBins.0) AS p_b
       |  FROM t)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a,
       |       CAST(n_b AS BIGINT) AS n_b,
       |       ${R("(p_a - p_b) * LN(p_a / p_b)")} AS contrib,
       |       ${R("SUM((p_a - p_b) * LN(p_a / p_b)) OVER ()")} AS psi
       |FROM f ORDER BY bin""".stripMargin
  }

  /** Two-sample KS over the per-score collapsed frame: max rounded
    * CDF gap.
    */
  val evalKs: String =
    s"""WITH $scoredCte,
       |c AS (
       |  SELECT
       |    SUM(np) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
       |    SUM(nn) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
       |    SUM(np) OVER () AS tp, SUM(nn) OVER () AS tn
       |  FROM per)
       |SELECT CAST(tp AS BIGINT) AS n_pos, CAST(tn AS BIGINT) AS n_neg,
       |       MAX(${R("ABS(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE) - CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE))")}) AS ks
       |FROM c GROUP BY tp, tn""".stripMargin

  /** Grouped-decile gains/lift table over the collapsed score frame. */
  def evalLift(nBuckets: Int): String =
    s"""WITH $scoredCte,
       |c AS (SELECT score, np, np + nn AS n FROM per),
       |w AS (
       |  SELECT score, np, n,
       |    COALESCE(SUM(n) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
       |    SUM(n) OVER () AS total, SUM(np) OVER () AS pos_total
       |  FROM c)
       |SELECT LEAST(CAST(FLOOR(before * $nBuckets / total) AS BIGINT), ${nBuckets - 1}) AS bucket,
       |       CAST(SUM(n) AS BIGINT) AS n,
       |       CAST(SUM(np) AS BIGINT) AS n_pos,
       |       ${R("CAST(SUM(np) AS DOUBLE) / MAX(pos_total)")} AS capture,
       |       ${R("(CAST(SUM(np) AS DOUBLE) / SUM(n)) / (CAST(MAX(pos_total) AS DOUBLE) / MAX(total))")} AS lift
       |FROM w GROUP BY 1 ORDER BY bucket""".stripMargin

  /** F1-optimal threshold of the PR sweep (exact-integer fraction
    * argmax, higher threshold on ties).
    */
  val evalF1Best: String =
    s"""WITH $scoredCte,
       |c AS (
       |  SELECT score AS thresh,
       |    SUM(np) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |    SUM(nn) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
       |    SUM(np) OVER () AS pos_total
       |  FROM per),
       |r AS (
       |  SELECT thresh, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |         2.0 * tp / (tp + fp + pos_total) AS f1x,
       |         ROW_NUMBER() OVER (ORDER BY 2.0 * tp / (tp + fp + pos_total) DESC, thresh DESC) AS rn
       |  FROM c)
       |SELECT thresh, tp, fp, ${R("f1x")} AS f1 FROM r WHERE rn = 1""".stripMargin

  /** Decile calibration table of the scored frame. */
  val evalCalibration: String =
    s"""WITH $scoredCte,
       |x AS (
       |  SELECT LEAST(CAST(FLOOR(score * 10.0) AS BIGINT), 9) AS bin, score, label
       |  FROM scored)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |       ${R("SUM(score) / COUNT(*)")} AS mean_score,
       |       ${R("SUM(CASE WHEN label THEN 1.0 ELSE 0.0 END) / COUNT(*)")} AS pos_rate
       |FROM x GROUP BY bin ORDER BY bin""".stripMargin

  /** Per-session strict-order funnel: the ladder scoped to
    * gap-sessions, stage histogram with descending cumulative counts.
    */
  def funnelSession(gapMicros: Long, stages: Seq[String]): String = {
    val rungs = stages.tail.zipWithIndex.map { case (st, i) =>
      val prev = i + 1
      val cur = i + 2
      s"""s$cur AS (
         |  SELECT e.user_id, e.session_no, MIN(e.ts_us) AS t$cur
         |  FROM sess e JOIN s$prev p ON p.user_id = e.user_id AND p.session_no = e.session_no
         |  WHERE e.event_type = '$st' AND e.ts_us > p.t$prev
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val joins = (2 to stages.size).map(i =>
      s"LEFT JOIN s$i ON s$i.user_id = s1.user_id AND s$i.session_no = s1.session_no")
      .mkString("\n")
    val stageSum = (2 to stages.size)
      .map(i => s"CASE WHEN s$i.t$i IS NOT NULL THEN 1 ELSE 0 END")
      .foldLeft("1")(_ + " + " + _)
    val typeCase = stages.zipWithIndex
      .map { case (st, i) => s"WHEN ${i + 1} THEN '$st'" }.mkString(" ")
    s"""WITH f AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
       |         CASE WHEN ts_us_prev IS NULL OR epoch_us(ts) - ts_us_prev >= $gapMicros
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM (
       |    SELECT *, LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS ts_us_prev
       |    FROM events)),
       |sess AS (
       |  SELECT user_id, ts_us, event_type,
       |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
       |  FROM f),
       |s1 AS (
       |  SELECT user_id, session_no, MIN(ts_us) AS t1
       |  FROM sess WHERE event_type = '${stages.head}' GROUP BY 1, 2),
       |$rungs,
       |staged AS (
       |  SELECT s1.user_id, s1.session_no, $stageSum AS stage
       |  FROM s1
       |$joins),
       |h AS (SELECT stage, COUNT(*) AS n FROM staged GROUP BY 1),
       |sp AS (SELECT UNNEST(generate_series(1, ${stages.size})) AS stage),
       |hd AS (
       |  SELECT sp.stage, COALESCE(h.n, 0) AS n
       |  FROM sp LEFT JOIN h ON h.stage = sp.stage),
       |c AS (
       |  SELECT stage,
       |         SUM(n) OVER (ORDER BY stage DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sessions,
       |         SUM(n) OVER () AS n_first
       |  FROM hd)
       |SELECT CAST(stage AS BIGINT) AS stage,
       |       CASE stage $typeCase END AS stage_type,
       |       CAST(n_sessions AS BIGINT) AS n_sessions,
       |       ${R("CAST(n_sessions AS DOUBLE) / n_first")} AS rate
       |FROM c ORDER BY stage""".stripMargin
  }

  /** Per-user session stats over the sessionize recursion. */
  def sessionStats(gapMicros: Long): String =
    s"""WITH f AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |         CASE WHEN ts_us_prev IS NULL OR epoch_us(ts) - ts_us_prev >= $gapMicros
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM (
       |    SELECT *, LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS ts_us_prev
       |    FROM events)),
       |s AS (
       |  SELECT user_id, ts_us,
       |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
       |  FROM f),
       |g AS (
       |  SELECT user_id, session_no, COUNT(*) AS n_events,
       |         MAX(ts_us) - MIN(ts_us) AS dur_us
       |  FROM s GROUP BY 1, 2)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       |       ${R("CAST(SUM(n_events) AS DOUBLE) / COUNT(*)")} AS avg_events,
       |       ${R("CAST(SUM(dur_us) AS DOUBLE) / (COUNT(*) * 1000000.0)")} AS avg_duration_s
       |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Fixed-size per-stratum deterministic sample. */
  def sampleFixed(k: Int, seed: String): String =
    s"""SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT doc_id, source,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY MD5(CONCAT('$seed:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $k ORDER BY source, rk""".stripMargin

  /** Ljung-Box Q at lags 1-3 over the guarded rounded acf. */
  val ljungBox: String = {
    def corr(l: Int) = {
      val vp = s"CASE WHEN v_l$l IS NOT NULL THEN v END"
      R(s"COVAR_POP($vp, v_l$l) / NULLIF(STDDEV_POP($vp) * STDDEV_POP(v_l$l), 0)")
    }
    s"""WITH $daily,
       |l AS (
       |  SELECT user_id, v, LAG(v, 1) OVER w AS v_l1, LAG(v, 2) OVER w AS v_l2,
       |         LAG(v, 3) OVER w AS v_l3
       |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
       |st AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
       |         ${corr(1)} AS r1, ${corr(2)} AS r2, ${corr(3)} AS r3
       |  FROM l GROUP BY user_id)
       |SELECT user_id, n,
       |       ${R("CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * (r1 * r1 / (CAST(n AS DOUBLE) - 1.0) + r2 * r2 / (CAST(n AS DOUBLE) - 2.0) + r3 * r3 / (CAST(n AS DOUBLE) - 3.0))")} AS q_stat
       |FROM st ORDER BY user_id""".stripMargin
  }

  /** Tie-aware Mann-Whitney AUC over the per-score collapsed frame. */
  val evalAuc: String =
    s"""WITH $scoredCte,
       |c AS (
       |  SELECT np, nn,
       |         COALESCE(SUM(nn) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below_n
       |  FROM per)
       |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
       |       ${R("SUM(CAST(np AS DOUBLE) * (CAST(below_n AS DOUBLE) + CAST(nn AS DOUBLE) * 0.5)) / (CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE))")} AS auc
       |FROM c""".stripMargin

  /** Precision/recall at every distinct score threshold (>= t). */
  val evalPrCurve: String =
    s"""WITH $scoredCte,
       |c AS (
       |  SELECT score AS thresh,
       |         SUM(np) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |         SUM(nn) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
       |         SUM(np) OVER () AS pos_total
       |  FROM per)
       |SELECT thresh, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |       ${R("CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)")} AS "precision",
       |       ${R("CAST(tp AS DOUBLE) / CAST(pos_total AS DOUBLE)")} AS recall
       |FROM c ORDER BY thresh""".stripMargin

  /** Leave-one-out target encoding of event_type on value. */
  val targetEncode: String =
    s"""WITH v AS (
       |  SELECT event_id, event_type, ${R("value")} AS vr FROM events),
       |s AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(vr) AS s FROM v GROUP BY 1)
       |SELECT v.event_id, v.event_type,
       |       CASE WHEN s.n > 1 THEN ${R("(s.s - v.vr) / CAST(s.n - 1 AS DOUBLE)")} END AS loo
       |FROM v JOIN s USING (event_type)
       |ORDER BY v.event_id""".stripMargin

  /** Exact-quantile binning of the daily values: boundary agg + map
    * binning + per-bin audit.
    */
  val featureBins: String =
    s"""WITH $daily,
       |b AS (
       |  SELECT ${R("quantile_cont(v, 0.25)")} AS b1,
       |         ${R("quantile_cont(v, 0.5)")} AS b2,
       |         ${R("quantile_cont(v, 0.75)")} AS b3
       |  FROM daily),
       |binned AS (
       |  SELECT v, CAST(1 + (CASE WHEN v > b1 THEN 1 ELSE 0 END)
       |                   + (CASE WHEN v > b2 THEN 1 ELSE 0 END)
       |                   + (CASE WHEN v > b3 THEN 1 ELSE 0 END) AS BIGINT) AS bin
       |  FROM daily CROSS JOIN b)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |       MIN(v) AS min_v, MAX(v) AS max_v,
       |       ${R("SUM(v) / COUNT(*)")} AS mean_v
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  /** Sampled-quantile bounds next to the exact ones — the md5-bucket
    * sample over (user_id, day), one row per quantile with its
    * absolute error.
    */
  def featureBinsApprox(keep: Int = 3, nBuckets: Int = 10): String =
    s"""WITH $daily,
       |smp AS (
       |  SELECT v FROM daily
       |  WHERE CAST(CONCAT('0x', SUBSTR(md5(CONCAT(CAST(user_id AS VARCHAR), '|',
       |        CAST(day AS VARCHAR))), 1, 4)) AS INTEGER) % $nBuckets < $keep),
       |ex AS (
       |  SELECT COUNT(*) AS n_total,
       |         ${R("quantile_cont(v, 0.25)")} AS e1,
       |         ${R("quantile_cont(v, 0.5)")} AS e2,
       |         ${R("quantile_cont(v, 0.75)")} AS e3
       |  FROM daily),
       |ap AS (
       |  SELECT COUNT(*) AS n_sample,
       |         ${R("quantile_cont(v, 0.25)")} AS a1,
       |         ${R("quantile_cont(v, 0.5)")} AS a2,
       |         ${R("quantile_cont(v, 0.75)")} AS a3
       |  FROM smp),
       |q AS (
       |  SELECT 0.25 AS q, e1 AS exact_v, a1 AS approx_v, n_sample, n_total FROM ex, ap
       |  UNION ALL
       |  SELECT 0.5, e2, a2, n_sample, n_total FROM ex, ap
       |  UNION ALL
       |  SELECT 0.75, e3, a3, n_sample, n_total FROM ex, ap)
       |SELECT CAST(q AS DOUBLE) AS q, exact_v, approx_v,
       |       ${R("ABS(exact_v - approx_v)")} AS abs_err, n_sample, n_total
       |FROM q ORDER BY q""".stripMargin

  /** Banded Theil–Sen slope: pairwise slopes within `maxLag` rows via
    * a banded rn self-join, exact interpolated median.
    */
  def theilSen(maxLag: Int): String =
    s"""WITH $daily,
       |n AS (
       |  SELECT user_id, day, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM daily),
       |p AS (
       |  SELECT a.user_id,
       |         (a.v - b.v) / CAST(date_diff('day', b.day, a.day) AS DOUBLE) AS slope
       |  FROM n a JOIN n b
       |    ON a.user_id = b.user_id AND a.rn - b.rn BETWEEN 1 AND $maxLag)
       |SELECT user_id, ${R("quantile_cont(slope, 0.5)")} AS slope,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  /** k-anonymity audit: (event_type, hour) groups under k distinct users. */
  def kAnonymityAudit(k: Int, grain: String = "hour"): String =
    s"""SELECT event_type, date_trunc('$grain', ts) AS qid_ts,
       |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |       CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM events GROUP BY 1, 2
       |HAVING COUNT(DISTINCT user_id) < $k
       |ORDER BY event_type, qid_ts""".stripMargin

  /** Next-fit byte-budget payload packing via a per-shard recursive
    * walk in media_id order — mirrors Multimodal.packPayloads' fold.
    */
  def packPayloads(budget: Long): String =
    s"""WITH RECURSIVE m AS (
       |  SELECT doc_id AS media_id, source AS shard,
       |         CAST(strlen(text) AS BIGINT) AS n,
       |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents),
       |r AS (
       |  SELECT shard, rn, media_id, n,
       |         CASE WHEN n <= $budget THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS bin,
       |         n AS used
       |  FROM m WHERE rn = 1
       |  UNION ALL
       |  SELECT m.shard, m.rn, m.media_id, m.n,
       |         CASE WHEN r.used + m.n <= $budget THEN r.bin ELSE r.bin + 1 END,
       |         CASE WHEN r.used + m.n <= $budget THEN r.used + m.n ELSE m.n END
       |  FROM r JOIN m ON m.shard = r.shard AND m.rn = r.rn + 1)
       |SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS n_blobs,
       |       CAST(SUM(n) AS BIGINT) AS bytes_used,
       |       ${R(s"CAST(SUM(n) AS BIGINT) / $budget.0")} AS fill
       |FROM r GROUP BY shard, bin
       |ORDER BY shard, bin""".stripMargin

  /** TPC-H Q4-style priority ladder over the late-shipment EXISTS. */
  val q4PrioritySemi: String =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM orders o
       |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
       |  AND o.o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
       |  AND EXISTS (SELECT 1 FROM lineitem l
       |              WHERE l.l_orderkey = o.o_orderkey
       |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q22-style dormant customers via NOT EXISTS. */
  val q22AntiJoin: String =
    s"""SELECT c_custkey, c_mktsegment, c_acctbal
       |FROM customer c
       |WHERE c.c_acctbal > 0
       |  AND NOT EXISTS (SELECT 1 FROM orders o
       |                  WHERE o.o_custkey = c.c_custkey
       |                    AND o.o_orderdate >= TIMESTAMP '1998-05-01 00:00:00')
       |ORDER BY c_custkey""".stripMargin

  /** Banded DTW to the corpus mean profile — the anti-diagonal DP as
    * a recursive CTE carrying two diagonal lists; every cell is the
    * same |a−r| + LEAST-of-three IEEE expression as the Spark fold.
    */
  def tsDtwProfile(band: Int): String = {
    val INF = "1.0e18"
    def lk(arr: String, dp: String, ii: String) =
      s"CASE WHEN $ii >= GREATEST(1, ($dp) - r.m) AND $ii <= LEAST(r.n, ($dp) - 1) " +
        s"THEN list_extract($arr, CAST($ii - GREATEST(1, ($dp) - r.m) + 1 AS INTEGER)) ELSE $INF END"
    def cell(dd: String, i: String) =
      s"""CASE WHEN ABS(2 * $i - ($dd)) > $band THEN $INF
         |     ELSE ABS(r.a[CAST($i AS INTEGER)] - r.rr[CAST(($dd) - $i AS INTEGER)]) +
         |          LEAST(${lk("r.d1", s"($dd) - 1", s"$i - 1")},
         |                ${lk("r.d1", s"($dd) - 1", s"$i")},
         |                ${lk("r.d2", s"($dd) - 2", s"$i - 1")})
         |END""".stripMargin
    s"""WITH RECURSIVE $daily,
       |rk AS (SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |       FROM daily),
       |prof AS (SELECT rn, ${R("AVG(v)")} AS mu FROM rk GROUP BY rn),
       |refa AS (SELECT LIST(mu ORDER BY rn) AS rr FROM prof),
       |ser AS (SELECT user_id, LIST(v ORDER BY day) AS a FROM daily GROUP BY user_id),
       |base AS (
       |  SELECT s.user_id, 2 AS d, s.a, f.rr,
       |         CAST(len(s.a) AS INTEGER) AS n, CAST(len(f.rr) AS INTEGER) AS m,
       |         [CASE WHEN 0 > $band THEN $INF ELSE ABS(s.a[1] - f.rr[1]) END] AS d1,
       |         CAST([] AS DOUBLE[]) AS d2
       |  FROM ser s CROSS JOIN refa f),
       |rec AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT r.user_id, r.d + 1, r.a, r.rr, r.n, r.m,
       |         list_transform(generate_series(GREATEST(1, (r.d + 1) - r.m), LEAST(r.n, r.d)),
       |                        i -> ${cell("r.d + 1", "i")}),
       |         r.d1
       |  FROM rec r WHERE r.d < r.n + r.m)
       |SELECT user_id, CAST(n AS BIGINT) AS n,
       |       CASE WHEN d1[1] < 1.0e17 THEN ${R("d1[1]")} END AS dtw
       |FROM rec WHERE d = n + m
       |ORDER BY user_id""".stripMargin
  }

  /** AR(2) Yule-Walker forecast: the acf aggregate + closed-form φ +
    * `horizon` unrolled recursion steps.
    */
  def arForecast(horizon: Int, dailyCte: String = daily): String = {
    def corr(l: Int) = {
      val vp = s"CASE WHEN v_l$l IS NOT NULL THEN v END"
      R(s"COVAR_POP($vp, v_l$l) / NULLIF(STDDEV_POP($vp) * STDDEV_POP(v_l$l), 0)")
    }
    val steps = (1 to horizon).map { s =>
      val p1 = if (s == 1) "x_last" else s"f${s - 1}"
      val p2 = if (s == 1) "x_prev" else if (s == 2) "x_last" else s"f${s - 2}"
      val src = if (s == 1) "p2" else s"c${s - 1}"
      s"c$s AS (SELECT *, ${R(s"mu + phi1 * ($p1 - mu) + phi2 * ($p2 - mu)")} AS f$s FROM $src)"
    }.mkString(",\n")
    val out = (1 to horizon).map(s =>
      s"SELECT user_id, last_day + $s AS day, CAST($s AS BIGINT) AS step, phi1, phi2, f$s AS forecast FROM c$horizon")
      .mkString("\nUNION ALL\n")
    s"""WITH $dailyCte,
       |l AS (
       |  SELECT user_id, day, v, LAG(v, 1) OVER w AS v_l1, LAG(v, 2) OVER w AS v_l2,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn_end
       |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
       |st AS (
       |  SELECT user_id, ${corr(1)} AS r1, ${corr(2)} AS r2,
       |         ${R("AVG(v)")} AS mu,
       |         MAX(CASE WHEN rn_end = 1 THEN v END) AS x_last,
       |         MAX(CASE WHEN rn_end = 2 THEN v END) AS x_prev,
       |         MAX(day) AS last_day
       |  FROM l GROUP BY user_id),
       |p AS (
       |  SELECT *, ${R("r1 * (1.0 - r2) / NULLIF(1.0 - r1 * r1, 0)")} AS phi1,
       |         ${R("(r2 - r1 * r1) / NULLIF(1.0 - r1 * r1, 0)")} AS phi2
       |  FROM st WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND x_prev IS NOT NULL),
       |p2 AS (SELECT * FROM p WHERE phi1 IS NOT NULL AND phi2 IS NOT NULL),
       |$steps
       |$out
       |ORDER BY user_id, step""".stripMargin
  }

  /** ARI(2,1): the AR chain over the first-differenced daily series,
    * integrated back from the last observed level.
    */
  def diffArForecast(horizon: Int): String = {
    val diffDaily =
      s"""rdx AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         |         ${R("SUM(value)")} AS v
         |  FROM events GROUP BY 1, 2),
         |dfx AS (
         |  SELECT user_id, day,
         |         ${R("v - LAG(v) OVER (PARTITION BY user_id ORDER BY day)")} AS v
         |  FROM rdx),
         |daily AS (SELECT * FROM dfx WHERE v IS NOT NULL)""".stripMargin
    s"""WITH a AS (SELECT * FROM (
       |${arForecast(horizon, diffDaily)}) x),
       |rdy AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         ${R("SUM(value)")} AS v
       |  FROM events GROUP BY 1, 2),
       |lv AS (SELECT user_id, ARG_MAX(v, day) AS v_last FROM rdy GROUP BY 1)
       |SELECT a.user_id, a.day, a.step, a.phi1, a.phi2, a.forecast AS d_hat,
       |       ${R("lv.v_last + SUM(a.forecast) OVER (PARTITION BY a.user_id ORDER BY a.step)")} AS forecast
       |FROM a JOIN lv ON lv.user_id = a.user_id
       |ORDER BY a.user_id, a.step""".stripMargin
  }

  /** Whitening-contract audit: stats → diagonal whiten → stats again. */
  def embeddingWhitenAudit(dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |x AS (SELECT e.vec_id, r.d, e.v[r.d + 1] AS x FROM e CROSS JOIN range(0, $dim) r(d)),
       |st AS (
       |  SELECT d, ${R("SUM(x) / COUNT(x)")} AS mean,
       |         ${R("SUM(x * x) / COUNT(x) - (SUM(x) / COUNT(x)) * (SUM(x) / COUNT(x))")} AS variance
       |  FROM x GROUP BY d),
       |ms AS (
       |  SELECT d, mean,
       |         CASE WHEN variance > 0 THEN ${R("SQRT(variance)")} ELSE 1.0 END AS sd
       |  FROM st),
       |wx AS (
       |  SELECT x.d, FLOOR(((x.x - ms.mean) / ms.sd) * 1000.0 + 0.5001) / 1000.0 AS x
       |  FROM x JOIN ms ON ms.d = x.d)
       |SELECT d, COUNT(x) AS n,
       |       ${R("SUM(x) / COUNT(x)")} AS mean,
       |       ${R("SUM(x * x) / COUNT(x) - (SUM(x) / COUNT(x)) * (SUM(x) / COUNT(x))")} AS variance,
       |       ${R("MIN(x)")} AS min_x,
       |       ${R("MAX(x)")} AS max_x
       |FROM wx GROUP BY d ORDER BY d""".stripMargin

  /** TPC-H Q8-style market share: one nation's suppliers' slice of a
    * region's market for one part type, by order year.
    */
  val q8MarketShare: String =
    s"""WITH mkt AS (
       |  SELECT l.l_orderkey, l.l_suppkey,
       |         CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |  WHERE p.p_type = 'ECONOMY'),
       |cust AS (
       |  SELECT c.c_custkey FROM customer c
       |  JOIN nation n ON n.n_nationkey = c.c_nationkey
       |  JOIN region r ON r.r_regionkey = n.n_regionkey
       |  WHERE r.r_name = 'ASIA'),
       |ords AS (
       |  SELECT o.o_orderkey, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year
       |  FROM orders o JOIN cust c ON c.c_custkey = o.o_custkey),
       |sn AS (
       |  SELECT s.s_suppkey, n.n_name FROM supplier s
       |  JOIN nation n ON n.n_nationkey = s.s_nationkey)
       |SELECT o.o_year,
       |       ${R("CAST(SUM(CASE WHEN sn.n_name = 'NATION_18' THEN m.rev ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) / CAST(SUM(m.rev) AS DOUBLE)")} AS mkt_share,
       |       ${R("CAST(SUM(m.rev) AS DOUBLE)", 2)} AS total_revenue
       |FROM mkt m
       |JOIN ords o ON o.o_orderkey = m.l_orderkey
       |JOIN sn ON sn.s_suppkey = m.l_suppkey
       |GROUP BY o.o_year ORDER BY o.o_year""".stripMargin

  /** Token-bucket rate limiting: the per-user refill/spend recursion,
    * refill inlined everywhere (identical IEEE value per consumer).
    */
  def rateLimit(capacity: Double, refillMicros: Long): String = {
    val nt = s"LEAST($capacity, h.tok + (n.ts_us - h.ts_us) / $refillMicros.0)"
    s"""WITH RECURSIVE n AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |h AS (
       |  SELECT user_id, rn, event_id, ts_us,
       |         TRUE AS accepted, CAST($capacity AS DOUBLE) - 1.0 AS tok
       |  FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.user_id, n.rn, n.event_id, n.ts_us,
       |         $nt >= 1.0 AS accepted,
       |         CASE WHEN $nt >= 1.0 THEN $nt - 1.0 ELSE $nt END AS tok
       |  FROM h JOIN n ON n.user_id = h.user_id AND n.rn = h.rn + 1)
       |SELECT user_id, event_id, ts_us, accepted,
       |       ${R("tok")} AS tokens_after
       |FROM h ORDER BY user_id, rn""".stripMargin
  }

  /** cdcStreamBatch's oracle: event-time rank vs running arrival-order
    * maximum, under the same md5 arrival permutation.
    */
  val streamCdcBatch: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
       |         CAST(CONCAT('0x', SUBSTR(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS arrival
       |  FROM events),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS etr
       |  FROM e),
       |h AS (
       |  SELECT *, MAX(etr) OVER (PARTITION BY user_id ORDER BY arrival, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
       |  FROM r)
       |SELECT user_id, event_id, ts_us, event_type AS last_type, value AS last_value
       |FROM h WHERE prevmax IS NULL OR etr > prevmax
       |ORDER BY user_id, event_id""".stripMargin

  /** TPC-H Q13-style customer order-count distribution (LEFT OUTER +
    * two-level aggregate). Orders collapse to per-customer counts
    * BEFORE the customer join in both engines.
    */
  val q13CustDist: String =
    s"""WITH ocnt AS (
       |  SELECT o_custkey, COUNT(*) AS n
       |  FROM orders WHERE o_orderpriority <> '1-URGENT'
       |  GROUP BY o_custkey)
       |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
       |  SELECT c.c_custkey, CAST(COALESCE(ocnt.n, 0) AS BIGINT) AS c_count
       |  FROM customer c LEFT JOIN ocnt ON c.c_custkey = ocnt.o_custkey)
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15-style top supplier: revenue ties to the max kept via
    * exact decimal equality.
    */
  val q15TopSupplier: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s.s_suppkey, s.s_name,
       |       ${R("CAST(rev.total AS DOUBLE)", 2)} AS total_revenue
       |FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
       |WHERE rev.total = (SELECT MAX(total) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17-style small-quantity average: the correlated 0.2·avg
    * threshold stated division-free (5·qty·n < Σqty) so both engines
    * compare exact decimals/integers.
    */
  val q17SmallQty: String =
    s"""WITH li AS (
       |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE p.p_brand = 'Brand#23'),
       |st AS (
       |  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
       |         COUNT(*) AS n
       |  FROM li GROUP BY l_partkey)
       |SELECT ${R("CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0", 2)} AS avg_yearly,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM li JOIN st ON li.l_partkey = st.pk
       |WHERE 5 * CAST(li.l_quantity AS DECIMAL(12,2)) * st.n < st.sq""".stripMargin

  /** TPC-H Q19-style disjunctive-predicate revenue (OR of brand/size/
    * quantity bands).
    */
  val q19Disjunctive: String =
    s"""SELECT ${R("CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)", 2)} AS revenue,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1  AND 11)
       |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
       |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q7-style nation-pair trade volume, both directions of the
    * (NATION_18, NATION_19) pair, by ship year.
    */
  val q7Volume: String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
       |       ${R("CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)", 2)} AS revenue
       |FROM lineitem l
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
       |WHERE ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
       |    OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
       |  AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
       |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q16-style supplier count per part attribute (lineitem is
    * the part↔supplier association in this schema), negative-balance
    * suppliers excluded NOT-IN-style.
    */
  val q16SupplierCnt: String =
    s"""WITH assoc AS (
       |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
       |bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       |SELECT p.p_brand, p.p_size,
       |       CAST(COUNT(DISTINCT a.l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM assoc a JOIN part p ON a.l_partkey = p.p_partkey
       |WHERE p.p_brand <> 'Brand#45'
       |  AND p.p_size IN (1, 9, 17, 25, 33, 41, 49)
       |  AND a.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
       |GROUP BY p.p_brand, p.p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** TPC-H Q2-style min-cost supplier: the correlated per-part min
    * unit cost (lineitem extprice/qty is this schema's supplycost),
    * EUROPE suppliers only.
    */
  val q2MinCost: String =
    s"""WITH eu AS (
       |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
       |  FROM supplier s
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  WHERE r.r_name = 'EUROPE'),
       |cost AS (
       |  SELECT l.l_partkey, l.l_suppkey,
       |         MIN(${R("l.l_extendedprice / l.l_quantity", 2)}) AS unit_cost
       |  FROM lineitem l
       |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size = 15
       |  JOIN eu ON l.l_suppkey = eu.s_suppkey
       |  GROUP BY 1, 2),
       |mc AS (SELECT l_partkey, MIN(unit_cost) AS min_cost FROM cost GROUP BY 1)
       |SELECT eu.s_acctbal, eu.s_name, eu.n_name,
       |       c.l_partkey AS p_partkey, c.unit_cost
       |FROM cost c
       |JOIN mc ON c.l_partkey = mc.l_partkey AND c.unit_cost = mc.min_cost
       |JOIN eu ON c.l_suppkey = eu.s_suppkey
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin

  /** TPC-H Q9-style profit by supplier nation and order year, cost =
    * 0.6·retailprice per unit (exact-decimal ×10 arithmetic, one
    * final double division).
    */
  val q9Profit: String =
    s"""SELECT n.n_name AS nation,
       |       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
       |       ${R("CAST(SUM(10 * CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) - 6 * CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / 10.0", 2)} AS profit,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM lineitem l
       |JOIN part p ON l.l_partkey = p.p_partkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE p.p_name LIKE '%red%'
       |GROUP BY 1, 2
       |ORDER BY nation, o_year""".stripMargin

  /** TPC-H Q12-style late-shipment priority split per returnflag
    * (late = shipped >60 days after order date, ship year 1996).
    */
  val q12Priority: String =
    s"""SELECT l.l_returnflag,
       |       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
       |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
       |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
       |GROUP BY 1
       |ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q20-style excess-stock suppliers (EUROPE, 'small%' parts,
    * division-free 2·q96 > qtot threshold).
    */
  val q20Excess: String =
    s"""WITH sp AS (
       |  SELECT l.l_suppkey, l.l_partkey,
       |         SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |                   AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |                  THEN CAST(l.l_quantity AS DECIMAL(12,2))
       |                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS q96,
       |         SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS qtot
       |  FROM lineitem l
       |  JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE p.p_name LIKE 'small%'
       |  GROUP BY 1, 2)
       |SELECT s.s_name, s.s_acctbal
       |FROM supplier s
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'EUROPE'
       |  AND s.s_suppkey IN (SELECT l_suppkey FROM sp WHERE 2 * q96 > qtot)
       |ORDER BY s_name""".stripMargin

  /** TPC-H Q21-style waiting-order suppliers: the EXISTS / NOT EXISTS
    * pair stated as per-order supplier/late counts (identical set:
    * EXISTS other supplier ⟺ n_supp ≥ 2, NOT EXISTS other late
    * supplier ⟺ n_late = 1 given this supplier is late).
    */
  val q21Waiting: String =
    s"""WITH j AS (
       |  SELECT l.l_orderkey, l.l_suppkey,
       |         MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
       |                  THEN 1 ELSE 0 END) AS late
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE o.o_orderstatus = 'F'
       |  GROUP BY 1, 2),
       |st AS (
       |  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
       |  FROM j GROUP BY 1)
       |SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       |FROM j
       |JOIN st ON j.l_orderkey = st.l_orderkey
       |JOIN supplier s ON j.l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE j.late = 1 AND st.n_supp >= 2 AND st.n_late = 1
       |  AND r.r_name = 'EUROPE'
       |GROUP BY 1
       |ORDER BY numwait DESC, s_name""".stripMargin

  /** Interval-join attribution (stream_join_batch's oracle): each
    * click × the same user's views in the preceding window.
    */
  def intervalJoin(windowSec: Long): String =
    s"""SELECT v.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
       |       v.event_id AS view_id, epoch_us(v.ts) AS view_ts_us
       |FROM events v JOIN events c
       |  ON v.user_id = c.user_id
       | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL $windowSec SECONDS
       |WHERE v.event_type = 'view' AND c.event_type = 'click'
       |ORDER BY v.user_id, click_id, view_id""".stripMargin

  /** CDC latest-row snapshot per key ((ts, event_id) order). */
  val cdcLatest: String =
    s"""SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events) t
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** SCD2 validity intervals from the event_type attribute stream. */
  val scd2Intervals: String =
    s"""WITH o AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         CASE WHEN LAG(event_type) OVER w IS NULL
       |                OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |r AS (
       |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM o),
       |g AS (
       |  SELECT user_id, CAST(run_id AS BIGINT) AS run_id, MIN(event_type) AS attr,
       |         MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM r GROUP BY 1, 2)
       |SELECT user_id, run_id, attr, valid_from,
       |       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
       |       n_events,
       |       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL) AS is_current
       |FROM g ORDER BY user_id, run_id""".stripMargin

  /** RiskMetrics EWMA volatility: the EwmaFold recursion
    * (`acc·(1−α) + x·α`, 1−α precomputed — the ewma convention)
    * folded over SQUARED first differences of the daily series.
    */
  def volEwma(alphaVar: Double): String =
    s"""WITH $daily,
       |vals AS (
       |  SELECT user_id, LIST(v ORDER BY day) AS vs FROM daily GROUP BY user_id),
       |rr AS (
       |  SELECT user_id,
       |         CASE WHEN len(vs) < 2 THEN CAST([] AS DOUBLE[])
       |              ELSE list_transform(generate_series(2, CAST(len(vs) AS INTEGER)),
       |                     i -> (vs[i] - vs[i - 1]) * (vs[i] - vs[i - 1])) END AS r2s
       |  FROM vals)
       |SELECT user_id, CAST(len(r2s) AS BIGINT) AS n_returns,
       |       CASE WHEN len(r2s) = 0 THEN NULL ELSE
       |         ${R(s"list_reduce(r2s, (acc, x) -> acc * ${1 - alphaVar} + x * $alphaVar)")}
       |       END AS ewma_var,
       |       CASE WHEN len(r2s) = 0 THEN NULL ELSE
       |         ${R(s"SQRT(list_reduce(r2s, (acc, x) -> acc * ${1 - alphaVar} + x * $alphaVar))")}
       |       END AS ewma_vol
       |FROM rr ORDER BY user_id""".stripMargin

  /** Periodogram over candidate periods 2..pMax — the same
    * (Σv·cosθ)² + (Σv·sinθ)² / n arithmetic as the Spark aggregate,
    * with the 2π literal hardcoded so both engines share the angle.
    */
  /** Shared daily→index→period-explode→power CTE chain of the
    * periodogram family.
    */
  private def periodogramCtes(pMax: Int): String = {
    val twoPi = (2.0 * math.Pi).toString
    val c = s"SUM(v * COS(($twoPi * i) / p))"
    val sn = s"SUM(v * SIN(($twoPi * i) / p))"
    s"""$daily,
       |rk AS (
       |  SELECT user_id, v,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS DOUBLE) AS i,
       |         CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS n
       |  FROM daily),
       |ex AS (
       |  SELECT user_id, v, i, n, p
       |  FROM rk CROSS JOIN (SELECT UNNEST(generate_series(2, $pMax)) AS p) ps),
       |pw AS (
       |  SELECT user_id, p, ${R(s"(($c) * ($c) + ($sn) * ($sn)) / MAX(n)")} AS power
       |  FROM ex GROUP BY 1, 2)""".stripMargin
  }

  def periodogram(pMax: Int): String =
    s"""WITH ${periodogramCtes(pMax)}
       |SELECT user_id, p, power,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY power DESC, p) AS BIGINT) AS rk
       |FROM pw ORDER BY user_id, p""".stripMargin

  /** Spectral entropy: Shannon entropy of the normalized periodogram
    * powers, scaled by ln(#periods) — the same CASE/negate/divide
    * IEEE chain as the Spark aggregate.
    */
  def spectralEntropy(pMax: Int): String = {
    val lnN = math.log((pMax - 1).toDouble).toString
    s"""WITH ${periodogramCtes(pMax)},
       |tt AS (
       |  SELECT user_id, p, power,
       |         SUM(power) OVER (PARTITION BY user_id) AS tot
       |  FROM pw)
       |SELECT user_id, COUNT(*) AS n_periods,
       |       ${R(s"-(SUM(CASE WHEN power > 0 AND tot > 0 THEN (power / tot) * LN(power / tot) ELSE 0.0 END)) / $lnN")} AS entropy
       |FROM tt GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Rolling Pearson correlation (value sum vs event count) over a
    * trailing full window — closed-form sums, engine corr() avoided.
    */
  def tsRollingCorr(window: Int): String =
    s"""WITH d2 AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         ${R("SUM(value)")} AS x, CAST(COUNT(*) AS DOUBLE) AS y
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT user_id, day, x, y,
       |    COUNT(*) OVER fr AS n,
       |    SUM(x) OVER fr AS sx, SUM(y) OVER fr AS sy,
       |    SUM(x * x) OVER fr AS sxx, SUM(y * y) OVER fr AS syy,
       |    SUM(x * y) OVER fr AS sxy
       |  FROM d2
       |  WINDOW fr AS (PARTITION BY user_id ORDER BY day
       |                ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW))
       |SELECT user_id, day, x, y,
       |       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
       |            THEN ${R("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")}
       |       END AS roll_corr
       |FROM w WHERE n = $window
       |ORDER BY user_id, day""".stripMargin

  /** Iterative ESD-style outlier removal: unrolled rounds, each an
    * anti-join against the flagged accumulator + per-key stats + a
    * top-1 pick; accumulators MATERIALIZED (referenced twice/round).
    */
  def tsOutliersEsd(rounds: Int, z: Double): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH $daily,
         |f0 AS (SELECT user_id, day, v, 0.0 AS z_at_flag, 0 AS round
         |       FROM daily WHERE 1 = 0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
         |rem$r AS (
         |  SELECT d.* FROM daily d
         |  WHERE NOT EXISTS (SELECT 1 FROM f${r - 1} f
         |                    WHERE f.user_id = d.user_id AND f.day = d.day)),
         |st$r AS (
         |  SELECT user_id, ${R("AVG(v)")} AS m, ${R("STDDEV_POP(v)")} AS sd
         |  FROM rem$r GROUP BY 1),
         |cand$r AS (
         |  SELECT user_id, day, v, zz AS z_at_flag, $r AS round FROM (
         |    SELECT r.user_id, r.day, r.v,
         |           ${R("(r.v - s.m) / s.sd")} AS zz,
         |           ROW_NUMBER() OVER (PARTITION BY r.user_id
         |             ORDER BY ABS(${R("(r.v - s.m) / s.sd")}) DESC, r.day) AS rk
         |    FROM rem$r r JOIN st$r s ON s.user_id = r.user_id
         |    WHERE s.sd > 0)
         |  WHERE rk = 1 AND ABS(zz) >= $z),
         |f$r AS MATERIALIZED (
         |  SELECT * FROM f${r - 1} UNION ALL SELECT * FROM cand$r)""".stripMargin)
    }
    sb.append(s"""
       |SELECT user_id, day, v, z_at_flag, CAST(round AS INT) AS round
       |FROM f$rounds ORDER BY user_id, day""".stripMargin)
    sb.toString
  }

  /** R/S Hurst: complete dyadic blocks, left-to-right list folds
    * (list_sum over slices = Spark's slice-aggregate), two-point
    * endpoint slope with the Spark-computed span inlined.
    */
  def tsHurst(sizes: Seq[Int]): String = {
    val lo = sizes.head
    val hi = sizes.last
    val span = (math.log(hi.toDouble) - math.log(lo.toDouble)).toString
    val rsCols = sizes.map(w =>
      s"MAX(CASE WHEN w = $w THEN avg_rs END) AS rs$w").mkString(", ")
    s"""WITH $daily,
       |num AS (
       |  SELECT user_id, v,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
       |  FROM daily),
       |ex AS (SELECT user_id, rn, v, UNNEST(${sizes.mkString("[", ", ", "]")}) AS w FROM num),
       |blk AS (
       |  SELECT user_id, w, CAST(FLOOR((rn - 1) / w) AS BIGINT) AS blk,
       |         list(v ORDER BY rn) AS vs
       |  FROM ex GROUP BY 1, 2, 3),
       |st AS (
       |  SELECT user_id, w, vs, list_sum(vs) / len(vs) AS m
       |  FROM blk WHERE len(vs) = w),
       |st2 AS (
       |  SELECT user_id, w,
       |         list_transform(generate_series(1, len(vs)),
       |           i -> list_sum(vs[1:i]) - i * m) AS cum,
       |         list_sum(list_transform(vs, x -> (x - m) * (x - m))) / len(vs) AS s2
       |  FROM st),
       |rs AS (
       |  SELECT user_id, w,
       |         ${R("(list_max(cum) - list_min(cum)) / sqrt(s2)")} AS rs
       |  FROM st2 WHERE s2 > 0),
       |perw AS (SELECT user_id, w, ${R("AVG(rs)")} AS avg_rs FROM rs GROUP BY 1, 2),
       |piv AS (SELECT user_id, $rsCols FROM perw GROUP BY 1)
       |SELECT user_id, ${sizes.map(w => s"rs$w").mkString(", ")},
       |       CASE WHEN rs$lo > 0 AND rs$hi > 0
       |            THEN ${R(s"(LN(rs$hi) - LN(rs$lo)) / $span")} END AS hurst
       |FROM piv ORDER BY user_id""".stripMargin
  }

  /** CUBE revenue rollup with GROUPING() — first cube column is the
    * MSB in both engines (verified; SQL-standard bit order).
    */
  val revenueCube: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       |       COUNT(*) AS n_orders,
       |       ${R("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)", 2)} AS revenue
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** TPC-H Q11-style revenue-share threshold: per-part revenue kept
    * iff above `mult`× the mean per-part revenue (global scalar
    * subquery; all sums decimal-exact, the mean derived in the same
    * double algebra as the Spark side: total/count, never AVG —
    * DuckDB's AVG(DECIMAL) is a double accumulation with different
    * summation order).
    */
  def q11RevenueShare(mult: Double): String =
    s"""WITH per AS (
       |  SELECT l_partkey,
       |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
       |  FROM lineitem GROUP BY 1),
       |tot AS (SELECT SUM(rev) AS tot, COUNT(*) AS cnt FROM per)
       |SELECT l_partkey,
       |       ${R("CAST(rev AS DOUBLE)", 2)} AS revenue,
       |       ${R("CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS share
       |FROM per CROSS JOIN tot
       |WHERE CAST(rev AS DOUBLE) > CAST(tot AS DOUBLE) / cnt * $mult
       |ORDER BY l_partkey""".stripMargin
}
