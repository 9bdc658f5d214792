package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Rounding.r3

/** Spark-native time-series operator chain.
  *
  * Re-expresses the per-series Python-UDF pipeline of the reference
  * (reference: src/demo/utils.py:200-521, "pre_processing" and friends)
  * as window/groupBy operators over the LONG format `(key, day, v)`.
  *
  * Scale rationale (100 TB): the reference keeps each series as one
  * `array<float>` row and runs row-at-a-time Python UDFs — no partial
  * aggregation, no pushdown, no codegen. Here:
  *
  *   - `resampleDaily` is a groupBy with map-side combine: the only
  *     shuffle that sees raw-event volume, and it reduces to
  *     |keys|×|days| rows before anything else runs.
  *   - every subsequent op is a window over `PARTITION BY key` — after
  *     the first exchange on `key`, Catalyst reuses the partitioning
  *     for the whole trend → detrend → scale → gradient chain (one
  *     shuffle, bounded per-key state, no skew amplification).
  *   - all math is `org.apache.spark.sql.functions` — fully inside
  *     WholeStageCodegen, no UDF serialization.
  *
  * Determinism: outputs are rounded to 3 decimals per stage, mirroring
  * the reference's `np.around(..., decimals=3)` at each step
  * (reference: src/demo/utils.py:363,418,446,459,497,521) and making
  * results bit-identical across engines and cluster sizes.
  */
object TimeSeries {

  private val KEY = "user_id"
  private val DAY = "day"

  private def wOrdered = Window.partitionBy(KEY).orderBy(DAY)
  private def wKey = Window.partitionBy(KEY)

  /** Daily resample of the raw event stream: `(user_id, day, v)` with
    * `v = round(sum(value), 3)`. One shuffle, partial-agg combined.
    * (reference data model: create_time_series.py:193-196 daily spine)
    */
  def resampleDaily(events: DataFrame): DataFrame =
    events
      .groupBy(col(KEY), to_date(col("ts")).as(DAY))
      .agg(r3(sum(col("value"))).as("v"))

  /** Centered moving-average trend, window = ±`half` rows, edges use
    * the available window (reference trend: src/demo/utils.py:355-364,
    * seasonal_decompose's centered MA with extrapolated edges).
    */
  def trend(daily: DataFrame, half: Int): DataFrame =
    daily.withColumn("trend",
      r3(avg(col("v")).over(wOrdered.rowsBetween(-half, half))))

  /** Detrended series: v − trend (reference: src/demo/utils.py:367). */
  def detrend(withTrend: DataFrame): DataFrame =
    withTrend.withColumn("detrended", r3(col("v") - col("trend")))

  /** Re-trend: add a trend back (reference: src/demo/utils.py:379). */
  def retrend(df: DataFrame, valueCol: String, trendCol: String, out: String): DataFrame =
    df.withColumn(out, r3(col(valueCol) + col(trendCol)))

  /** Per-series standardization of `detrended`: mean / population std /
    * scaled value (reference: src/demo/utils.py:390-419). Constant
    * series (std = 0) scale to NULL rather than ±inf.
    */
  def scale(withDetrend: DataFrame): DataFrame =
    withDetrend
      .withColumn("mean", r3(avg(col("detrended")).over(wKey)))
      .withColumn("std", r3(stddev_pop(col("detrended")).over(wKey)))
      .withColumn("scaled",
        r3((col("detrended") - col("mean")) / nullif(col("std"), lit(0.0))))

  /** Inverse of [[scale]] (reference rescaling: src/demo/utils.py:422). */
  def rescale(df: DataFrame, c: String, out: String): DataFrame =
    df.withColumn(out, r3(col(c) * col("std") + col("mean")))

  /** np.gradient-equivalent centered difference of `c`:
    * interior `(next − prev) / 2`, one-sided at the edges
    * (reference: np.gradient in src/demo/utils.py:474).
    */
  def gradient(df: DataFrame, c: String, out: String = "grad"): DataFrame = {
    val prev = lag(col(c), 1).over(wOrdered)
    val next = lead(col(c), 1).over(wOrdered)
    df.withColumn(out,
      r3(when(prev.isNull && next.isNull, lit(0.0))
        .when(prev.isNull, next - col(c))
        .when(next.isNull, col(c) - prev)
        .otherwise((next - prev) / 2.0)))
  }

  /** Tag each row as model input X (the `nX` days preceding the final
    * `nY`) or target y (the final `nY` days); drops older rows
    * (reference get_X/get_y: src/demo/utils.py:436-460).
    */
  def windowXY(daily: DataFrame, nX: Int, nY: Int): DataFrame =
    daily
      .withColumn("rn_end", row_number().over(Window.partitionBy(KEY).orderBy(col(DAY).desc)))
      .withColumn("part",
        when(col("rn_end") <= nY, lit("y"))
          .when(col("rn_end") <= nX + nY, lit("X")))
      .where(col("part").isNotNull)
      .drop("rn_end")

  /** Linear trend extrapolation `horizon` days past each series' end:
    * slope = median (or mean, with `median = false` — the reference's
    * `median=False` path, src/demo/utils.py:463) of the trend gradient
    * over the trailing `window` rows, forecast(h) = last_trend + slope·h
    * (reference extrapolate_trend, serve mode: src/demo/utils.py:463-498).
    */
  def extrapolateTrend(withTrend: DataFrame, window: Int, horizon: Int,
                       median: Boolean = true): DataFrame = {
    val g = gradient(withTrend, "trend", "g")
      .withColumn("rn_end", row_number().over(Window.partitionBy(KEY).orderBy(col(DAY).desc)))
    val perKey = g
      .where(col("rn_end") <= window)
      .groupBy(col(KEY))
      .agg(
        r3(if (median) expr("percentile(g, 0.5)") else avg(col("g"))).as("slope"),
        max_by(col("trend"), col(DAY)).as("last_trend"),
        max(col(DAY)).as("last_day"))
    perKey
      .select(col(KEY), col("slope"), col("last_trend"), col("last_day"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(
        col(KEY),
        date_add(col("last_day"), col("h")).as(DAY),
        r3(col("last_trend") + col("slope") * col("h")).as("v_hat"))
  }

  /** Train-mode trend extrapolation (reference extrapolate_trend with
    * serving_mode=False, src/demo/utils.py:476-490): slope = median
    * gradient over the trailing `window + horizon` rows, anchored at
    * the trend value `horizon+1` rows before the end — so the
    * extrapolation overlays the held-out actuals.
    */
  def extrapolateTrendTrain(withTrend: DataFrame, window: Int, horizon: Int): DataFrame = {
    val g = gradient(withTrend, "trend", "g")
      .withColumn("rn_end", row_number().over(Window.partitionBy(KEY).orderBy(col(DAY).desc)))
    val perKey = g
      .where(col("rn_end") <= window + horizon)
      .groupBy(col(KEY))
      .agg(
        r3(expr("percentile(g, 0.5)")).as("slope"),
        max(when(col("rn_end") === horizon + 1, col("trend"))).as("anchor_trend"),
        max(when(col("rn_end") === horizon + 1, col(DAY))).as("anchor_day"))
    perKey
      .select(col(KEY), col("slope"), col("anchor_trend"), col("anchor_day"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(
        col(KEY),
        date_add(col("anchor_day"), col("h")).as(DAY),
        r3(col("anchor_trend") + col("slope") * col("h")).as("v_hat"))
  }

  /** Per-key value quantiles (exact, interpolating — matches
    * quantile_cont semantics).
    */
  def quantiles(daily: DataFrame): DataFrame =
    daily.groupBy(col(KEY)).agg(
      r3(expr("percentile(v, 0.25)")).as("p25"),
      r3(expr("percentile(v, 0.5)")).as("p50"),
      r3(expr("percentile(v, 0.75)")).as("p75"),
      r3(expr("percentile(v, 0.95)")).as("p95"))

  /** Banded Theil–Sen robust slope per key: the median of pairwise
    * slopes `(vᵢ − vⱼ)/(dayᵢ − dayⱼ)` over all pairs at most `maxLag`
    * rows apart — the outlier-proof trend estimate next to
    * [[fitLinear]]'s OLS (a single corrupted day can move OLS
    * arbitrarily; the banded median needs half the band corrupted).
    * Banding makes the cost n·maxLag instead of the classic n²/2
    * while keeping every short-range slope — the estimator large-n
    * practice uses.
    *
    * Scale plan: all `maxLag` lag windows share ONE key exchange; the
    * explode is map-only; the per-key median is the same exact
    * interpolating percentile as [[quantiles]].
    */
  def theilSen(daily: DataFrame, maxLag: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(KEY)).orderBy(col(DAY))
    val slopes = (1 to maxLag).map(k =>
      ((col("v") - lag(col("v"), k).over(w)) /
        datediff(col(DAY), lag(col(DAY), k).over(w)).cast("double")).as(s"s$k"))
    daily.select(col(KEY) +: slopes: _*)
      .select(col(KEY),
        explode(array((1 to maxLag).map(k => col(s"s$k")): _*)).as("slope"))
      .where(col("slope").isNotNull)
      .groupBy(col(KEY))
      .agg(r3(expr("percentile(slope, 0.5)")).as("slope"),
        count(lit(1)).as("n_pairs"))
  }

  /** Monthly-slope "trajectory" metric: median (or mean, with
    * `median = false` — reference's `median=False` path,
    * src/demo/utils.py:501) daily gradient of the trend over the
    * trailing `windowDays`, scaled ×30.5
    * (reference trajectory: src/demo/utils.py:501-521).
    */
  def trajectory(withTrend: DataFrame, windowDays: Int,
                 median: Boolean = true): DataFrame = {
    val g = gradient(withTrend, "trend", "g")
      .withColumn("rn_end", row_number().over(Window.partitionBy(KEY).orderBy(col(DAY).desc)))
    g.where(col("rn_end") <= windowDays)
      .groupBy(col(KEY))
      .agg(r3((if (median) expr("percentile(g, 0.5)") else avg(col("g"))) * 30.5).as("trajectory"))
  }

  /** Low-information-series filter: keep series with ≥ `threshold`
    * non-zero day-over-day changes (constant series have none)
    * (reference time_series_cleaning: src/demo/utils.py:938-956).
    */
  def cleaning(daily: DataFrame, threshold: Int): DataFrame = {
    val d = daily.withColumn("diff", col("v") - lag(col("v"), 1).over(wOrdered))
    d.groupBy(col(KEY))
      .agg(sum(when(col("diff").isNotNull && col("diff") =!= 0.0, 1).otherwise(0)).as("changes"))
      .select(col(KEY), (col("changes") >= threshold).cast("int").as("keep"))
  }

  /** Deterministic train/val/test split: md5-hash bucket of the key —
    * reproducible across cluster sizes, unlike `randomSplit`
    * (reference: training.py:207 randomSplit(0.6/0.2/0.2)).
    * Buckets 0-5 train, 6-7 val, 8-9 test.
    */
  def split(daily: DataFrame): DataFrame =
    daily.withColumn("bucket",
        (conv(substring(md5(col(KEY).cast("string")), 1, 4), 16, 10).cast("int") % 10))
      .withColumn("subset",
        when(col("bucket") <= 5, lit("train"))
          .when(col("bucket") <= 7, lit("val"))
          .otherwise(lit("test")))
      .drop("bucket")

  /** Robust per-key scaling: (v − median)/IQR — [[scale]]'s
    * mean/σ standardization is itself dragged by the outliers a
    * cleaning pipeline wants to SEE; median/IQR stay put, so the
    * scaled value of a spike honestly reads "far" (the sklearn
    * RobustScaler convention). NULL when IQR = 0 (constant middle).
    * Two percentile windows + the projection on ONE key exchange.
    */
  def scaleRobust(daily: DataFrame): DataFrame =
    daily
      .withColumn("med", r3(expr("percentile(v, 0.5)").over(wKey)))
      .withColumn("iqr", r3(expr("percentile(v, 0.75)").over(wKey) -
        expr("percentile(v, 0.25)").over(wKey)))
      .select(col(KEY), col(DAY), col("v"), col("med"), col("iqr"),
        r3((col("v") - col("med")) / nullif(col("iqr"), lit(0.0)))
          .as("scaled_robust"))

  /** TEMPORAL train/val/test split per key: the last `testDays`
    * calendar days are test, the `valDays` before them validation,
    * everything earlier train — the LEAK-FREE split time-series
    * evaluation requires ([[split]]'s md5 key-bucketing puts the SAME
    * period in train and val for different keys, fine for cross-
    * SERIES generalization, but a model validated on days it saw
    * during training reports fantasy accuracy; forecast evaluation
    * must hold out the FUTURE). Cutoffs are per-key calendar days off
    * each key's own last day, so ragged series split consistently.
    */
  def splitTemporal(daily: DataFrame, valDays: Int, testDays: Int): DataFrame = {
    require(valDays >= 1 && testDays >= 1,
      s"splitTemporal: need positive windows, got val=$valDays test=$testDays")
    daily
      .withColumn("_maxd", max(col(DAY)).over(wKey))
      .withColumn("subset",
        when(col(DAY) > date_sub(col("_maxd"), testDays), "test")
          .when(col(DAY) > date_sub(col("_maxd"), testDays + valDays), "val")
          .otherwise("train"))
      .select(col(KEY), col(DAY), col("v"), col("subset"))
  }

  /** Z-score anomalies on the DESEASONALIZED residual — [[anomalies]]
    * blind-spot fix: a weekly-seasonal series' in-season spikes hide
    * inside the seasonal swing (σ inflated by the cycle), and normal
    * peak-day values false-alarm; removing the per-(key, dow) mean
    * first scores each day against its own weekday's baseline.
    * Same one-key-exchange window chain as the scale/deseasonalize
    * family — the extra seasonal window rides the existing partition.
    */
  def anomaliesDeseasonal(events: DataFrame, half: Int, z: Double): DataFrame =
    deseasonalize(detrend(trend(resampleDaily(events), half)))
      .withColumn("mean", r3(avg(col("deseasonal")).over(wKey)))
      .withColumn("std", r3(stddev_pop(col("deseasonal")).over(wKey)))
      .withColumn("scaled",
        r3((col("deseasonal") - col("mean")) / nullif(col("std"), lit(0.0))))
      .where(abs(col("scaled")) >= z)
      .select(col(KEY), col(DAY), col("deseasonal"), col("scaled"))

  /** Long→wide assembly: one row per key with the day-ordered series
    * as an array — the reference's data model
    * (`balance: array<float>`, create_time_series.py:185-196), used
    * at the ML-feed edge only (see SURVEY §3: long format is the
    * scale representation).
    */
  def assemble(daily: DataFrame): DataFrame =
    daily.groupBy(col(KEY))
      .agg(expr("sort_array(collect_list(struct(day, v)))").as("series"))
      .select(col(KEY),
        size(col("series")).cast("long").as("n_days"),
        expr("element_at(series, 1).day").as("first_day"),
        expr("element_at(series, -1).day").as("last_day"),
        expr("element_at(series, 1).v").as("first_v"),
        expr("element_at(series, -1).v").as("last_v"),
        r3(expr("aggregate(series, cast(0 as double), (acc, s) -> acc + s.v)")).as("v_sum"))

  /** Gap-fill: complete each key's day spine (min..max day) and carry
    * the last observed value forward. Spine generation is distributed
    * (per-key sequence explode); the fill is one running window —
    * no driver involvement, single shuffle.
    */
  def gapfill(daily: DataFrame): DataFrame = {
    val spine = daily.groupBy(col(KEY))
      .agg(min(col(DAY)).as("d0"), max(col(DAY)).as("d1"))
      .select(col(KEY), explode(expr("sequence(d0, d1, interval 1 day)")).as(DAY))
    spine.join(daily, Seq(KEY, DAY), "left")
      .withColumn("was_gap", col("v").isNull.cast("int"))
      .withColumn("v_filled",
        last(col("v"), ignoreNulls = true).over(wOrdered.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col(KEY), col(DAY), col("v_filled"), col("was_gap"))
  }

  /** Trailing rolling statistics over the last `n` rows per key. */
  def rolling(daily: DataFrame, n: Int): DataFrame = {
    val w = wOrdered.rowsBetween(-(n - 1), 0)
    daily
      .withColumn("roll_avg", r3(avg(col("v")).over(w)))
      .withColumn("roll_min", r3(min(col("v")).over(w)))
      .withColumn("roll_max", r3(max(col("v")).over(w)))
      .withColumn("roll_std", r3(stddev_pop(col("v")).over(w)))
  }

  /** Bollinger bands over the trailing `n`-row window per key:
    * mid = rolling mean, upper/lower = mid ± k·rolling σ, and %B
    * (`(v − lower)/(upper − lower)`, null while the window is flat) —
    * the rolling-volatility envelope the reference's anomaly plots
    * eyeball (src/demo/utils.py:921-938 flags |v−trend| outliers; the
    * band form normalizes the same deviation by LOCAL volatility).
    * Same single-shuffle window shape as [[rolling]]; bands derive
    * from the ROUNDED mid/σ so both engines compose bit-identically.
    */
  def bollinger(daily: DataFrame, n: Int, k: Double): DataFrame = {
    val w = wOrdered.rowsBetween(-(n - 1), 0)
    daily
      .withColumn("mid", r3(avg(col("v")).over(w)))
      .withColumn("sd", r3(stddev_pop(col("v")).over(w)))
      .withColumn("upper", r3(col("mid") + lit(k) * col("sd")))
      .withColumn("lower", r3(col("mid") - lit(k) * col("sd")))
      .withColumn("pct_b",
        when(col("sd") > 0.0,
          r3((col("v") - col("lower")) / (col("upper") - col("lower")))))
  }

  /** First `kMax` Fourier coefficients of each key's day-ordered
    * series: `a_k = 2/N Σᵢ vᵢ·cos(2πki/N)`, `b_k` likewise with sin,
    * and the harmonic power `a_k² + b_k²` — the spectral view of the
    * seasonality the reference bakes in as a period-30.5d sinusoid
    * (src/demo/create_time_series.py:110-139); the dominant k recovers
    * that period as N/k days.
    *
    * Scale shape: row index + length come from one window pass per
    * key; the k fan-out is a constant-`kMax` explode; the coefficient
    * sums are a map-side-combined groupBy on `(key, k)` — the shuffle
    * carries |keys|·kMax partial rows, never the series volume.
    */
  def harmonics(daily: DataFrame, kMax: Int): DataFrame =
    daily
      .withColumn("i", (row_number().over(wOrdered) - 1).cast("double"))
      .withColumn("n", count(lit(1)).over(wKey).cast("double"))
      .select(col(KEY), col("v"), col("i"), col("n"),
        explode(sequence(lit(1L), lit(kMax.toLong))).as("k"))
      .withColumn("theta",
        lit(2.0 * math.Pi) * col("k") * col("i") / col("n"))
      .groupBy(col(KEY), col("k"))
      .agg(
        r3(lit(2.0) * sum(col("v") * cos(col("theta"))) / max(col("n"))).as("a_k"),
        r3(lit(2.0) * sum(col("v") * sin(col("theta"))) / max(col("n"))).as("b_k"))
      .withColumn("power", r3(col("a_k") * col("a_k") + col("b_k") * col("b_k")))

  /** Split-half stationarity diagnostic per key: mean and population
    * variance of the first vs second half of the day-ordered series,
    * plus the level-shift (`|µ₂−µ₁|`) and variance-ratio
    * (`σ₂²/σ₁²`, null when the first half is flat) a drift monitor
    * thresholds on — the cheap distributed stand-in for an ADF test
    * (which needs per-series OLS; [[fitLinear]] covers the trend
    * view). One window pass for the index, one map-side-combined
    * groupBy; `2i < N` keeps the half split in exact integer math so
    * every engine buckets identically.
    */
  def stationarity(daily: DataFrame): DataFrame =
    daily
      .withColumn("i", row_number().over(wOrdered) - 1)
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("half", when(col("i") * 2 < col("n"), 0L).otherwise(1L))
      .groupBy(col(KEY))
      .agg(
        r3(avg(when(col("half") === 0, col("v")))).as("mu1"),
        r3(avg(when(col("half") === 1, col("v")))).as("mu2"),
        r3(var_pop(when(col("half") === 0, col("v")))).as("var1"),
        r3(var_pop(when(col("half") === 1, col("v")))).as("var2"))
      .withColumn("level_shift", r3(abs(col("mu2") - col("mu1"))))
      .withColumn("var_ratio",
        when(col("var1") > 0.0, r3(col("var2") / col("var1"))))

  /** Final exponentially-weighted moving average per key
    * (`ewma₀ = v₀; ewmaₜ = (1−α)·ewmaₜ₋₁ + α·vₜ`) — folded over the
    * day-ordered series by the native codegen'd
    * [[graft.functions.EwmaFold]] loop (an interpreted `aggregate`
    * HOF evaluates its lambda per element — the doc_fingerprint
    * lesson; at 635-day reference series × 10⁸ keys that interpreter
    * tax dominates). [[ewmaHof]] keeps the HOF formulation as the
    * parity oracle.
    */
  def ewma(daily: DataFrame, alpha: Double): DataFrame = {
    graft.functions.VectorExprs.register(daily.sparkSession)
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vals"))
      .select(col(KEY),
        r3(expr(s"graft_ewma(vals, cast($alpha as double))")).as("ewma"))
  }

  /** Interpreted-HOF twin of [[ewma]] (list_reduce semantics, engine-
    * portable SQL) — retained as the parity spec's reference.
    */
  def ewmaHof(daily: DataFrame, alpha: Double): DataFrame =
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vals"))
      .select(col(KEY),
        r3(expr(s"aggregate(vals, cast(null as double), (acc, x) -> " +
          s"CASE WHEN acc IS NULL THEN x ELSE acc * ${1 - alpha} + x * $alpha END)")).as("ewma"))

  /** Holt double-exponential smoothing per key: final (level, trend)
    * of the `l = α·v + (1−α)(l+b); b = β·Δl + (1−β)b` recursion over
    * the day-ordered series, plus the h-step-ahead linear forecast
    * `level + h·trend` — the classic trend-aware sequel to [[ewma]],
    * folded by the native codegen [[graft.functions.HoltFold]] in one
    * pass (oracle: DuckDB recursive CTE with identical
    * parenthesization).
    */
  def holt(daily: DataFrame, alpha: Double, beta: Double, horizon: Int): DataFrame = {
    graft.functions.VectorExprs.register(daily.sparkSession)
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vals"))
      .select(col(KEY), expr(
        s"graft_holt(vals, cast($alpha as double), cast($beta as double))").as("hb"))
      .select(col(KEY),
        r3(expr("element_at(hb, 1)")).as("level"),
        r3(expr("element_at(hb, 2)")).as("trend"),
        r3(expr(s"element_at(hb, 1) + element_at(hb, 2) * $horizon.0")).as("forecast"))
  }

  /** Damped-trend Holt smoothing per key (Gardner & McKenzie 1985):
    * final (level, trend) of `l = α·v + (1−α)(l + φ·b); b = β·Δl +
    * (1−β)·φ·b`, plus the h-step forecast `l + b·Σᵢ₌₁ʰ φⁱ` — the
    * damping flattens long-horizon projections toward a finite
    * asymptote where plain [[holt]] extrapolates the last trend
    * forever (the M-competition default for trend methods). Folded
    * by the native codegen [[graft.functions.DampedHoltFold]] in one
    * pass; the geometric damping sum is a driver-side literal shared
    * with the oracle.
    */
  def holtDamped(daily: DataFrame, alpha: Double, beta: Double, phi: Double,
                 horizon: Int): DataFrame = {
    require(phi > 0.0 && phi < 1.0, s"holtDamped: need 0 < phi < 1, got $phi")
    graft.functions.VectorExprs.register(daily.sparkSession)
    val damp = (1 to horizon).map(i => math.pow(phi, i.toDouble)).sum
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vals"))
      .select(col(KEY), expr(
        s"graft_holt_damped(vals, cast($alpha as double), cast($beta as double), " +
          s"cast($phi as double))").as("hb"))
      .select(col(KEY),
        r3(expr("element_at(hb, 1)")).as("level"),
        r3(expr("element_at(hb, 2)")).as("trend"),
        r3(expr(s"element_at(hb, 1) + element_at(hb, 2) * $damp")).as("forecast"))
  }

  /** Local-level Kalman smoother per key: final (level, error
    * variance, gain) of the `p' = p + q; k = p'/(p'+r); l += (v−l)k;
    * p = (1−k)p'` recursion over the day-ordered series — the
    * noise-aware level estimate next to [[holt]]'s trend recursion,
    * folded by the native codegen [[graft.functions.KalmanFold]] in
    * one pass (oracle: DuckDB recursive CTE, identical
    * parenthesization). The final gain is the converged steady-state
    * Kalman gain for the (q, r) pair.
    */
  def kalman(daily: DataFrame, q: Double, rObs: Double): DataFrame = {
    graft.functions.VectorExprs.register(daily.sparkSession)
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vals"))
      .select(col(KEY), expr(
        s"graft_kalman(vals, cast($q as double), cast($rObs as double))").as("kf"))
      .select(col(KEY),
        r3(expr("element_at(kf, 1)")).as("level"),
        r3(expr("element_at(kf, 2)")).as("p_var"),
        r3(expr("element_at(kf, 3)")).as("gain"))
  }

  /** Two-sided CUSUM drift chart per key (Page 1954): standardize the
    * series against its own mean/σ (both rounded, the [[scale]]
    * convention), then fold the
    * `s⁺ = max(0, s⁺ + z − k); s⁻ = min(0, s⁻ + z + k)` recursion with
    * alarm-and-reset at ±h — the SEQUENTIAL changepoint monitor next
    * to [[changepoint]]'s single retrospective shift (a drift monitor
    * thresholds on the alarm count; the reference's injected
    * level-shift spikes, create_time_series.py:147, are exactly what
    * this chart fires on). Constant series carry no signal and are
    * excluded (σ = 0).
    *
    * Scale plan: mean/σ window + groupBy collect share ONE key
    * exchange; the fold is the native codegen
    * [[graft.functions.CusumFold]] — one pass per series, O(1) state.
    * Output: (key, n_alarms, first_alarm (1-based day rank, NULL when
    * none), max_spos, min_sneg).
    */
  def cusum(daily: DataFrame, k: Double, h: Double): DataFrame = {
    graft.functions.VectorExprs.register(daily.sparkSession)
    daily
      .withColumn("mu", r3(avg(col("v")).over(wKey)))
      .withColumn("sd", r3(stddev_pop(col("v")).over(wKey)))
      .where(col("sd") > 0.0)
      .withColumn("z", r3((col("v") - col("mu")) / col("sd")))
      .groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, z))), s -> s.z)").as("zs"))
      .select(col(KEY), expr(
        s"graft_cusum(zs, cast($k as double), cast($h as double))").as("cs"))
      .select(col(KEY),
        expr("element_at(cs, 1)").cast("long").as("n_alarms"),
        when(expr("element_at(cs, 2)") >= 0.0,
          expr("element_at(cs, 2)").cast("long")).as("first_alarm"),
        r3(expr("element_at(cs, 3)")).as("max_spos"),
        r3(expr("element_at(cs, 4)")).as("min_sneg"))
  }

  /** MASE (Hyndman-Koehler 2006) per key: the forecast's MAE scaled by
    * the TRAINING history's naive one-step MAE — the scale-free metric
    * that makes series of different magnitudes comparable (the
    * reference's R2/MSE/MAE, notebooks/scoring.py, are all
    * scale-bound). mase < 1 ⟺ the forecast beats the naive carry-
    * forward. NULL for keys whose history never changes (zero naive
    * error).
    *
    * Scale plan: the forecast side is [[forecastBaseline]]'s core run
    * on a numbered daily frame persisted HERE, and the naive scale is
    * one lag window + one agg over that SAME persisted frame — the
    * event-volume resample runs once per call, not once per branch.
    * The per-key-scalar result is checkpointed eagerly so the cache
    * entry drops in the finally (the [[forecastBaseline]] hygiene
    * contract).
    */
  def mase(events: DataFrame, half: Int, window: Int, horizon: Int): DataFrame = {
    val daily = numberedDaily(events).persist()
    try {
      val scored = forecastFromNumbered(daily, half, window, horizon)
      val naive = daily
        .where(col("rn_end") > horizon)
        .withColumn("prev", lag(col("v"), 1).over(wOrdered))
        .where(col("prev").isNotNull)
        .groupBy(col(KEY))
        .agg(r3(avg(abs(col("v") - col("prev")))).as("naive_mae"))
      scored.groupBy(col(KEY))
        .agg(r3(avg(abs(col("v_hat") - col("v_actual")))).as("mae"))
        .join(naive, KEY)
        .select(col(KEY), col("mae"), col("naive_mae"),
          when(col("naive_mae") > 0.0, r3(col("mae") / col("naive_mae"))).as("mase"))
        .localCheckpoint()
    } finally daily.unpersist(blocking = false)
  }

  /** Croston's method (1972) per key — the intermittent-demand
    * forecaster: over a DENSE daily spine of `purchase` counts, SES-
    * smooth the nonzero demand SIZES and the inter-demand INTERVALS
    * separately; forecast = size / interval (expected demand per day).
    * The daily resample is the wrong input here — a continuous-valued
    * series is never zero; counts of a sparse event type are genuinely
    * intermittent, which is the regime Croston exists for.
    *
    * Scale plan: the spine explode is map-only off a per-key (min,
    * max) day agg; the demand join co-partitions on key; both SES
    * recursions ride the native [[graft.functions.EwmaFold]] over
    * arrays derived by map-side HOFs (sizes = filter > 0; intervals =
    * successive diffs of the 1-based nonzero positions, first interval
    * = first position). Keys with no demand at all drop (no forecast
    * basis). Demands are small integer counts, so the recursion needs
    * no intermediate rounding to stay engine-identical.
    */
  def croston(events: DataFrame, alpha: Double, demandType: String = "purchase"): DataFrame = {
    graft.functions.VectorExprs.register(events.sparkSession)
    val bounds = events.groupBy(col(KEY))
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val spine = bounds.select(col(KEY),
      explode(expr("sequence(d0, d1, interval 1 day)")).as(DAY))
    val demand = events.where(col("event_type") === demandType)
      .groupBy(col(KEY), to_date(col("ts")).as(DAY))
      .agg(count(lit(1)).cast("double").as("n"))
    spine.join(demand, Seq(KEY, DAY), "left_outer")
      .select(col(KEY), col(DAY), coalesce(col("n"), lit(0.0)).as("v"))
      .groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vs"))
      .select(col(KEY),
        expr("filter(vs, x -> x > 0.0)").as("sizes"),
        expr("filter(transform(vs, (x, i) -> IF(x > 0.0, CAST(i + 1 AS DOUBLE), " +
          "CAST(NULL AS DOUBLE))), p -> p IS NOT NULL)").as("pos"))
      .where(size(col("sizes")) > 0)
      .select(col(KEY), col("sizes"),
        expr("transform(sequence(1, size(pos)), j -> IF(j = 1, element_at(pos, 1), " +
          "element_at(pos, j) - element_at(pos, j - 1)))").as("ivs"))
      .select(col(KEY),
        expr(s"graft_ewma(sizes, cast($alpha as double))").as("z_hat"),
        expr(s"graft_ewma(ivs, cast($alpha as double))").as("p_hat"),
        size(col("sizes")).cast("long").as("n_demands"))
      .select(col(KEY), r3(col("z_hat")).as("z_hat"), r3(col("p_hat")).as("p_hat"),
        col("n_demands"), r3(col("z_hat") / col("p_hat")).as("forecast"))
  }

  /** Syntetos–Boylan demand classification per key (Syntetos, Boylan
    * & Croston 2005): ADI = mean inter-demand interval (Σintervals /
    * n = last demand position / n, intervals counted from series
    * start — [[croston]]'s convention) and CV² = var/mean² of the
    * nonzero daily demand sizes, cut at the published boundaries
    * (ADI 1.32, CV² 0.49) into `smooth` / `intermittent` / `erratic`
    * / `lumpy` — the router that decides WHICH forecaster a key gets
    * (SES-family for smooth, [[croston]]/SBA for intermittent-lumpy),
    * upstream of [[forecastAuto]]'s profile routing. Boundaries
    * compare the r3-ROUNDED statistics, so the label is engine-
    * reproducible even for keys that land near a cutoff.
    *
    * Scale plan: one groupBy per grain, all aggregates map-side
    * combined (count/max/avg/var_pop); the per-key first-day frame
    * joins on the same key exchange. No spine explode needed —
    * demand positions derive from datediff against the key's first
    * event day, so zero-days are implied, never materialized.
    */
  def demandClassify(events: DataFrame): DataFrame = {
    val d0 = events.groupBy(col(KEY)).agg(to_date(min(col("ts"))).as("d0"))
    val demand = events
      .groupBy(col(KEY), to_date(col("ts")).as(DAY))
      .agg(count(lit(1)).cast("double").as("n"))
    val st = demand.join(d0, KEY)
      .select(col(KEY),
        (datediff(col(DAY), col("d0")) + 1).cast("double").as("pos"), col("n"))
      .groupBy(col(KEY))
      .agg(count(lit(1)).as("n_demands"),
        r3(max(col("pos")) / count(lit(1))).as("adi"),
        r3(var_pop(col("n")) / (avg(col("n")) * avg(col("n")))).as("cv2"))
    st.select(col(KEY), col("n_demands"), col("adi"), col("cv2"),
      when(col("adi") < 1.32 && col("cv2") < 0.49, "smooth")
        .when(col("adi") >= 1.32 && col("cv2") < 0.49, "intermittent")
        .when(col("adi") < 1.32, "erratic")
        .otherwise("lumpy").as("demand_class"))
  }

  /** Additive Holt-Winters per key: final (level, trend) of the
    * triple-smoothing recursion over the day-ordered series (period-m
    * seasonal state, [[graft.functions.HwFold]], one codegen'd pass),
    * plus the h-step seasonal forecast
    * `level + h·trend + s[(t_last + h) mod m]` — the classic seasonal
    * baseline for the reference's period-30.5d signals
    * (src/demo/create_time_series.py:110-139), next to [[holt]]'s
    * trend-only forecast. Oracle: DuckDB recursive CTE carrying the m
    * seasonals as a list column, identical parenthesization.
    */
  /** The folded Holt-Winters state per key — `(key, hw)` with hw =
    * [level, trend, count, s₀…s₍ₘ₋₁₎]; shared by [[holtWinters]] and
    * [[holtWintersForecast]].
    */
  private def hwState(daily: DataFrame, alpha: Double, beta: Double,
                      gamma: Double, period: Int): DataFrame = {
    graft.functions.VectorExprs.register(daily.sparkSession)
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vals"))
      .select(col(KEY), expr(
        s"graft_holt_winters(vals, cast($alpha as double), cast($beta as double), " +
          s"cast($gamma as double), $period)").as("hw"))
  }

  def holtWinters(daily: DataFrame, alpha: Double, beta: Double, gamma: Double,
                  period: Int, horizon: Int): DataFrame =
    hwState(daily, alpha, beta, gamma, period)
      .select(col(KEY),
        r3(expr("element_at(hw, 1)")).as("level"),
        r3(expr("element_at(hw, 2)")).as("trend"),
        r3(expr(s"element_at(hw, 1) + element_at(hw, 2) * $horizon.0 + " +
          s"element_at(hw, 4 + cast(pmod(cast(element_at(hw, 3) as bigint) - 1 + $horizon, $period) as int))"))
          .as("forecast"))

  /** The full Holt-Winters forecast CURVE: one row per (key, step)
    * for steps 1..horizon, each picking its seasonal slot — what a
    * downstream scorer ([[metrics]]) consumes, next to
    * [[forecastBaseline]]'s trend-only curve. The fold runs once per
    * key; the horizon explode is a map-only sequence.
    */
  def holtWintersForecast(daily: DataFrame, alpha: Double, beta: Double,
                          gamma: Double, period: Int, horizon: Int): DataFrame =
    hwState(daily, alpha, beta, gamma, period)
      .select(col(KEY), col("hw"),
        explode(expr(s"sequence(1, $horizon)")).as("h"))
      .select(col(KEY), col("h").cast("long").as("h"),
        r3(expr(s"element_at(hw, 1) + element_at(hw, 2) * cast(h as double) + " +
          s"element_at(hw, 4 + cast(pmod(cast(element_at(hw, 3) as bigint) - 1 + h, $period) as int))"))
          .as("forecast"))

  /** Z-score anomaly days: |scaled| ≥ `z` on the detrended,
    * standardized series — the reference's spike events
    * (create_time_series.py:147-153) surfaced as a filter.
    */
  def anomalies(events: DataFrame, half: Int, z: Double): DataFrame =
    scale(detrend(trend(resampleDaily(events), half)))
      .where(abs(col("scaled")) >= z)
      .select(col(KEY), col(DAY), col("v"), col("scaled"))

  /** Day-over-day and week-over-week growth rates per key —
    * `v/v_lag − 1`, CALENDAR-honest: the rate is NULL unless the
    * lagged row is exactly 1 (resp. 7) calendar days back, so gaps in
    * the daily frame never silently compare non-adjacent days (the
    * row-lag shortcut reads "growth since whenever we last saw you"
    * — a different, usually wrong, metric). Flat-to-zero days yield
    * NULL (division guard). The dashboard deltas every KPI report
    * leads with.
    *
    * Two lag windows sharing the one key exchange; pure projection
    * otherwise.
    */
  def growthRates(daily: DataFrame): DataFrame = {
    def rate(lagN: Int): Column = {
      val lv = lag(col("v"), lagN).over(wOrdered)
      val ld = lag(col(DAY), lagN).over(wOrdered)
      when(datediff(col(DAY), ld) === lagN,
        r3(col("v") / nullif(lv, lit(0.0)) - lit(1.0)))
    }
    daily.select(col(KEY), col(DAY), col("v"),
      rate(1).as("dod"), rate(7).as("wow"))
  }

  /** Consecutive-day RUNS of anomalous days per key — the persistence
    * view of [[anomalies]]: a one-day spike and a week-long regime
    * break both flag days, but only the run length tells an on-call
    * which one they have. Gaps-and-islands on the DATE axis (island =
    * day − row_number, so calendar-adjacent flagged days share a
    * group even across unflagged stretches of the underlying series);
    * emits start/end/length and the peak |z| per run.
    *
    * The flag chain reuses the one key exchange; the island window
    * rides the same partitioning; the run collapse is map-side
    * combined.
    */
  def anomalyRuns(events: DataFrame, half: Int, z: Double): DataFrame =
    anomalies(events, half, z)
      .withColumn("grp", expr(
        s"date_sub($DAY, cast(row_number() over (partition by $KEY order by $DAY) as int))"))
      .groupBy(col(KEY), col("grp"))
      .agg(min(col(DAY)).as("run_start"), max(col(DAY)).as("run_end"),
        count(lit(1)).as("run_len"),
        r3(max(abs(col("scaled")))).as("peak_z"))
      .select(col(KEY), col("run_start"), col("run_end"), col("run_len"), col("peak_z"))

  /** Autocorrelation of the daily series at the given lags (Pearson
    * corr of v against lag-k v per key) — the classic periodicity
    * check for the reference's period-30.5d seasonal signals
    * (create_time_series.py:110-139). NULL for constant series.
    */
  def acf(daily: DataFrame, lags: Seq[Int]): DataFrame = {
    val withLags = lags.foldLeft(daily)((d, l) =>
      d.withColumn(s"v_l$l", lag(col("v"), l).over(wOrdered)))
    // Pearson r with an explicit zero-variance guard (ANSI-mode corr
    // raises DIVIDE_BY_ZERO on constant series; DuckDB's CORR yields
    // NULL). Stats restricted to pair-complete rows like CORR's.
    def acfCol(l: Int): Column = {
      val vl = col(s"v_l$l")
      val vp = when(vl.isNotNull, col("v"))
      r3(covar_pop(vp, vl) /
        nullif(stddev_pop(vp) * stddev_pop(vl), lit(0.0)))
    }
    withLags.groupBy(col(KEY))
      .agg(acfCol(lags.head).as(s"acf_${lags.head}"),
        lags.tail.map(l => acfCol(l).as(s"acf_$l")): _*)
  }

  /** The corpus mean PROFILE: mean daily value by day RANK across all
    * keys (rounded) — the "typical series" [[dtwToProfile]] measures
    * distance against.
    */
  def meanProfile(daily: DataFrame): DataFrame =
    daily
      .withColumn("rn", row_number().over(wOrdered))
      .groupBy(col("rn")).agg(r3(avg(col("v"))).as("mu"))

  /** Banded DTW distance of each key's day-ordered series to a
    * reference profile `(rn, mu)` — dynamic time warping (Sakoe-Chiba
    * band): the alignment-tolerant series distance behind shape
    * clustering and "which users deviate from the typical pattern"
    * audits (a plain Euclidean distance calls a one-day shift a big
    * deviation; DTW absorbs it). Cells with |i−j| > band are
    * unreachable; keys whose DP corner stays unreachable (length gap
    * > band) emit NULL.
    *
    * Execution is the ANTI-DIAGONAL DP: cells on diagonal d depend
    * only on diagonals d−1 and d−2, so each fold step is an
    * element-wise `transform` over the new diagonal with lookups into
    * the two carried arrays — no within-step sequential dependency,
    * which is exactly what makes the recursion expressible both as a
    * Spark higher-order fold and as the oracle's recursive CTE with
    * the identical IEEE ops (|a−r| + least of three). Each diagonal's
    * array is CLAMPED to the Sakoe–Chiba band ∩ the row range
    * (`i ∈ [⌈(d−band)/2⌉, ⌊(d+band)/2⌋]` intersected with
    * `[max(1, d−m), min(n, d−1)]`), so the cost is n·band per key,
    * not n·m; out-of-band neighbours resolve to the 1e18 sentinel
    * through the lookup's bounds check — identical cell values (and
    * therefore identical output) to the unclamped recursion, because
    * every excluded cell held the sentinel anyway. An empty
    * intersection (band < |i−j| everywhere on the diagonal, possible
    * when band < |n−m|) yields a one-element sentinel array that no
    * in-band lookup ever reads.
    *
    * Scale plan: profile is ≤ max-series-length rows (1-row crossJoin,
    * broadcast-class); one key exchange for the collect; the fold is
    * per-key, O(n·m) bounded by series length, never corpus volume.
    */
  def dtwToRef(daily: DataFrame, ref: DataFrame, band: Int): DataFrame = {
    require(band >= 0, s"dtwToRef: band must be >= 0, got $band")
    val INF = "1.0E18D"
    // band-clamped first/last row index of diagonal dp
    def st(dp: String) =
      s"greatest(1, ($dp) - m, cast(ceil((($dp) - $band) / 2.0D) as int))"
    def en(dp: String) =
      s"least(n, ($dp) - 1, cast(floor((($dp) + $band) / 2.0D) as int))"
    // lookup of global row i in a carried diagonal array `arr` whose
    // first element is row `stv` — the start index rides in the fold
    // state, so the clamp arithmetic runs once per DIAGONAL, never
    // per cell (the per-cell ceil/floor variant probed 1.7× slower
    // than unclamped; this shape is the one that wins)
    def lk(arr: String, stv: String, ii: String) =
      s"""IF($ii >= $stv AND $ii < $stv + size($arr),
         |   element_at($arr, cast($ii - $stv + 1 as int)), $INF)""".stripMargin
    // cell (i, j = dd − i) of diagonal dd, from carried diagonals
    // s.d1/s.d2 with start rows s.s1/s.s2
    def cell(dd: String, i: String) =
      s"""CASE WHEN abs(2 * $i - ($dd)) > $band THEN $INF
         |     ELSE abs(element_at(a, cast($i as int)) - element_at(rr, cast(($dd) - $i as int))) +
         |          least(${lk("s.d1", "s.s1", s"$i - 1")},
         |                ${lk("s.d1", "s.s1", s"$i")},
         |                ${lk("s.d2", "s.s2", s"$i - 1")})
         |END""".stripMargin
    val anchor = s"array(CASE WHEN abs(2 - 2) > $band THEN $INF " +
      s"ELSE abs(element_at(a, 1) - element_at(rr, 1)) END)"
    val fold =
      s"""IF(n + m = 2, element_at($anchor, 1),
         |  element_at(aggregate(
         |    sequence(3, n + m),
         |    named_struct('d1', $anchor, 's1', 1,
         |                 'd2', cast(array() as array<double>), 's2', 1),
         |    (s, d) -> named_struct(
         |      'd1', IF(${st("d")} > ${en("d")}, array($INF),
         |               transform(sequence(${st("d")}, ${en("d")}),
         |                         i -> ${cell("d", "i")})),
         |      's1', ${st("d")},
         |      'd2', s.d1, 's2', s.s1),
         |    s -> s.d1), 1))""".stripMargin
    val refArr = ref.groupBy()
      .agg(expr("transform(sort_array(collect_list(struct(rn, mu))), s -> s.mu)").as("rr"))
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("a"))
      .crossJoin(broadcast(refArr))
      .withColumn("n", size(col("a")))
      .withColumn("m", size(col("rr")))
      .select(col(KEY), col("n").cast("long").as("n"), expr(fold).as("raw"))
      .select(col(KEY), col("n"),
        when(col("raw") < 1.0e17, r3(col("raw"))).as("dtw"))
  }

  /** [[dtwToRef]] against the corpus [[meanProfile]] — per-key
    * distance to the typical series.
    */
  def dtwToProfile(daily: DataFrame, band: Int): DataFrame =
    dtwToRef(daily, meanProfile(daily), band)

  /** Ljung–Box portmanteau statistic per key at lags 1..3:
    * `Q = n(n+2) Σ r_k²/(n−k)` over the (rounded, guarded) [[acf]]
    * estimates — the "is there ANY autocorrelation left" test a
    * forecaster's residuals are held to (white residuals ⟹ Q small;
    * χ²₃ 95% critical value ≈ 7.81). NULL acf (constant series)
    * yields NULL Q.
    *
    * Scale plan: the acf aggregate's single key exchange; the Q
    * composition is a pure projection on per-key scalars.
    */
  def ljungBox(daily: DataFrame): DataFrame = {
    def acfAgg(l: Int): Column = {
      val vl = col(s"v_l$l")
      val vp = when(vl.isNotNull, col("v"))
      r3(covar_pop(vp, vl) /
        nullif(stddev_pop(vp) * stddev_pop(vl), lit(0.0)))
    }
    val st = (1 to 3).foldLeft(daily)((d, l) =>
      d.withColumn(s"v_l$l", lag(col("v"), l).over(wOrdered)))
      .groupBy(col(KEY))
      .agg(count(lit(1)).as("n"),
        acfAgg(1).as("r1"), acfAgg(2).as("r2"), acfAgg(3).as("r3"))
    val n = col("n").cast("double")
    st.select(col(KEY), col("n"),
      r3(n * (n + 2.0) * (
        col("r1") * col("r1") / (n - 1.0) +
        col("r2") * col("r2") / (n - 2.0) +
        col("r3") * col("r3") / (n - 3.0))).as("q_stat"))
  }

  /** AR(2) forecast via Yule–Walker per key — the parametric
    * forecaster the [[acf]]/[[pacf]] diagnostics point at: from the
    * (rounded, guarded) autocorrelations,
    * `φ₁ = r₁(1−r₂)/(1−r₁²)`, `φ₂ = (r₂−r₁²)/(1−r₁²)`, and the
    * forecast recursion `x̂ₕ = μ + φ₁(x̂ₕ₋₁−μ) + φ₂(x̂ₕ₋₂−μ)` seeded on
    * the last two observed values runs `horizon` unrolled pure
    * projections (each step rounded — engine-identical). Keys with
    * degenerate acf (constant series, |r₁| = 1) or < 2 observations
    * drop — no defined model.
    *
    * Scale plan: ONE pass — the lag windows, the reverse rank and the
    * aggregate all share a single key exchange; everything after is
    * per-key scalars and a map-only horizon explode.
    */
  def arForecast(daily: DataFrame, horizon: Int): DataFrame = {
    require(horizon >= 1, s"arForecast: horizon must be >= 1, got $horizon")
    def acfAgg(l: Int): Column = {
      val vl = col(s"v_l$l")
      val vp = when(vl.isNotNull, col("v"))
      r3(covar_pop(vp, vl) /
        nullif(stddev_pop(vp) * stddev_pop(vl), lit(0.0)))
    }
    val st = daily
      .withColumn("v_l1", lag(col("v"), 1).over(wOrdered))
      .withColumn("v_l2", lag(col("v"), 2).over(wOrdered))
      .withColumn("rn_end", row_number().over(
        Window.partitionBy(KEY).orderBy(col(DAY).desc)))
      .groupBy(col(KEY))
      .agg(acfAgg(1).as("r1"), acfAgg(2).as("r2"),
        r3(avg(col("v"))).as("mu"),
        max(when(col("rn_end") === 1, col("v"))).as("x_last"),
        max(when(col("rn_end") === 2, col("v"))).as("x_prev"),
        max(col(DAY)).as("last_day"))
    val den = nullif(lit(1.0) - col("r1") * col("r1"), lit(0.0))
    var cur = st
      .where(col("r1").isNotNull && col("r2").isNotNull && col("x_prev").isNotNull)
      .withColumn("phi1", r3(col("r1") * (lit(1.0) - col("r2")) / den))
      .withColumn("phi2", r3((col("r2") - col("r1") * col("r1")) / den))
      .where(col("phi1").isNotNull && col("phi2").isNotNull)
    for (s <- 1 to horizon) {
      val p1 = if (s == 1) col("x_last") else col(s"f${s - 1}")
      val p2 = if (s == 1) col("x_prev") else if (s == 2) col("x_last") else col(s"f${s - 2}")
      cur = cur.withColumn(s"f$s",
        r3(col("mu") + col("phi1") * (p1 - col("mu")) + col("phi2") * (p2 - col("mu"))))
    }
    cur
      .select(col(KEY), col("last_day"), col("phi1"), col("phi2"),
        posexplode(array((1 to horizon).map(s => col(s"f$s")): _*)))
      .select(col(KEY),
        date_add(col("last_day"), col("pos") + 1).as(DAY),
        (col("pos") + 1).cast("long").as("step"),
        col("phi1"), col("phi2"), col("col").as("forecast"))
  }

  /** ARI(2,1) forecast — [[arForecast]] on the FIRST-DIFFERENCED
    * series, integrated back (the "I" of ARIMA): trending series
    * violate AR's stationarity assumption, differencing removes the
    * unit root, and the level forecast is the last observed value
    * plus the cumulative differenced forecast. Emits both the
    * differenced step forecasts (`d_hat`) and the integrated level
    * (`forecast`) so the decomposition is auditable.
    *
    * Scale plan: one lag window on the key exchange produces the
    * differences; the AR chain is 18as's single aggregate pass; the
    * integration is a per-key cumulative window over `horizon` rows
    * joined with a |keys|-sized last-value frame. Summation order in
    * the integration window is fixed (by step), so the rounded sum is
    * engine-identical.
    */
  def diffArForecast(daily: DataFrame, horizon: Int): DataFrame = {
    val diffed = daily
      .withColumn("d", r3(col("v") - lag(col("v"), 1).over(wOrdered)))
      .where(col("d").isNotNull)
      .select(col(KEY), col(DAY), col("d").as("v"))
    val lastV = daily.groupBy(col(KEY)).agg(max_by(col("v"), col(DAY)).as("v_last"))
    arForecast(diffed, horizon)
      .join(lastV, KEY)
      .withColumn("cum_d", sum(col("forecast")).over(
        Window.partitionBy(col(KEY)).orderBy(col("step"))))
      .select(col(KEY), col(DAY), col("step"), col("phi1"), col("phi2"),
        col("forecast").as("d_hat"),
        r3(col("v_last") + col("cum_d")).as("forecast"))
  }

  /** Partial autocorrelation at lags 1–3 per key, via the
    * Durbin–Levinson recursion unrolled to closed forms over the
    * [[acf]] estimates (the AR-order diagnostic that separates direct
    * lag-k dependence from what lags 1..k−1 already explain):
    * φ₁₁ = r₁; φ₂₂ = (r₂ − r₁²)/(1 − r₁²); φ₂₁ = r₁(1 − φ₂₂);
    * φ₃₃ = (r₃ − φ₂₁r₂ − φ₂₂r₁)/(1 − φ₂₁r₁ − φ₂₂r₂).
    *
    * Degenerate guards are NULLIF on the DL denominators (|r₁| = 1,
    * e.g. a perfectly linear series, has no defined partials beyond
    * lag 1). The arithmetic runs on the ROUNDED acf values with an
    * identical expression tree in the oracle, so per-row IEEE ops
    * make the result bit-equal with no further intermediate rounding.
    * Cost = the acf aggregate itself; the DL step is a projection.
    */
  def pacf(daily: DataFrame): DataFrame = {
    val a = acf(daily, Seq(1, 2, 3))
    val r1 = col("acf_1"); val r2 = col("acf_2"); val rr3 = col("acf_3")
    val phi22 = (r2 - r1 * r1) / nullif(lit(1.0) - r1 * r1, lit(0.0))
    val phi21 = r1 * (lit(1.0) - phi22)
    val phi33 = (rr3 - phi21 * r2 - phi22 * r1) /
      nullif(lit(1.0) - phi21 * r1 - phi22 * r2, lit(0.0))
    a.select(col(KEY),
      r1.as("pacf_1"),
      r3(phi22).as("pacf_2"),
      r3(phi33).as("pacf_3"))
  }

  /** Lagged cross-correlation between two event-type series per key:
    * ccf(k) = Pearson r of (a_d, b_{d−k}) over calendar days where
    * BOTH series have a value — does typeB lead typeA by k days (the
    * classic lead-lag probe next to [[acf]]'s self-correlation).
    * Daily sums are rounded (the shared daily convention) so both
    * engines correlate bit-identical inputs; the lag dimension is a
    * broadcast `range`, so the cost is |lags| map-side day-shifted
    * copies of the A side joining B on (key, day) — linear in the
    * data, never a per-user cross product.
    */
  def crossCorr(events: DataFrame, typeA: String, typeB: String,
                maxLag: Int): DataFrame = {
    val spark = events.sparkSession
    def perType(t: String, vName: String) =
      events.where(col("event_type") === t)
        .groupBy(col(KEY), to_date(col("ts")).as(DAY))
        .agg(r3(sum(col("value"))).as(vName))
    val a = perType(typeA, "va")
    val b = perType(typeB, "vb").withColumnRenamed(DAY, "bday")
    val lagsDim = spark.range(0L, maxLag + 1L).toDF("lag")
    val shifted = a.crossJoin(broadcast(lagsDim))
      .withColumn("bday", date_sub(col(DAY), col("lag").cast("int")))
    shifted.join(b, Seq(KEY, "bday"))
      .groupBy(col(KEY), col("lag"))
      .agg(r3(covar_pop(col("va"), col("vb")) /
        nullif(stddev_pop(col("va")) * stddev_pop(col("vb")), lit(0.0))).as("ccf"))
  }

  /** Largest level shift per key: the day with the biggest absolute
    * day-over-day change and its signed magnitude — surfaces the
    * reference's injected level-shift spikes
    * (create_time_series.py:147-153). Deterministic tie-break on day.
    */
  def changepoint(daily: DataFrame): DataFrame =
    daily
      .withColumn("diff", col("v") - lag(col("v"), 1).over(wOrdered))
      .where(col("diff").isNotNull)
      // max_by over the lag window's existing key exchange — a second
      // per-key sort (row_number ordered by |diff| desc) would re-sort
      // the partition for a single-row answer. Tie-break = earliest
      // day, encoded as the NEGATED day ordinal inside the max_by
      // comparator (lexicographic struct ordering).
      .groupBy(col(KEY))
      .agg(max_by(
        struct(col(DAY).as("cp_day"), col("diff").as("diff")),
        struct(abs(col("diff")).as("mag"),
          (-datediff(col(DAY), to_date(lit("1970-01-01")))).as("neg_day"))).as("m"))
      .select(col(KEY), col("m.cp_day").as("cp_day"), r3(col("m.diff")).as("cp_shift"))

  /** Day-of-week seasonal profile of the detrended series (0 = Monday,
    * anchored at 1970-01-05 so both engines share the arithmetic —
    * engine `dayofweek` conventions differ). The long-format analogue
    * of the reference's fixed-period seasonality component.
    */
  def seasonalProfile(withDetrend: DataFrame): DataFrame =
    withDetrend
      .groupBy(col(KEY),
        pmod(datediff(col(DAY), to_date(lit("1970-01-05"))), lit(7)).cast("long").as("dow"))
      .agg(r3(avg(col("detrended"))).as("seasonal"))

  /** Per-series ordinary-least-squares fit of v against the day index
    * — the distributed analogue of the reference's per-series model
    * fit (training.py trains one forecaster over all series; fitting
    * per key is the classic map-side baseline). Explicit guarded
    * covar/var formulation: engine `regr_*` functions disagree on
    * zero-variance series, covar_pop/var_pop do not.
    */
  def fitLinear(daily: DataFrame): DataFrame = {
    val t = datediff(col(DAY), to_date(lit("1970-01-01"))).cast("double")
    val slope = covar_pop(col("v"), col("t")) / nullif(var_pop(col("t")), lit(0.0))
    daily.withColumn("t", t)
      .groupBy(col(KEY))
      .agg(
        r3(slope).as("slope"),
        r3(avg(col("v")) - slope * avg(col("t"))).as("intercept"),
        r3(covar_pop(col("v"), col("t")) * covar_pop(col("v"), col("t")) /
          nullif(var_pop(col("t")) * var_pop(col("v")), lit(0.0))).as("r2"),
        count(lit(1)).as("n_days"))
  }

  /** PIECEWISE linear trend around the detected level shift — the
    * Prophet-style trend model (Taylor & Letham 2018 fit trends
    * between changepoints; this is the single-changepoint core): each
    * series splits at its [[changepoint]] day and gets an independent
    * guarded-OLS slope/intercept per segment, with segment bounds and
    * length. One global line (18o `ts_fit_linear`) averages away a
    * regime break; the per-segment pair exposes before/after slopes —
    * the first diagnostic after 18j flags a shift.
    *
    * Series shorter than 2 days have no lag diff, hence no
    * changepoint, and emit nothing (matching 18j). Segments of one
    * day have zero t-variance → NULL slope/intercept (the guarded
    * formulation, same as 18o).
    *
    * Scale plan: the changepoint chain is the one daily-volume key
    * exchange; the |keys|-sized cp frame BROADCASTS back onto the
    * daily scan, the segment label is a map-side CASE, and the
    * (key, segment) aggregate combines map-side — nothing re-shuffles
    * at daily volume.
    */
  def piecewiseTrend(daily: DataFrame): DataFrame = {
    val cp = changepoint(daily).select(col(KEY), col("cp_day"))
    val slope = covar_pop(col("v"), col("t")) / nullif(var_pop(col("t")), lit(0.0))
    daily.join(broadcast(cp), Seq(KEY))
      .withColumn("segment", when(col(DAY) < col("cp_day"), 0L).otherwise(1L))
      .withColumn("t", datediff(col(DAY), to_date(lit("1970-01-01"))).cast("double"))
      .groupBy(col(KEY), col("segment"))
      .agg(
        min(col(DAY)).as("seg_start"),
        max(col(DAY)).as("seg_end"),
        count(lit(1)).as("n_days"),
        r3(slope).as("slope"),
        // the slope re-enters ROUNDED: the raw covar/var quotient sits
        // on engine-specific accumulation order, and one half-boundary
        // intercept at sf0.1 proved it
        r3(avg(col("v")) - r3(slope) * avg(col("t"))).as("intercept"))
  }

  /** Theta-method forecast (Assimakopoulos & Nikolopoulos 2000, the
    * M3-competition winner): decompose each series into the OLS
    * theta-0 line and the curvature-doubled theta-2 line
    * `2v − (a + bt)`, SES-smooth the theta-2 line, and forecast
    * `0.5·(a + b·t_future) + 0.5·SES` — drift from the fit, level
    * from the smoothing.
    *
    * Scale plan: the fit aggregate and the theta-2 projection share
    * one key partitioning (the join back reuses the fit's exchange);
    * the SES fold is one [[graft.functions.EwmaFold]] pass over the
    * day-ordered theta-2 list. All composed values (a, b, theta-2,
    * SES) are rounded before reuse so the oracle recomputes them
    * bit-identically.
    */
  def theta(daily: DataFrame, alpha: Double, horizon: Int): DataFrame = {
    graft.functions.VectorExprs.register(daily.sparkSession)
    val t = datediff(col(DAY), to_date(lit("1970-01-01"))).cast("double")
    val slope = covar_pop(col("v"), col("t")) / nullif(var_pop(col("t")), lit(0.0))
    val withT = daily.withColumn("t", t)
    val fit = withT.groupBy(col(KEY)).agg(
      r3(slope).as("b"),
      r3(avg(col("v")) - slope * avg(col("t"))).as("a"),
      max(col(DAY)).as("last_day"))
    withT.join(fit, Seq(KEY))
      .select(col(KEY), col(DAY), col("a"), col("b"), col("last_day"),
        r3(lit(2.0) * col("v") - (col("a") + col("b") * col("t"))).as("th2"))
      .groupBy(col(KEY))
      .agg(min(col("a")).as("a"), min(col("b")).as("b"),
        min(col("last_day")).as("last_day"),
        expr("transform(sort_array(collect_list(struct(day, th2))), s -> s.th2)")
          .as("vals"))
      .select(col(KEY), col("a"), col("b"), col("last_day"),
        r3(expr(s"graft_ewma(vals, cast($alpha as double))")).as("ses"))
      .select(col(KEY), col("b").as("drift"), col("ses"),
        r3(lit(0.5) * (col("a") + col("b") *
            datediff(date_add(col("last_day"), horizon),
              to_date(lit("1970-01-01"))).cast("double")) +
          lit(0.5) * col("ses")).as("forecast"))
  }

  /** Score the [[fitLinear]] model `horizon` days past each series'
    * end: v_hat = intercept + slope·t. Fit and spine generation are
    * both per-key aggregates — one shuffle, then a map-only explode.
    */
  def predictLinear(daily: DataFrame, horizon: Int): DataFrame = {
    val t = datediff(col(DAY), to_date(lit("1970-01-01"))).cast("double")
    val slope = covar_pop(col("v"), col("t")) / nullif(var_pop(col("t")), lit(0.0))
    daily.withColumn("t", t)
      .groupBy(col(KEY))
      .agg(
        slope.as("slope"),
        (avg(col("v")) - slope * avg(col("t"))).as("intercept"),
        max(col(DAY)).as("last_day"))
      .select(col(KEY), col("slope"), col("intercept"), col("last_day"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(col(KEY),
        date_add(col("last_day"), col("h")).as(DAY),
        r3(col("intercept") + col("slope") *
          datediff(date_add(col("last_day"), col("h")), to_date(lit("1970-01-01"))).cast("double")).as("v_hat"))
  }

  /** Remove the day-of-week seasonal component: detrended minus the
    * per-(key, dow) mean — computed as a window aggregate over the
    * existing detrended frame, so no second aggregation + join pass.
    */
  def deseasonalize(withDetrend: DataFrame): DataFrame = {
    val dow = pmod(datediff(col(DAY), to_date(lit("1970-01-05"))), lit(7)).cast("long")
    withDetrend
      .withColumn("dow", dow)
      .withColumn("seasonal",
        r3(avg(col("detrended")).over(Window.partitionBy(col(KEY), col("dow")))))
      .withColumn("deseasonal", r3(col("detrended") - col("seasonal")))
      .select(col(KEY), col(DAY), col("dow"), col("detrended"),
        col("seasonal"), col("deseasonal"))
  }

  /** Full seasonal decomposition: v = trend + seasonal + resid, with
    * trend the centered MA and seasonal the per-(key, dow) mean of
    * the detrended series — the long-format equivalent of the
    * reference's seasonal_decompose usage (utils.py:355-364), one
    * shuffle on key for the whole thing.
    */
  def decompose(events: DataFrame, half: Int): DataFrame =
    decomposeDaily(resampleDaily(events), half)

  /** [[decompose]] over an already-resampled (possibly persisted)
    * daily frame — the shared-scan entry point [[forecastAuto]] uses.
    */
  def decomposeDaily(daily: DataFrame, half: Int): DataFrame = {
    val dow = pmod(datediff(col(DAY), to_date(lit("1970-01-05"))), lit(7)).cast("long")
    detrend(trend(daily, half))
      .withColumn("dow", dow)
      .withColumn("seasonal",
        r3(avg(col("detrended")).over(Window.partitionBy(col(KEY), col("dow")))))
      .withColumn("resid", r3(col("detrended") - col("seasonal")))
      .select(col(KEY), col(DAY), col("v"), col("trend"), col("seasonal"), col("resid"))
  }

  /** Holdout BACKTEST of the Holt-Winters forecaster: fold the
    * recursion over each series minus its last `horizon` days, then
    * score every held-out day against the matching step forecast —
    * (key, day, actual, forecast, abs_err) rows, the honest
    * out-of-sample evaluation ([[metrics]]' input shape) rather than
    * an in-sample fit. Series shorter than the horizon have no
    * history to train on and drop out (inner join), same as the
    * oracle.
    */
  def backtestHw(events: DataFrame, alpha: Double, beta: Double, gamma: Double,
                 period: Int, horizon: Int): DataFrame = {
    val daily = resampleDaily(events)
      .withColumn("rn_end",
        row_number().over(Window.partitionBy(KEY).orderBy(col(DAY).desc)))
    val hist = daily.where(col("rn_end") > horizon).select(col(KEY), col(DAY), col("v"))
    val act = daily.where(col("rn_end") <= horizon)
      .select(col(KEY), col(DAY), col("v"),
        (lit(horizon + 1) - col("rn_end")).cast("long").as("h"))
    act.join(holtWintersForecast(hist, alpha, beta, gamma, period, horizon),
        Seq(KEY, "h"))
      .select(col(KEY), col(DAY), col("v"), col("forecast"),
        r3(abs(col("v") - col("forecast"))).as("abs_err"))
  }

  /** Wang-Hyndman trend/seasonality strength per key (the feature-
    * based series summary, "Visualising forecasting algorithm
    * performance using time series instance spaces", 2017):
    * F_T = max(0, 1 − Var(R)/Var(v − S)),
    * F_S = max(0, 1 − Var(R)/Var(S + R)) over the [[decompose]]
    * components — near 1 = strongly trended/seasonal, near 0 = noise.
    * NULL when the denominator variance is zero (constant component),
    * spelled as an explicit CASE so both engines agree instead of
    * leaning on greatest-vs-NULL semantics. Same single key exchange
    * as the decomposition it reads.
    */
  def seasonalStrength(events: DataFrame, half: Int): DataFrame =
    seasonalStrengthDaily(resampleDaily(events), half)

  /** [[seasonalStrength]] over an already-resampled daily frame. */
  def seasonalStrengthDaily(daily: DataFrame, half: Int): DataFrame = {
    def strength(denom: Column): Column = {
      val vd = var_pop(denom)
      when(vd === 0.0, lit(null).cast("double"))
        .otherwise(greatest(lit(0.0), lit(1.0) - var_pop(col("resid")) / vd))
    }
    decomposeDaily(daily, half)
      .groupBy(col(KEY))
      .agg(r3(strength(col("v") - col("seasonal"))).as("trend_strength"),
        r3(strength(col("seasonal") + col("resid"))).as("seasonal_strength"))
  }

  /** Forecast ROUTER (the "right forecaster per series" composition
    * the [[seasonalStrength]] diagnostic exists for): per key, measure
    * the series' profile — observation density, Wang-Hyndman
    * trend/seasonal strengths — and route to the matching forecaster:
    *
    *   - density < `tauSparse`  → Croston (intermittent demand; the
    *     zero-filled daily spine is genuinely sparse)
    *   - seasonal_strength ≥ `tauSeason` → Holt-Winters (period-m)
    *   - trend_strength ≥ `tauTrend`     → Holt
    *   - otherwise → AR(2) (Yule-Walker), falling back to Holt when
    *     the AR model is degenerate (constant/short series); an
    *     all-zero sparse key likewise falls back
    *
    * Output: one row per key with the measured profile, the chosen
    * `model`, and its `horizon`-step-ahead `forecast` — each branch's
    * arithmetic IDENTICAL to the standalone operator it routes to
    * (holt/holtWinters/croston folds, arForecast's unrolled
    * recursion), so the router is pure composition.
    *
    * Scale plan: ONE daily resample persisted across the branches;
    * the fold candidates (Holt, HW, Croston) are per-key scalar folds
    * off a single collected (day, v) array — three folds per key, not
    * three data passes; AR rides its own windows over the SAME
    * persisted daily and joins per-key scalars; the strengths reuse
    * the shared frame through [[seasonalStrengthDaily]]. Running all
    * candidates and picking per key costs per-key scalars and buys
    * the fallback chain + router evaluation; a cost-pressed deploy
    * can filter-first per route instead. Result is checkpointed
    * eagerly (cache-hygiene contract).
    */
  def forecastAuto(events: DataFrame, half: Int, period: Int, horizon: Int,
                   alpha: Double, beta: Double, gamma: Double,
                   crostonAlpha: Double = 0.3, tauSparse: Double = 0.6,
                   tauSeason: Double = 0.6, tauTrend: Double = 0.6): DataFrame = {
    graft.functions.VectorExprs.register(events.sparkSession)
    val daily = resampleDaily(events).persist()
    try {
      val str = seasonalStrengthDaily(daily, half)
      val st = daily.groupBy(col(KEY))
        .agg(expr("sort_array(collect_list(struct(day, v)))").as("dv"),
          count(lit(1)).as("n"), min(col(DAY)).as("d0"), max(col(DAY)).as("d1"))
        .select(col(KEY),
          r3(col("n") / (datediff(col("d1"), col("d0")) + 1).cast("double"))
            .as("density"),
          expr("transform(dv, s -> s.v)").as("vals"),
          // zero-filled dense spine for the Croston branch, built as
          // gap-runs over the SORTED (day, v) list: per entry, its
          // predecessor-gap of 0.0D fills then the value — O(span + n)
          // per key. (The previous shape looked up every spine day in a
          // map_from_entries rebuilt per element — Catalyst inlines the
          // map into the lambda and GetMapValue is a linear scan, so it
          // was O(span·n) per key: profiled 31 task-seconds at sf0.1,
          // the whole gate's compute. dv is sorted and daily-unique, and
          // d0/d1 are its min/max, so the runs concatenate to exactly
          // the old coalesce-filled spine — spec-pinned.)
          expr(
            """flatten(transform(sequence(1, size(dv)), j ->
              |  concat(
              |    array_repeat(0.0D, IF(j = 1, 0,
              |      datediff(element_at(dv, j).day, element_at(dv, j - 1).day) - 1)),
              |    array(element_at(dv, j).v))))""".stripMargin).as("dense"))
      val cand = st
        .withColumn("hb", expr(
          s"graft_holt(vals, cast($alpha as double), cast($beta as double))"))
        .withColumn("hw", expr(
          s"graft_holt_winters(vals, cast($alpha as double), cast($beta as double), " +
            s"cast($gamma as double), $period)"))
        .withColumn("f_holt",
          r3(expr(s"element_at(hb, 1) + element_at(hb, 2) * $horizon.0")))
        .withColumn("f_hw", r3(expr(
          s"element_at(hw, 1) + element_at(hw, 2) * $horizon.0 + " +
            s"element_at(hw, 4 + cast(pmod(cast(element_at(hw, 3) as bigint) - 1 + $horizon, $period) as int))")))
        .withColumn("sizes", expr("filter(dense, x -> x > 0.0D)"))
        .withColumn("pos", expr(
          "filter(transform(dense, (x, i) -> IF(x > 0.0D, CAST(i + 1 AS DOUBLE), " +
            "CAST(NULL AS DOUBLE))), p -> p IS NOT NULL)"))
        .withColumn("ivs", expr(
          "transform(sequence(1, size(pos)), j -> IF(j = 1, element_at(pos, 1), " +
            "element_at(pos, j) - element_at(pos, j - 1)))"))
        .withColumn("f_cro", when(size(col("sizes")) > 0,
          r3(expr(s"graft_ewma(sizes, cast($crostonAlpha as double)) / " +
            s"graft_ewma(ivs, cast($crostonAlpha as double))"))))
        .select(col(KEY), col("density"), col("f_holt"), col("f_hw"), col("f_cro"))
      val ar = arForecast(daily, horizon)
        .where(col("step") === horizon)
        .select(col(KEY), col("forecast").as("f_ar"))
      val routed = cand
        .join(str, Seq(KEY))
        .join(ar, Seq(KEY), "left")
        .withColumn("model0",
          when(col("density") < tauSparse, "croston")
            .when(coalesce(col("seasonal_strength"), lit(0.0)) >= tauSeason, "hw")
            .when(coalesce(col("trend_strength"), lit(0.0)) >= tauTrend, "holt")
            .otherwise("ar2"))
        .withColumn("model",
          when(col("model0") === "ar2" && col("f_ar").isNull, "holt")
            .when(col("model0") === "croston" && col("f_cro").isNull, "holt")
            .otherwise(col("model0")))
        .select(col(KEY), col("density"),
          col("trend_strength"), col("seasonal_strength"), col("model"),
          when(col("model") === "croston", col("f_cro"))
            .when(col("model") === "hw", col("f_hw"))
            .when(col("model") === "holt", col("f_holt"))
            .otherwise(col("f_ar")).as("forecast"))
      routed.localCheckpoint()
    } finally daily.unpersist(blocking = false)
  }

  /** Fixed-width value histogram per event type: bin = value/width
    * clamped to nBins — one partial-agg groupBy, the workhorse
    * profiling query at any scale.
    */
  def valueHistogram(events: DataFrame, width: Double, nBins: Int): DataFrame =
    events
      .groupBy(col("event_type"),
        least(floor(col("value") / width), lit(nBins - 1)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), r3(sum(col("value"))).as("v_sum"))

  /** Gap-fill by linear interpolation between the nearest observed
    * neighbours (vs [[gapfill]]'s forward carry): dense per-key spine,
    * then one backward and one forward ignore-nulls window carry —
    * no self-join, single shuffle.
    */
  def interpolate(daily: DataFrame): DataFrame = {
    val spine = daily.groupBy(col(KEY))
      .agg(min(col(DAY)).as("d0"), max(col(DAY)).as("d1"))
      .select(col(KEY), explode(expr("sequence(d0, d1, interval 1 day)")).as(DAY))
    val wPrev = wOrdered.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = wOrdered.rowsBetween(0, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col(DAY))
    spine.join(daily, Seq(KEY, DAY), "left")
      .withColumn("was_gap", col("v").isNull.cast("int"))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn("v_interp", r3(
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            datediff(col(DAY), col("pd")) / datediff(col("nd"), col("pd")))))
      .select(col(KEY), col(DAY), col("v_interp"), col("was_gap"))
  }

  /** Robust outlier days via median absolute deviation: |v − median|
    * > `nMads`·MAD — insensitive to the very outliers it flags,
    * unlike the z-score [[anomalies]]. Both medians (exact,
    * interpolating) are window aggregates over the shared key
    * partition — one exchange, no agg+join passes; constant series
    * (MAD = 0) flag nothing.
    */
  /** ROLLING Pearson correlation between each key's daily value sum
    * and its daily event count over a trailing `window`-row frame —
    * the relationship monitor beside [[crossCorr]]'s whole-series
    * number: a correlation that was stable and suddenly decays flags
    * a behavioural regime change (value per event shifting) that
    * neither univariate series shows. Emitted only for FULL windows;
    * NULL when either side is constant within the frame (zero
    * variance — correlation undefined, not 0).
    *
    * Scale plan: one groupBy collapses event volume to the daily
    * two-metric frame; all five running sums ride ONE trailing window
    * on the single key exchange; the closed-form
    * (nΣxy − ΣxΣy)/√((nΣx² − (Σx)²)(nΣy² − (Σy)²)) avoids engine
    * `corr` internals (Welford vs naive differ per engine).
    */
  def rollingCorr(events: DataFrame, window: Int): DataFrame = {
    require(window >= 2, s"rollingCorr: window must be >= 2, got $window")
    val daily = events
      .groupBy(col(KEY), to_date(col("ts")).as(DAY))
      .agg(r3(sum(col("value"))).as("x"),
        count(lit(1)).cast("double").as("y"))
    val w = wOrdered.rowsBetween(-(window - 1), 0)
    val n = count(lit(1)).over(w)
    val sx = sum(col("x")).over(w)
    val sy = sum(col("y")).over(w)
    val sxx = sum(col("x") * col("x")).over(w)
    val syy = sum(col("y") * col("y")).over(w)
    val sxy = sum(col("x") * col("y")).over(w)
    val den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    daily.select(col(KEY), col(DAY), col("x"), col("y"),
      n.as("n"), (n * sxy - sx * sy).as("num"), den.as("den"))
      .where(col("n") === window)
      .select(col(KEY), col(DAY), col("x"), col("y"),
        when(col("den") > 0, r3(col("num") / sqrt(col("den")))).as("roll_corr"))
  }

  /** ITERATIVE z-outlier removal — the deterministic-threshold cousin
    * of the generalized ESD test (Rosner 1983): per round, recompute
    * each key's mean/σ over the surviving points, flag the single
    * largest |z| ≥ `z` per key, remove it, repeat. One-shot z-scoring
    * suffers MASKING — two adjacent spikes inflate σ until neither
    * clears the bar; removing the worst point first deflates σ so the
    * second spike surfaces (the spec pins exactly this). Emits every
    * flagged point with its z at flag time and the round it fell.
    * Natural fixpoint: once no candidate clears the bar a round adds
    * nothing, so trailing rounds are no-ops, not errors.
    *
    * Scale plan: `rounds` passes over the COLLAPSED daily frame (never
    * event volume), each an anti-join against the flagged accumulator
    * (≤ rounds rows per key, broadcast-class) + a map-side-combined
    * stats aggregate + a top-1 window on the key exchange;
    * checkpointed per round (the kmeans/pagerank convention).
    */
  def outliersEsd(daily: DataFrame, rounds: Int, z: Double): DataFrame = {
    require(rounds >= 1 && z > 0,
      s"outliersEsd: need rounds >= 1 and z > 0, got rounds=$rounds z=$z")
    val base = daily.select(col(KEY), col(DAY), col("v")).localCheckpoint()
    val none = base.limit(0)
      .select(col(KEY), col(DAY), col("v"),
        lit(0.0).as("z_at_flag"), lit(0).as("round"))
    Iterate.rounds(daily.sparkSession, "outliersEsd", rounds, none,
        cutLast = true) { (r, flagged) =>
      val rem = base.join(
        flagged.select(col(KEY).as("fk"), col(DAY).as("fd")),
        base(KEY) === col("fk") && base(DAY) === col("fd"), "left_anti")
      val st = rem.groupBy(col(KEY))
        .agg(r3(avg(col("v"))).as("m"), r3(stddev_pop(col("v"))).as("sd"))
      val cand = rem.join(st, KEY)
        .where(col("sd") > 0)
        .select(col(KEY), col(DAY), col("v"),
          r3((col("v") - col("m")) / col("sd")).as("zz"))
        .withColumn("rk", row_number().over(Window.partitionBy(col(KEY))
          .orderBy(abs(col("zz")).desc, col(DAY))))
        .where(col("rk") === 1 && abs(col("zz")) >= z)
        .select(col(KEY), col(DAY), col("v"),
          col("zz").as("z_at_flag"), lit(r).as("round"))
      flagged.unionByName(cand)
    }
  }

  def outliersMad(daily: DataFrame, nMads: Double): DataFrame =
    daily
      .withColumn("med", expr("percentile(v, 0.5)").over(wKey))
      .withColumn("mad", expr("percentile(abs(v - med), 0.5)").over(wKey))
      .where(abs(col("v") - col("med")) > lit(nMads) * col("mad"))
      .select(col(KEY), col(DAY), col("v"),
        r3(col("med")).as("med"), r3(abs(col("v") - col("med")) / nullif(col("mad"), lit(0.0))).as("n_mads"))

  /** Robust cleaning sequel to [[outliersMad]]: flag MAD outliers,
    * then REPLACE them by linear interpolation between the nearest
    * non-outlier neighbors (edge outliers take the nearest surviving
    * value) — flag tells you what happened, impute keeps the series
    * model-ready. All five windows (two medians, prev/next carries)
    * share the single key exchange.
    */
  def imputeOutliers(daily: DataFrame, nMads: Double): DataFrame = {
    val wPrev = wOrdered.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = wOrdered.rowsBetween(0, Window.unboundedFollowing)
    val flagged = daily
      .withColumn("med", expr("percentile(v, 0.5)").over(wKey))
      .withColumn("mad", expr("percentile(abs(v - med), 0.5)").over(wKey))
      .withColumn("is_out",
        (abs(col("v") - col("med")) > lit(nMads) * col("mad")).cast("int"))
      .withColumn("v0", when(col("is_out") === 0, col("v")))
    val obsDay = when(col("v0").isNotNull, col(DAY))
    flagged
      .withColumn("pv", last(col("v0"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v0"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn("v_imputed", r3(
        when(col("v0").isNotNull, col("v0"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            datediff(col(DAY), col("pd")) / datediff(col("nd"), col("pd")))))
      .select(col(KEY), col(DAY), col("v"), col("is_out"), col("v_imputed"))
  }

  /** Winsorization: clamp each day's value into the per-key exact
    * interpolated [lo, hi] quantile band — the standard heavy-tail
    * cap before model training (the robust cousin of [[outliersMad]]:
    * cap instead of flag). Both quantiles are window aggregates over
    * ONE key exchange; `percentile` interpolates exactly like
    * DuckDB's `quantile_cont` (proven by the ts_quantiles gate).
    */
  def winsorize(daily: DataFrame, lo: Double, hi: Double): DataFrame =
    daily
      .withColumn("p_lo", expr(s"percentile(v, $lo)").over(wKey))
      .withColumn("p_hi", expr(s"percentile(v, $hi)").over(wKey))
      .select(col(KEY), col(DAY), col("v"),
        r3(least(greatest(col("v"), col("p_lo")), col("p_hi"))).as("v_wins"))

  /** Supervised-learning feature matrix per (key, day): value, lagged
    * values and a trailing moving average as flat columns — the
    * long-format feature assembly that feeds a tabular forecaster
    * (the reference's X windows, utils.py:436-460, unrolled as
    * columns instead of arrays). All windows share the single key
    * exchange; rows without a full lag history are dropped so every
    * emitted row is a complete training example.
    */
  def lagFeatures(daily: DataFrame, lags: Seq[Int], maWindow: Int): DataFrame = {
    require(lags.nonEmpty, "lagFeatures: lags must be non-empty")
    val withLags = lags.foldLeft(daily)((d, l) =>
      d.withColumn(s"lag_$l", lag(col("v"), l).over(wOrdered)))
    withLags
      .withColumn(s"ma_$maWindow",
        r3(avg(col("v")).over(wOrdered.rowsBetween(-(maWindow - 1), 0))))
      .withColumn("_rn", row_number().over(wOrdered))
      .where(lags.map(l => col(s"lag_$l").isNotNull).reduce(_ && _) &&
        col("_rn") >= maWindow)
      .drop("_rn")
  }

  /** Fourier extrapolation forecast: fit linear trend over the row
    * index, take the first `kMax` Fourier coefficients of the
    * RESIDUAL (base period = the observed window length, the standard
    * harmonic-extrapolation convention), and project both `horizon`
    * steps past the series end:
    * ŷ(n−1+h) = â + b̂·(n−1+h) + Σ_k [a_k cos θ + b_k sin θ],
    * θ = 2πk(n−1+h)/n — the spectral sequel to [[extrapolateTrend]]
    * (which extrapolates trend only) and [[holtWinters]] (fixed
    * period m; here the harmonics FIND the periods).
    *
    * Three key-partitioned stages, one logical shuffle: index window →
    * fit aggregate → residual join (same key partitioning, exchange
    * reuse) → coefficient aggregate (six conditional sums, no
    * explode) → map-only horizon explode. Forecast composes ROUNDED
    * fit + coefficients, so both engines agree bit-for-bit.
    */
  def harmonicsForecast(daily: DataFrame, kMax: Int, horizon: Int): DataFrame = {
    require(kMax >= 1 && kMax <= 8, s"harmonicsForecast: kMax in [1,8], got $kMax")
    val indexed = daily
      .withColumn("i", (row_number().over(wOrdered) - 1).cast("double"))
      .withColumn("n", count(lit(1)).over(wKey).cast("double"))
    val slopeRaw = covar_pop(col("v"), col("i")) / nullif(var_pop(col("i")), lit(0.0))
    val fit = indexed.groupBy(col(KEY)).agg(
      r3(slopeRaw).as("slope"),
      r3(avg(col("v")) - slopeRaw * avg(col("i"))).as("intercept"))
    val res = indexed.join(fit, Seq(KEY))
      .withColumn("res", col("v") - (col("intercept") + col("slope") * col("i")))
    def harm(k: Int, f: Column => Column): Column =
      r3(lit(2.0) * sum(col("res") *
        f(lit(2.0 * math.Pi) * lit(k) * col("i") / col("n"))) / max(col("n")))
    val aggCols: Seq[Column] =
      Seq(first(col("slope")).as("slope"), first(col("intercept")).as("intercept"),
        max(col("n")).as("n")) ++
      (1 to kMax).flatMap(k =>
        Seq(harm(k, cos).as(s"a$k"), harm(k, sin).as(s"b$k")))
    val coeffs = res.groupBy(col(KEY)).agg(aggCols.head, aggCols.tail: _*)
    val withH = coeffs.select(col("*"),
      explode(sequence(lit(1L), lit(horizon.toLong))).as("h"))
      .withColumn("i_f", col("n") - 1.0 + col("h"))
    val harmonicsSum = (1 to kMax).map { k =>
      val theta = lit(2.0 * math.Pi) * lit(k) * col("i_f") / col("n")
      col(s"a$k") * cos(theta) + col(s"b$k") * sin(theta)
    }.reduce(_ + _)
    withH.select(col(KEY), col("h"),
      r3(col("intercept") + col("slope") * col("i_f") + harmonicsSum).as("forecast"))
  }

  /** Multi-grain rollup in ONE pass: per-key value sums at day, week
    * and month grain via GROUPING SETS — the engine expands the three
    * granularities map-side (one Expand, one shuffle), instead of
    * three separate scans+aggregations over the 100-TB event log.
    * Output: (key, grain, period, v); `period` is the grain's
    * truncated start date.
    */
  def rollup(events: DataFrame): DataFrame = {
    val base = events.select(col(KEY),
      to_date(col("ts")).as("day"),
      date_trunc("week", col("ts")).cast("date").as("week"),
      date_trunc("month", col("ts")).cast("date").as("month"),
      col("value"))
    base.groupingSets(
        Seq(Seq(col(KEY), col("day")),
          Seq(col(KEY), col("week")),
          Seq(col(KEY), col("month"))),
        col(KEY), col("day"), col("week"), col("month"))
      .agg(r3(sum(col("value"))).as("v"))
      .select(col(KEY),
        when(col("day").isNotNull, lit("day"))
          .when(col("week").isNotNull, lit("week"))
          .otherwise(lit("month")).as("grain"),
        coalesce(col("day"), col("week"), col("month")).as("period"),
        col("v"))
  }

  /** Persist the resampled daily series as a bucketed FEATURE STORE:
    * bucketed by key, files sorted by (key, day). Every window
    * operator in this file requires exactly the distribution the
    * stored scan then reports — so the whole trend/detrend/lag/
    * rolling chain runs over the store with ZERO Exchange (the
    * encode-once/probe-forever shape of the stored ANN/band indexes,
    * applied to the time-series surface: resample the 100-TB event
    * log once, serve every downstream feature job from the compact
    * store). FeedStreamSpec pins the exchange-free window plan.
    */
  def writeDailyStore(events: DataFrame, table: String, buckets: Int): Unit =
    graft.sources.Formats.writeBucketedSorted(
      resampleDaily(events), table, Seq(KEY), Seq(KEY, DAY), buckets)

  /** Incremental store growth: resample only the NEW slice of the
    * event log (a day-aligned partition — per-(key, day) sums never
    * straddle an append boundary, so slice resamples union to the
    * full resample) and append it bucketed. New rows land in their
    * buckets by construction; the zero-Exchange serving property
    * survives growth (appended buckets hold >1 file, so Spark adds a
    * per-partition sort, never a shuffle).
    */
  def appendDailyStore(events: DataFrame, table: String, buckets: Int): Unit =
    graft.sources.Formats.writeBucketedSorted(
      resampleDaily(events), table, Seq(KEY), Seq(KEY, DAY), buckets,
      mode = "append")

  /** Store compaction: appended buckets accumulate one file per
    * append (losing the reported sort order, costing a per-partition
    * sort on every read) — fold them into a fresh one-file-per-bucket
    * generation, written as `<table>_compacting` and swapped in by
    * [[graft.sources.Store.commit]]; a failed commit leaves the
    * previous generation live. Serving results are bit-unchanged; only
    * the read plan improves.
    */
  def compactDailyStore(spark: org.apache.spark.sql.SparkSession,
                        table: String, buckets: Int): Unit = {
    val next = s"${table}_compacting"
    spark.sql(s"DROP TABLE IF EXISTS $next")
    graft.sources.Formats.writeBucketedSorted(
      spark.table(table), next, Seq(KEY), Seq(KEY, DAY), buckets)
    graft.sources.Store.commit(spark, Seq(table -> next))
  }

  /** [[lagFeatures]] served from the daily store — byte-equal to the
    * recompute path, minus the event-volume resample and the window
    * exchange.
    */
  def lagFeaturesStored(spark: org.apache.spark.sql.SparkSession, table: String,
                        lags: Seq[Int], maWindow: Int): DataFrame =
    lagFeatures(spark.table(table), lags, maWindow)

  /** Full preprocessing chain (reference pre_processing:
    * src/demo/utils.py:200-351): trend → detrend → standardize →
    * gradient. Single shuffle on `user_id` after the resample.
    */
  def preprocess(events: DataFrame, half: Int): DataFrame =
    gradient(scale(detrend(trend(resampleDaily(events), half))), "trend", "trend_grad")

  /** Deterministic forecast baseline = the reference scoring pipeline
    * with the CNN stubbed to its neutral output (reference
    * post_processing: src/demo/utils.py:524-548 — model emits the
    * scaled-detrended series' mean, i.e. 0 scaled → rescaled = mean;
    * final forecast = mean + extrapolated trend). History = all days
    * except the final `horizon`; forecast covers those `horizon` days.
    * Output: (user_id, day, v_hat, v_actual).
    */
  def forecastBaseline(events: DataFrame, half: Int, window: Int, horizon: Int): DataFrame = {
    // The numbered daily table feeds three branches (history chain,
    // per-key mean, actuals); persisting it keeps the raw-event
    // resample — the only stage that sees event volume — computed
    // once. Size is |keys|×|days|, the engine's canonical
    // materialization point (SURVEY §5). The result (|keys|×horizon
    // rows, MEMORY_AND_DISK) is eagerly materialized as a
    // localCheckpoint leaf INSIDE the call so the shared cache entry
    // can be released in the finally — no cacheManager entry outlives
    // the call (CacheHygieneSpec), and library callers need no
    // clearCache contract. (An EAGER checkpoint is safe — the lazy
    // variant's deferred materialization races the ContextCleaner and
    // floods driver logs with spurious "non-existent accumulator"
    // errors; at cluster scale swap for reliable checkpoint() to
    // survive executor loss.)
    val daily = numberedDaily(events).persist()
    try forecastFromNumbered(daily, half, window, horizon)
    finally daily.unpersist(blocking = false)
  }

  /** Prediction intervals around [[forecastBaseline]]: per step h,
    * `v_hat ± z·σ·√h` with σ = the key's in-sample one-step
    * volatility (stddev of row-over-row differences of the HISTORY
    * split) — the random-walk interval width (variance of an h-step
    * RW sum grows linearly, so width grows √h), the honest default
    * when the model publishes no parametric variance. Emits the
    * bands plus a per-row `covered` flag, so empirical coverage vs
    * the nominal level reads directly off the gate table — a
    * forecast without intervals is a point guess nobody can act on.
    *
    * Same single-resample contract as [[forecastBaseline]] (the
    * persisted numbered frame feeds the forecast chain AND the σ
    * aggregate); σ is a per-key scalar joined onto the
    * |keys|×horizon checkpoint leaf.
    */
  def forecastIntervals(events: DataFrame, half: Int, window: Int,
                        horizon: Int, z: Double = 1.96): DataFrame = {
    val daily = numberedDaily(events).persist()
    try {
      val fc = forecastFromNumbered(daily, half, window, horizon)
      val sigma = daily.where(col("rn_end") > horizon)
        .withColumn("d", col("v") - lag(col("v"), 1).over(wOrdered))
        .groupBy(col(KEY)).agg(stddev_pop(col("d")).as("sigma"))
      fc.withColumn("step", row_number().over(wOrdered))
        .join(sigma, Seq(KEY))
        .withColumn("lo", r3(col("v_hat") - lit(z) * col("sigma") * sqrt(col("step"))))
        .withColumn("hi", r3(col("v_hat") + lit(z) * col("sigma") * sqrt(col("step"))))
        .select(col(KEY), col(DAY), col("v_hat"), col("v_actual"),
          col("lo"), col("hi"),
          when(col("v_actual") >= col("lo") && col("v_actual") <= col("hi"), 1)
            .otherwise(0).as("covered"))
    } finally daily.unpersist(blocking = false)
  }

  /** The daily resample with each key's rows numbered from the END
    * (`rn_end` = 1 is the last day) — the shared input of
    * [[forecastBaseline]] and [[mase]]; both persist it so the
    * event-volume stage is computed once per call.
    */
  private def numberedDaily(events: DataFrame): DataFrame =
    resampleDaily(events)
      .withColumn("rn_end", row_number().over(Window.partitionBy(KEY).orderBy(col(DAY).desc)))

  /** ROLLING-ORIGIN backtest of the baseline forecaster (Tashman
    * 2000's rolling-origin evaluation; the M-competition practice):
    * fold f trains on the series minus its last f·horizon days and
    * scores the next `horizon` held-out days — 18ac's single holdout
    * becomes `nFolds` honest out-of-sample MAEs per key, which is
    * what separates "got lucky on the last week" from "forecasts
    * this series".
    *
    * Implementation: every fold genuinely re-runs the forecast chain,
    * but as ONE plan over a synthesized composite key `user·mult +
    * fold` — fold f keeps rows with rn_end > (f−1)·horizon, re-ranks
    * by subtraction (no second sort), and the per-(key, fold) series
    * flows through the SAME [[forecastFromNumbered]] the baseline
    * gate uses, so per-fold cost is the baseline's cost and the fold
    * fan-out is nFolds×, not nFolds separate jobs. The oracle applies
    * the identical chain to the identical synthesized key.
    */
  def backtestRolling(events: DataFrame, half: Int, window: Int,
                      horizon: Int, nFolds: Int,
                      mult: Long = 1000000L): DataFrame = {
    require(nFolds >= 1 && nFolds < mult,
      s"backtestRolling: need 1 <= nFolds < mult, got $nFolds/$mult")
    val spark = events.sparkSession
    val folds = spark.range(1, nFolds + 1).select(col("id").as("fold"))
    val synth = numberedDaily(events)
      .crossJoin(broadcast(folds))
      .where(col("rn_end") > (col("fold") - 1) * horizon)
      .select((col(KEY) * mult + col("fold")).as(KEY), col(DAY), col("v"),
        (col("rn_end") - (col("fold") - 1) * horizon).cast("int").as("rn_end"))
      .persist()
    try {
      forecastFromNumbered(synth, half, window, horizon)
        .withColumn("fold", (col(KEY) % mult).cast("long"))
        .withColumn(KEY, expr(s"$KEY div $mult").cast("long"))
        .groupBy(col(KEY), col("fold"))
        .agg(count(lit(1)).as("n_scored"),
          r3(avg(abs(col("v_hat") - col("v_actual")))).as("mae"))
        .localCheckpoint()
    } finally synth.unpersist(blocking = false)
  }

  /** [[forecastBaseline]]'s core over an already-persisted
    * [[numberedDaily]] frame; returns the eager |keys|×horizon
    * checkpoint leaf.
    */
  private def forecastFromNumbered(daily: DataFrame, half: Int, window: Int,
                                   horizon: Int): DataFrame = {
    val history = daily.where(col("rn_end") > horizon).drop("rn_end")
    val actual = daily.where(col("rn_end") <= horizon).drop("rn_end")
    val hist2 = scale(detrend(trend(history, half)))
    val ext = extrapolateTrend(hist2.select(KEY, DAY, "v", "trend"), window, horizon)
    val meanPerKey = hist2.groupBy(col(KEY)).agg(max(col("mean")).as("mean"))
    ext
      .join(meanPerKey, KEY)
      .select(col(KEY), col(DAY), r3(col("v_hat") + col("mean")).as("v_hat"))
      .join(actual.withColumnRenamed("v", "v_actual"), Seq(KEY, DAY))
      .localCheckpoint()
  }

  /** Corpus-level forecast metrics — the reference's `R2_all`
    * (notebooks/scoring.py metric_extraction: uniform_average over all
    * series), alongside the per-series [[metrics]].
    */
  def metricsOverall(scored: DataFrame): DataFrame = {
    val err = col("v_hat") - col("v_actual")
    // mu as a broadcast scalar, not an unpartitioned window (which
    // would drag the whole scored table onto one reducer); the final
    // global agg is map-side partial, so one reducer sees only
    // per-partition partials. scored (|keys|×horizon rows) feeds both
    // the mu subquery and the final agg — persist so the upstream
    // forecast chain runs once, not twice; the ONE-ROW result is
    // checkpointed eagerly so the entry can drop in the finally
    // (CacheHygieneSpec — no clearCache contract for callers).
    val s = scored.persist()
    try {
      val mu = s.agg(avg(col("v_actual")).as("mu"))
      s.crossJoin(broadcast(mu))
        .agg(
          count(lit(1)).as("n"),
          r3(avg(err * err)).as("mse"),
          r3(avg(abs(err))).as("mae"),
          r3(lit(1.0) - sum(err * err) /
            nullif(sum((col("v_actual") - col("mu")) * (col("v_actual") - col("mu"))), lit(0.0))).as("r2"))
        .localCheckpoint()
    } finally s.unpersist(blocking = false)
  }

  /** Per-series forecast metrics at multiple horizons — the
    * reference's 1-month / 3-month split (notebooks/scoring.py:384-470,
    * "R2_all_1month"/"R2_all_3month"): for each horizon h, R2/MSE/MAE
    * over only the first h forecast steps. One row_number window on
    * the existing key partitioning + a small static explode — no
    * extra shuffle beyond [[metrics]]'.
    */
  def metricsHorizon(scored: DataFrame, horizons: Seq[Int]): DataFrame = {
    val err = col("v_hat") - col("v_actual")
    scored
      .withColumn("step", row_number().over(wOrdered))
      .select(col("*"), explode(array(horizons.map(lit): _*)).as("horizon"))
      .where(col("step") <= col("horizon"))
      .withColumn("mu", avg(col("v_actual")).over(
        Window.partitionBy(col(KEY), col("horizon"))))
      .groupBy(col(KEY), col("horizon").cast("long").as("horizon"))
      .agg(
        r3(avg(err * err)).as("mse"),
        r3(avg(abs(err))).as("mae"),
        r3(lit(1.0) - sum(err * err) /
          nullif(sum((col("v_actual") - col("mu")) * (col("v_actual") - col("mu"))), lit(0.0))).as("r2"))
  }

  /** RiskMetrics EWMA volatility per key (J.P. Morgan RiskMetrics
    * Technical Document 1996): over day-ordered first differences
    * `rₜ = vₜ − vₜ₋₁`, fold `σ²ₜ = λ·σ²ₜ₋₁ + (1−λ)·rₜ²` with
    * `σ²₁ = r₁²` and λ = 1 − `alphaVar` (RiskMetrics' daily λ=0.94 ⟺
    * `alphaVar` = 0.06), then emit the final variance + volatility — the
    * recursion that weights recent shocks exponentially, the standard
    * scale estimate behind value-at-risk bands and the volatility
    * twin of [[ewma]]'s level recursion.
    *
    * One groupBy collapse to the per-key ordered array (bounded by
    * series length, the collect_list contract every fold op here
    * shares), squares in a `transform` projection, then the native
    * codegen [[graft.functions.EwmaFold]] with α = `alphaVar` — the
    * identical recursion, folded over r² instead of v. Zero extra
    * shuffles beyond the one key collapse; keys with < 2 days emit
    * NULL (no returns to fold).
    */
  def volEwma(daily: DataFrame, alphaVar: Double): DataFrame = {
    require(alphaVar > 0.0 && alphaVar < 1.0,
      s"volEwma: need 0 < alphaVar < 1, got $alphaVar")
    graft.functions.VectorExprs.register(daily.sparkSession)
    daily.groupBy(col(KEY))
      .agg(expr("transform(sort_array(collect_list(struct(day, v))), s -> s.v)").as("vs"))
      // sequence(2, 1) would DESCEND for 1-day keys (and ANSI
      // element_at would throw on index 2) — guard to an empty array
      .select(col(KEY),
        expr("CASE WHEN size(vs) < 2 THEN cast(array() as array<double>) " +
          "ELSE transform(sequence(2, size(vs)), i -> " +
          "(element_at(vs, i) - element_at(vs, i - 1)) * " +
          "(element_at(vs, i) - element_at(vs, i - 1))) END").as("r2s"))
      .select(col(KEY),
        expr("size(r2s)").cast("long").as("n_returns"),
        expr(s"graft_ewma(r2s, cast($alphaVar as double))").as("_var"))
      .select(col(KEY), col("n_returns"),
        r3(col("_var")).as("ewma_var"),
        r3(sqrt(col("_var"))).as("ewma_vol"))
  }

  /** Periodogram per key: spectral power at every candidate period
    * `p ∈ [2, pMax]` — `power(p) = (c² + s²)/n` with
    * `c = Σ v·cos(2πt/p)`, `s = Σ v·sin(2πt/p)` over the 0-based
    * day index `t` — plus the per-key power rank (1 = dominant
    * period). The direct-DFT-at-chosen-frequencies detector
    * (Schuster 1898) behind "what cadence does this series actually
    * repeat at", complementing [[seasonalStrength]]'s fixed-period
    * strength test with an open period *search*.
    *
    * Shape: one window pass for the index on the key partitioning, a
    * STATIC ×(pMax−1) explode of the daily frame (bounded fan-out of
    * the already-collapsed |keys|·|days| frame, never event volume),
    * one map-side-combined groupBy on (key, p), and a rank window
    * back on the key partitioning. Trig parity across engines rides
    * the r3 ε-guard exactly like [[harmonics]] (libm cos/sin differ
    * by ≤1 ulp; the summed noise is ~1e-15, the guard absorbs 1e-4).
    */
  def periodogram(daily: DataFrame, pMax: Int): DataFrame = {
    require(pMax >= 2, s"periodogram: need pMax >= 2, got $pMax")
    daily
      .withColumn("i", (row_number().over(wOrdered) - 1).cast("double"))
      .withColumn("n", count(lit(1)).over(wKey).cast("double"))
      .select(col(KEY), col("v"), col("i"), col("n"),
        explode(sequence(lit(2L), lit(pMax.toLong))).as("p"))
      .withColumn("theta", lit(2.0 * math.Pi) * col("i") / col("p"))
      .groupBy(col(KEY), col("p"))
      .agg(r3((sum(col("v") * cos(col("theta"))) * sum(col("v") * cos(col("theta"))) +
          sum(col("v") * sin(col("theta"))) * sum(col("v") * sin(col("theta")))) /
          max(col("n"))).as("power"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(KEY)).orderBy(col("power").desc, col("p"))).cast("long"))
  }

  /** Spectral entropy per key — Shannon entropy of the normalized
    * [[periodogram]] powers, scaled to [0, 1] by ln(#periods)
    * (Goerg 2013 "forecastable component analysis"; the
    * Wang-Hyndman-style forecastability feature): ≈1 = white-noise
    * flat spectrum (nothing to forecast), ≈0 = all power on one
    * period (a pure cycle). Composes the gated periodogram — one
    * window pass for the per-key total on the partitioning the rank
    * window already established (no extra shuffle), then a map-side-
    * combined entropy aggregate. Zero-power bins contribute 0 (the
    * p·ln p limit); keys with zero total power emit entropy 0.
    */
  def spectralEntropy(daily: DataFrame, pMax: Int): DataFrame = {
    val lnN = math.log((pMax - 1).toDouble)
    periodogram(daily, pMax)
      .withColumn("tot", sum(col("power")).over(wKey))
      .groupBy(col(KEY))
      .agg(count(lit(1)).as("n_periods"),
        r3(-sum(
          when(col("power") > 0 && col("tot") > 0,
            (col("power") / col("tot")) * log(col("power") / col("tot")))
            .otherwise(lit(0.0))) / lit(lnN)).as("entropy"))
  }

  /** Rescaled-range Hurst exponent per key (Hurst 1951; Mandelbrot &
    * Wallis 1969's R/S analysis): split the day-ordered series into
    * complete blocks of each dyadic size `w`, per block compute
    * R/S = (max − min of the cumulative mean-deviations) / σ_block,
    * average per size, and fit `ln E[R/S] ~ H·ln w` — H ≈ 0.5 is a
    * memoryless walk, H → 1 trend persistence, H < 0.5 mean
    * reversion. The long-memory diagnostic NEXT TO [[spectralEntropy]]
    * (entropy scores periodic forecastability; Hurst scores trend
    * persistence — a series can be aperiodic yet persistent) and an
    * input a router like [[forecastAuto]] could consume.
    *
    * The slope is CLOSED-FORM over the ln-equally-spaced sizes — for
    * a dyadic ladder the least-squares slope through the endpoints'
    * ln values equals (ln rs_hi − ln rs_lo)/(ln hi − ln lo) only when
    * the middle point is ignored; we fit the ENDPOINTS deliberately
    * (two-point slope) so no engine-specific regression aggregate
    * (order-dependent summation) enters the hash contract. Per-block
    * folds are LEFT-TO-RIGHT in both engines (Spark slice-aggregate =
    * DuckDB list_sum over a slice), so every intermediate shares the
    * same IEEE op sequence; r3 at the block R/S and size average
    * absorbs the rest.
    *
    * Scale plan: one key exchange (row_number), then a map-side size
    * explode (×|sizes|) into a (key, w, block) groupBy whose state is
    * w-bounded arrays; per-block math is O(w²) HOF adds with w ≤ 16.
    * Everything after the block agg is key-×-|sizes| volume.
    */
  def hurst(daily: DataFrame, sizes: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    require(sizes.size >= 2 && sizes == sizes.sorted && sizes.distinct == sizes,
      s"hurst: sizes must be ascending distinct, got $sizes")
    val lo = sizes.head
    val hi = sizes.last
    val span = math.log(hi.toDouble) - math.log(lo.toDouble)
    val blocks = daily
      .withColumn("rn", row_number().over(wOrdered))
      .select(col(KEY), col("rn"), col("v"),
        explode(expr(sizes.mkString("array(", ", ", ")"))).as("w"))
      .groupBy(col(KEY), col("w"), expr("CAST((rn - 1) DIV w AS BIGINT)").as("blk"))
      .agg(expr("transform(sort_array(collect_list(struct(rn, v))), s -> s.v)").as("vs"))
      .where(size(col("vs")) === col("w"))
    val rs = blocks
      .withColumn("m", expr("aggregate(vs, 0D, (a, x) -> a + x) / size(vs)"))
      .withColumn("cum", expr(
        "transform(sequence(1, size(vs)), i -> aggregate(slice(vs, 1, i), 0D, (a, x) -> a + x) - i * m)"))
      .withColumn("s2", expr("aggregate(vs, 0D, (a, x) -> a + (x - m) * (x - m)) / size(vs)"))
      .where(col("s2") > 0)
      .select(col(KEY), col("w"),
        r3((expr("array_max(cum)") - expr("array_min(cum)")) / sqrt(col("s2"))).as("rs"))
    val perW = rs.groupBy(col(KEY), col("w")).agg(r3(avg(col("rs"))).as("avg_rs"))
    perW.groupBy(col(KEY))
      .agg(sizes.map(w => max(when(col("w") === w, col("avg_rs"))).as(s"rs$w")).head,
        sizes.map(w => max(when(col("w") === w, col("avg_rs"))).as(s"rs$w")).tail: _*)
      .select(col(KEY) +: sizes.map(w => col(s"rs$w")) :+
        when(col(s"rs$lo") > 0 && col(s"rs$hi") > 0,
          r3((log(col(s"rs$hi")) - log(col(s"rs$lo"))) / lit(span))).as("hurst"): _*)
  }

  /** Forecast-quality metrics per series: R2 / MSE / MAE between
    * `v_hat` and `v_actual` (reference metric_extraction:
    * notebooks/scoring.py "R2_all"/"R2_array" + sklearn metrics).
    */
  def metrics(scored: DataFrame): DataFrame = {
    val err = col("v_hat") - col("v_actual")
    scored
      .withColumn("mu", avg(col("v_actual")).over(wKey))
      .groupBy(col(KEY))
      .agg(
        r3(avg(err * err)).as("mse"),
        r3(avg(abs(err))).as("mae"),
        r3(lit(1.0) - sum(err * err) /
          nullif(sum((col("v_actual") - col("mu")) * (col("v_actual") - col("mu"))), lit(0.0))).as("r2"))
  }
}
