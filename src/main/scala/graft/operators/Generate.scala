package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Rounding.r3

/** Deterministic synthetic time-series generator — the Spark-native
  * re-expression of the reference's mock-series factory
  * (reference: src/demo/create_time_series.py:94-196: per-customer
  * series = seasonal wave + exponential trend + noise + level-shift
  * spikes).
  *
  * Differences by design, for 100-TB reproducibility:
  *   - randomness is a hash-PRNG (md5 of key/t/tag) instead of
  *     numpy's global RNG — values are identical no matter how the
  *     job is partitioned or re-run, and expressible in any engine;
  *   - all four reference signal types (sine/sawtooth/triangle/
  *     square, create_time_series.py:110-139) are generated; the sine
  *     is a folded-parabola approximation with a cubic refinement
  *     (max error ≈ 0.1% of amplitude) because transcendental libm
  *     results are not bit-portable across engines — the
  *     approximation uses only IEEE mul/add, evaluated in the same
  *     order on both sides, so it is;
  *   - the trend is the reference's exponential law
  *     `sign · salary · e^{trend·t̃}`, trend ~ U(1,2), t̃ ∈ [0,1]
  *     (create_time_series.py:125-128), with e^x computed as
  *     (e^{x/16})^16 over a degree-4 Taylor core — again pure IEEE
  *     mul/add in identical order on both sides (relative error of
  *     the approximation vs true exp ≈ 4e-6, far under the output
  *     rounding), because libm exp is not bit-portable;
  *   - spikes follow the reference law (create_time_series.py:146-157):
  *     3 level shifts per key, each at a uniform day inside
  *     [nDays−92−365, nDays−92) (no spikes in the 92-day forecast
  *     tail; window clamped at 0 for short series, no spikes at all
  *     when nDays ≤ 92), amplitude N(3·salary, salary) with random
  *     sign. The Gaussian draw is an Irwin-Hall sum of 12 hash-PRNG
  *     uniforms (pure adds — bit-portable; |error| vs a true normal
  *     is immaterial for a synthetic generator). Short-series
  *     divergence, accepted by design: for nDays < 457 the reference's
  *     `np.random.randint(first, last)` draws NEGATIVE day indices,
  *     and its Python slice `ts[t:] += a` then wraps them — a negative
  *     t shifts the whole (or tail of the) series, a level offset
  *     rather than a mid-series changepoint. Graft instead clamps the
  *     window at 0, redistributing that probability mass into
  *     [0, nDays−92), so every spike stays a detectable changepoint;
  *     for nDays ≤ 92 the window is empty and graft emits no spikes
  *     where the reference would emit wrapped whole-series shifts;
  *   - per-row noise stays uniform ±0.1·salary (reference: Gaussian
  *     N(0, noise·salary)) — a documented difference-by-design: a
  *     per-row Irwin-Hall would cost 12 hash evaluations per ROW
  *     (vs per KEY for the spike draws) for no semantic gain;
  *   - rows are generated distributed: `spark.range(nKeys)` ×
  *     `explode(sequence(0, nDays-1))` — no driver-side loop, scales
  *     linearly with cluster size. All per-key randoms (phase, trend
  *     sign/rate, spike days/signs/amplitudes — 45 md5 calls) are
  *     computed in a projection BELOW the explode, once per key, not
  *     once per row; only the noise draw is per-row.
  */
object Generate {

  /** Reference spike-window constants (create_time_series.py:146-148):
    * spikes land within `SPIKE_LOOKBACK_DAYS` of the forecast boundary
    * and never inside the `SPIKE_TAIL_DAYS` forecast tail. Single
    * definition shared by Generate.series, OracleSql.generate and
    * GenerateSpec so the hand-mirrored implementations can't drift.
    */
  val SPIKE_TAIL_DAYS = 92
  val SPIKE_LOOKBACK_DAYS = 365
  val N_SPIKES = 3

  /** (firstSpikeDay, lastSpikeDay, nSpikes) for an `nDays` series —
    * window clamped at 0 for short series; no spikes when empty.
    */
  def spikeWindow(nDays: Int): (Int, Int, Int) = {
    val last = nDays - SPIKE_TAIL_DAYS
    val first = math.max(0, last - SPIKE_LOOKBACK_DAYS)
    (first, last, if (last > first) N_SPIKES else 0)
  }

  /** Uniform [0,1) from md5(key ":" tag), 5 decimal digits. */
  private def u(key: Column, tag: String): Column =
    (conv(substring(md5(concat(key.cast("string"), lit(":" + tag))), 1, 8), 16, 10)
      .cast("bigint") % 100000L).cast("double") / 100000.0

  /** Generate `nKeys` daily series of length `nDays` with period-`p`
    * seasonality. Output: (key, t, v, signal_type).
    */
  def series(spark: SparkSession, nKeys: Int, nDays: Int, p: Int): DataFrame = {
    val k = col("key")
    val (firstSpike, lastSpike, nSpikes) = spikeWindow(nDays)

    // ---- per-key draws (computed once per key, below the explode) --
    // N(0,1) ≈ Irwin-Hall: (Σ_{i=1..12} U_i) − 6, summed left-to-right
    // in tag order — identical order in OracleSql.generate.
    def ihz(j: Int): Column =
      (1 to 12).map(i => u(k, s"spikez${j}_$i")).reduceLeft(_ + _) - lit(6.0)
    val perKey = spark.range(nKeys).toDF("key").select(
      Seq(
        k,
        (lit(100.0) + (k % 50).cast("double") * 10.0).as("salary"),
        u(k, "phase").as("phase"),
        when(u(k, "sign") < 0.5, -1.0).otherwise(1.0).as("tsign"),
        (u(k, "trend") + 1.0).as("ta")) ++
      (1 to nSpikes).flatMap(j => Seq(
        (lit(firstSpike.toDouble) +
          floor(u(k, s"spikeday$j") * (lastSpike - firstSpike).toDouble)).as(s"st$j"),
        when(u(k, s"spikesign$j") < 0.5, -1.0).otherwise(1.0).as(s"ss$j"),
        (lit(3.0) + ihz(j)).as(s"sa$j"))): _*)

    // ---- per-row signal ------------------------------------------
    val rows = perKey.select(col("*"),
      explode(sequence(lit(0), lit(nDays - 1))).as("t"))
    val t = col("t").cast("double")
    val salary = col("salary")
    // tt = fractional position in the cycle, phase-shifted
    val tt = {
      val x = t / p.toDouble + col("phase")
      x - floor(x)
    }
    val saw = tt * 2.0 - 1.0
    val sq = when(tt < 0.5, 1.0).otherwise(-1.0)
    // sin(2π·tt) ≈ folded parabola q = ±16·u·(0.5−u) refined by
    // 0.775·q + 0.225·q·|q| — pure IEEE mul/add, identical
    // parenthesization in OracleSql.generate, so bit-exact both sides
    val u0 = when(tt < 0.5, tt).otherwise(tt - 0.5)
    val q = when(tt < 0.5, lit(1.0)).otherwise(lit(-1.0)) * (u0 * (lit(0.5) - u0) * 16.0)
    val sine = q * 0.775 + q * abs(q) * 0.225
    val signalType = (k % 4).cast("int")
    // Reference-exact amplitude/sign conventions per signal type
    // (create_time_series.py:136-139): sine/square scale 0.5·salary,
    // sawtooth is NEGATED (−0.5·salary·saw), triangle is full-amplitude
    // |saw|·salary with a constant −1 offset (not salary-scaled).
    val seasonal = when(signalType === 0, sine * 0.5 * salary)
      .when(signalType === 1, saw * -0.5 * salary)
      .when(signalType === 2, abs(saw) * salary - 1.0)
      .otherwise(sq * 0.5 * salary)
    // Exponential trend (create_time_series.py:125-128): tsign·e^{ta·t̃},
    // t̃ = t/(nDays−1) (np.linspace(0,1,size)); salary factor applied in
    // the final v expression. e^x = (e^{x/16})^16, degree-4 Taylor core,
    // parenthesized exactly like OracleSql.generate.
    // t̃ denominator: np.linspace(0,1,size) spacing is 1/(size−1);
    // clamped at 1 so a single-day series yields t̃ = 0, not 0/0.
    val y = (col("ta") * (t / math.max(nDays - 1, 1).toDouble)) / 16.0
    val y2 = y * y
    val y3 = y2 * y
    val y4 = y3 * y
    val e0 = (((lit(1.0) + y) + (y2 / 2.0)) + (y3 / 6.0)) + (y4 / 24.0)
    val e1 = e0 * e0
    val p2 = e1 * e1
    val p3 = p2 * p2
    val ex = p3 * p3
    val trend = col("tsign") * ex
    val noise = (u(concat(k, lit("@"), col("t")), "noise") - 0.5) * 0.2
    // Spike sum (create_time_series.py:151-153): cumulative level
    // shifts; amplitude in salary units (3 + z_j), salary factor
    // applied in the final v expression. Summed j=1..3 left-to-right.
    val spike =
      if (nSpikes == 0) lit(0.0)
      else (1 to nSpikes)
        .map(j => when(t >= col(s"st$j"), col(s"ss$j") * col(s"sa$j")).otherwise(0.0))
        .reduceLeft(_ + _)
    rows.select(k, col("t"),
      r3(seasonal + salary * (trend + noise + spike)).as("v"),
      signalType.as("signal_type"))
  }
}
