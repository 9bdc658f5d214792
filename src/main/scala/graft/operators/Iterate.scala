package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one round loop of graft's iterative Spark operators. Each
  * round's plan must start from a LEAF, or the logical lineage doubles
  * every round and Catalyst analysis time goes exponential (measured:
  * 1.3 s -> 33 s/round by round 5 with persist only), so every round is
  * cut with a `localCheckpoint` — standard iterative-Spark practice; at
  * cluster scale a reliable `checkpoint()` would survive executor loss.
  * Every cut runs under the job description `<op>:round<r>`, so a job
  * profile or listener can tell the rounds apart.
  *
  * Two loop shapes:
  *   - [[rounds]]: a FIXED number of rounds (walks, routing, PageRank,
  *     label propagation, ESD outliers). Rounds 1..n−1 are cut eagerly;
  *     the last round is cut too, or left lazy so its merge runs in
  *     the consumer's own job (one fewer scheduler barrier).
  *   - [[fixpoint]]: rounds until a count says the state stopped
  *     changing (connected components, reachability closure). Each
  *     round is cut LAZILY and counted in the same job.
  */
private[graft] object Iterate {

  /** `state ← step(r, state)` for r = 1..`n` from `init`. Every round
    * but the last is cut eagerly after `between` adds what only the
    * NEXT round reads (a walk's frontier windows); the last round is
    * cut the same way when `cutLast` — a consumer that reads the
    * result twice would otherwise compute the round twice — and is
    * otherwise returned lazy, without `between`.
    */
  def rounds(spark: SparkSession, op: String, n: Int, init: DataFrame,
             cutLast: Boolean, between: DataFrame => DataFrame = identity)(
      step: (Int, DataFrame) => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (state, r) =>
      val next = step(r, state)
      if (r < n || cutLast) Par.labelled(spark, s"$op:round$r") {
        between(next).localCheckpoint()
      }
      else next
    }

  /** LAZY localCheckpoint — a lineage cut whose materialization folds
    * into the IMMEDIATELY FOLLOWING action instead of paying its own
    * scheduler round-trip. Measured (r17): a WIN only when that next
    * action is already mandatory and adjacent (a fixpoint round, whose
    * count is the convergence contract — round cost drops from two
    * jobs to one); a LOSS everywhere else — AQE materializes a lazy
    * frame's shuffle stages at construction regardless, and consumers
    * that hit the frame before its cache populates recompute the tail
    * stages (walk-family walls rose 10-30% under a fully-lazy regime
    * before this was re-measured and scoped back). So [[rounds]] cuts
    * eagerly.
    */
  def lazyCut(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Rounds until convergence from `init`, whose count is `n0`. Round
    * r lazily cuts `step(state)` and runs `count` on the cut in the
    * same job — the count materializes the checkpoint, so a round is
    * one scheduler round-trip; the loop stops once `settled(previous
    * count, this count)`. With a `bound` (max rounds, hint) a loop
    * still unsettled after max rounds throws an
    * `IllegalStateException` naming `op` and the hint: silent
    * non-convergence would return a state short of the fixpoint.
    * Returns the settled state and its count.
    */
  def fixpoint(spark: SparkSession, op: String, init: DataFrame, n0: Long,
               bound: Option[(Int, String)] = None)(
      count: DataFrame => Long, settled: (Long, Long) => Boolean)(
      step: DataFrame => DataFrame): (DataFrame, Long) = {
    var (state, n, r, done) = (init, n0, 0, false)
    while (!done && bound.forall(r < _._1)) {
      r += 1
      val next = lazyCut(step(state))
      val n2 = Par.labelled(spark, s"$op:round$r")(count(next))
      done = settled(n, n2)
      state = next
      n = n2
    }
    for ((max, hint) <- bound if !done)
      throw new IllegalStateException(s"$op did not converge within $max rounds; $hint")
    (state, n)
  }
}
