package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Rounding.{r3, r3d}
import graft.functions.VectorExprs
import graft.sources.Store

/** Embedding similarity search over `Array[Float]` columns.
  *
  * Scale design: the query set is broadcast; candidate scoring is a
  * map-only pass over the corpus; ranking is two-phase top-k (salted
  * partial rank, then final rank) so no single reducer sees the whole
  * corpus — the global-sort-free pattern that survives 100 TB.
  *
  * Vector math runs through the native codegen'd loop expressions in
  * [[graft.functions.VecDot]] / [[graft.functions.LshBucket]]: the
  * same left-to-right IEEE accumulation as the flat-column formulation
  * they replace (results bit-identical), but with a constant-size plan.
  * Round-1 benched the alternatives on 2M pairs (sf0.1): interpreted
  * `aggregate(zip_with(...))` HOF 24s, per-term `getItem` 62s, flat
  * scalar columns 5.1s — but flat columns cost multi-second codegen
  * compiles (ann_lsh spent most of its 7s there). The loop expression
  * keeps the 5.1s arithmetic with a ~100× smaller plan.
  */
object Similarity {

  /** Embedding dimension of the test corpus. */
  val DIM = 64

  /** The two-phase salted top-k shared by every ANN tier: phase 1
    * ranks within (qid, salt) — WindowGroupLimit prunes BEFORE the
    * exchange — so the final per-qid rank sees at most 32·k rows per
    * query, never a corpus-sized bucket. `scored` must have
    * (qid, vid, `valueCol`); order is (value asc|desc, vid).
    */
  private def saltedTopK(scored: DataFrame, valueCol: String,
                         ascending: Boolean, k: Int): DataFrame = {
    val ord = if (ascending) col(valueCol).asc else col(valueCol).desc
    scored.withColumn("salt", pmod(col("vid"), lit(32)))
      .withColumn("r1", row_number().over(
        Window.partitionBy(col("qid"), col("salt")).orderBy(ord, col("vid"))))
      .where(col("r1") <= k).drop("salt", "r1")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(ord, col("vid"))))
      .where(col("rank") <= k)
  }

  /** Recall@k of an approximate tier against the exact answer, per
    * query: the one scoring core of every recall and sweep audit.
    * `exact` and `approx` are read as (qid, vid); the exact rows
    * left-join the approximate ones, so a query the tier misses
    * entirely still reports recall 0. Output: `tags` (leading literal
    * columns such as (beam, rounds) or (tier, nprobe)), then qid,
    * n_exact, n_hit and recall = r3(n_hit / n_exact). Lazy: no
    * checkpoint and no job of its own, so a lazy audit stays one plan;
    * the graph audits, whose walks run eagerly, go through
    * [[walkRecall]].
    */
  private def recallAt(exact: DataFrame, approx: DataFrame, tags: Column*): DataFrame =
    exact.select(col("qid"), col("vid"))
      .join(approx.select(col("qid"), col("vid"), lit(1).as("hit")), Seq("qid", "vid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(tags ++ Seq(col("qid"), col("n_exact"), col("n_hit"),
        r3(col("n_hit") / col("n_exact")).as("recall")): _*)

  /** The graph audits' fan-out over [[recallAt]]: the exact side,
    * projected to (qid, vid) and eagerly checkpointed, runs in parallel
    * with each walk (guide §2.6: a walk's checkpoints are eager, so run
    * one after another they serialise their rounds' scheduler
    * barriers), then each walk's recall rows, led by its tags, are
    * unioned in input order. Output columns are [[recallAt]]'s.
    */
  private def walkRecall(exact: => DataFrame,
                         walks: (Seq[Column], () => DataFrame)*): DataFrame = {
    val sides = Par.inParallelAll(
      (() => exact.select(col("qid"), col("vid")).localCheckpoint()) +: walks.map(_._2))
    walks.map(_._1).zip(sides.tail).map { case (tags, approx) =>
      recallAt(sides.head, approx, tags: _*)
    }.reduce(_ unionByName _)
  }

  /** A graph sweep's (beam, rounds) tags. */
  private def budget(beam: Int, rounds: Int): Seq[Column] =
    Seq(lit(beam.toLong).as("beam"), lit(rounds.toLong).as("rounds"))

  /** Process-level memo for DRIVER-SIDE trained artifacts (k-means
    * centroids, PQ codebooks, PCA components, OPQ rotations): keyed
    * by the TRAINING INPUT's canonical plan (the CacheManager
    * sameResult/semanticHash convention) plus the training
    * parameters. Training is deterministic here (md5 PRNG, rounded
    * trajectories), so a repeated fit over the same input IS the same
    * artifact — paying Lloyd / power iteration twice inside one
    * process (a tier gate and its recall gate in one Verify/Bench
    * run) buys nothing. The in-process half of the train-once
    * discipline whose on-disk half is the stored index
    * ([[writeAnnIndex]] carries codebooks in `_meta`).
    *
    * Contract: the key folds in a DATA FINGERPRINT for file-backed
    * inputs (per-leaf file path, length, modification time from the
    * relation's FileIndex), so rewriting a training table in place
    * invalidates its memo entries instead of silently serving stale
    * artifacts (ADVICE r13); purely in-memory frames (literal local
    * relations) fall back to plan identity alone — they are immutable
    * by construction. Values are codebook-bounded driver arrays
    * (KBs); the size cap is a leak guard, not a working-set bound.
    *
    * Freshness boundary (ADVICE r14, deliberate): the fingerprint
    * lists files through the CALLER's FileIndex, so it is exactly as
    * fresh as the caller's relation — a caller that rewrites a table
    * in place and then retrains through the SAME DataFrame (or a
    * catalog-cached FileIndex) hashes the stale listing and gets the
    * stale artifact. Re-read the table (fresh FileIndex) after a
    * rewrite, as every gate and spec here does. A forced
    * `location.refresh()` per memo probe would close that path but
    * re-list the training table on EVERY fit — at 100 TB that is a
    * full-listing RPC storm paid even by the 99% of probes whose
    * input never changed, so the contract stays caller-side (tests
    * that mutate in place call [[clearTrainedMemo]]).
    */
  private final class TrainKey(df: DataFrame, val tag: String) {
    val plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      df.queryExecution.analyzed.canonicalized
    // (path, len, mtime) of every file under every file-source leaf:
    // the snapshot a rewrite-in-place changes even when the canonical
    // plan (paths + schema) does not. Driver-side listing only — the
    // FileIndex caches it, so a memo probe costs no extra RPCs.
    val files: Int = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.listFiles(Nil, Nil).flatMap(_.files)
              .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
              .hashCode()
          case _ => 0
        }
      case _ => 0
    }.hashCode()
    override def hashCode(): Int =
      (plan.semanticHash() * 31 + tag.hashCode) * 31 + files
    override def equals(o: Any): Boolean = o match {
      case k: TrainKey =>
        k.tag == tag && k.files == files && k.plan.sameResult(plan)
      case _ => false
    }
  }
  private val trainedMemo =
    scala.collection.concurrent.TrieMap.empty[TrainKey, AnyRef]
  private val memoHitCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Monotone count of memo HITS (trained artifacts served without a
    * rebuild) — Bench samples it around each query so BENCH_LOCAL can
    * label per-query numbers that measured warm-artifact serving
    * rather than build+serve (VERDICT r13 measurement-semantics note).
    */
  private[graft] def memoHitCount: Long = memoHitCounter.get()
  private[graft] def memoized[T <: AnyRef](df: DataFrame, tag: String)(train: => T): T = {
    if (trainedMemo.size > 256) trainedMemo.clear()
    var built = false
    val v = trainedMemo.getOrElseUpdate(new TrainKey(df, tag),
      { built = true; train }).asInstanceOf[T]
    if (!built) memoHitCounter.incrementAndGet()
    v
  }
  /** Drop every memoized trained artifact (for tests that mutate a
    * training table in place).
    */
  private[graft] def clearTrainedMemo(): Unit = trainedMemo.clear()

  /** The memo specialized to DISTRIBUTED artifacts (localCheckpointed
    * frames — the kNN-graph edge lists): same key discipline as the
    * driver-artifact memo, plus a liveness guard — a checkpointed
    * frame is only as alive as its SparkContext, so a hit whose
    * context has stopped rebuilds instead of handing out dead RDDs.
    */
  /** Memoized, checkpointed (src, nbr) edge frame of [[knnGraph]] —
    * the walk consumers (flat search, sweep, both hier layers) often
    * build the IDENTICAL graph inside one process; the build is the
    * family's dominant cost and the result is immutable, so it
    * follows the trained-artifact discipline.
    */
  private def knnGraphEdges(embeddings: DataFrame, nCentroids: Int,
                            kGraph: Int, nprobe: Int): DataFrame =
    memoizedFrame(embeddings, s"knng:$nCentroids:$kGraph:$nprobe") {
      knnGraph(embeddings, nCentroids, kGraph, nprobe)
        .select(col("vec_id").as("src"), col("nbr")).localCheckpoint()
    }

  /** [[knnGraphEdges]] with GRAPH-ROUTED cell assignment — the shared
    * edge builder's routed option (VERDICT r14 #1: the hier tier kept
    * paying the flat scan's Θ(n^1.5·d) term after the routed fix
    * shipped as a parallel tier; this is the composition). Same memo
    * discipline, the budget folded into the key.
    */
  private def knnGraphEdgesRouted(embeddings: DataFrame, nCentroids: Int,
                                  kGraph: Int, nprobe: Int, kCentGraph: Int,
                                  beam: Int, rounds: Int): DataFrame =
    memoizedFrame(embeddings,
        s"knngr:$nCentroids:$kGraph:$nprobe:$kCentGraph:$beam:$rounds") {
      knnGraphRouted(embeddings, nCentroids, kGraph, kCentGraph, beam, rounds, nprobe)
        .select(col("vec_id").as("src"), col("nbr")).localCheckpoint()
    }

  /** Lazy build holder so concurrent [[memoizedFrame]] callers race on
    * getOrElseUpdate (cheap holder construction), never on the graph
    * build itself — exactly one caller pays the checkpoint (ADVICE
    * r13: the previous get-then-put could build the same kNN graph
    * twice under contention).
    */
  private final class FrameHolder(build: () => DataFrame) {
    lazy val frame: DataFrame = build()
  }
  private def memoizedFrame(df: DataFrame, tag: String)
                           (build: => DataFrame): DataFrame = {
    if (trainedMemo.size > 256) trainedMemo.clear()
    val k = new TrainKey(df, tag)
    var inserted = false
    trainedMemo.getOrElseUpdate(k,
        { inserted = true; new FrameHolder(() => build) }) match {
      case h: FrameHolder if !h.frame.sparkSession.sparkContext.isStopped =>
        if (!inserted) memoHitCounter.incrementAndGet()
        h.frame
      case h: FrameHolder =>
        // checkpointed against a stopped context: rebuild under a
        // fresh holder (remove-then-recurse keeps the atomicity)
        trainedMemo.remove(k, h)
        memoizedFrame(df, tag)(build)
      case _ => build
    }
  }

  /** `row.getAs[Int](name)` with a default when the column predates
    * the schema (stored-index forward compatibility: meta tables grow
    * columns across rounds; readers of old stores get the behaviour
    * the old writer pinned, not an opaque schema error).
    */
  private def metaIntOr(row: org.apache.spark.sql.Row, name: String,
                        default: Int): Int =
    if (row.schema != null && row.schema.fieldNames.contains(name))
      row.getAs[Int](name)
    else default

  /** The first `n` vectors (by vec_id, ascending), widened to doubles
    * — ONE driver collect shared by codebook, quantizer and query-
    * table construction (O(n·dim), the footprint a broadcast would
    * ship).
    */
  private def headVectors(embeddings: DataFrame, n: Int): Array[(Long, Array[Double])] =
    // NULL embeddings are excluded HERE, once for every consumer
    // (codebooks, quantizers, query tables): a NULL head vector would
    // NPE the double widening below, while every SQL oracle's `e` CTE
    // filters NULL — one shared guard keeps all tiers aligned
    embeddings.where(col("vec_id") < n && col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1)

  /** PQ codebook from centroid vectors: per-subspace codeword ids +
    * sub-slices, serialized for [[graft.functions.PqCodes]]. Shared by
    * [[annPqTopK]] / [[annIvfPqTopK]] / [[annPqRecall]] so the
    * convention can never diverge between tiers.
    */
  private def pqBooks(cents: Array[(Long, Array[Double])], m: Int)
      : (String, Array[Array[Long]], Array[Array[Array[Double]]], Int) = {
    require(cents.nonEmpty, "PQ: empty codebook")
    val dim = cents.head._2.length
    require(dim % m == 0, s"PQ: dim $dim not divisible by m = $m subspaces")
    val subDim = dim / m
    val cids = Array.fill(m)(cents.map(_._1))
    val books = Array.tabulate(m)(s => cents.map(_._2.slice(s * subDim, (s + 1) * subDim)))
    (graft.functions.PqCodes.encode(cids, books), cids, books, subDim)
  }

  /** ADC distance tables for the collected query vectors: one row per
    * (qid, subspace, codeword) with the ROUNDED squared L2 — computed
    * driver-side with the same left-to-right accumulation + canonical
    * rounding as PqCodes and the SQL oracle.
    */
  private def pqDistTable(spark: org.apache.spark.sql.SparkSession,
                          qs: Array[(Long, Array[Double])],
                          cids: Array[Array[Long]],
                          books: Array[Array[Array[Double]]],
                          subDim: Int): DataFrame = {
    val rows = for {
      (qid, qv) <- qs.toSeq
      s <- books.indices
      c <- books(s).indices
    } yield {
      val w = books(s)(c)
      var d2 = 0.0
      var d = 0
      while (d < subDim) {
        val idx = s * subDim + d
        val x = (if (idx < qv.length) qv(idx) else 0.0) - w(d)
        d2 += x * x
        d += 1
      }
      (qid, s, cids(s)(c), r3d(d2))
    }
    import spark.implicits._
    rows.toDF("qid", "s", "code", "d2")
  }

  /** `(vec_id, v, norm)` — the raw vector plus its L2 norm (floats
    * widened to double per element, exactly `CAST(... AS DOUBLE[])`).
    */
  def prepared(embeddings: DataFrame): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
  }

  /** Exact cosine top-k per query vector (queries = `vec_id < nQueries`).
    * Two-phase rank keeps every partition's work bounded.
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int, dim: Int = DIM): DataFrame = {
    val e = prepared(embeddings)
    val q = prepared(embeddings).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"), pairCos().as("cos"))
    // phase 1: top-k within (qid, salt); phase 2: global top-k per qid
    saltedTopK(scored, "cos", ascending = false, k)
  }

  /** Exact cosine top-k served from the STORED graph's node table —
    * the graph store is a vector store with adjacency, and this is its
    * exact-rerank surface ([[cosineTopK]] without re-reading the
    * corpus): masked nodes (takedown lifecycle applies — a tombstoned
    * vector leaves candidates AND queries immediately), same broadcast
    * query join, same salted two-phase top-k, byte-equal to the
    * recompute on the same corpus.
    */
  def cosineTopKStored(spark: org.apache.spark.sql.SparkSession, table: String,
                       nQueries: Int, k: Int): DataFrame = {
    VectorExprs.register(spark)
    val (mNodes, _) = maskedGraphStore(spark, table)
    val e = mNodes.select(col("vec_id"), col("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"), pairCos().as("cos"))
    saltedTopK(scored, "cos", ascending = false, k)
  }

  /** Filtered vector search, exact tier: per-query top-k cosine over
    * ONLY the vectors satisfying the query's metadata predicate —
    * here `label = qid % nLabels`, standing in for the language /
    * source / license-bucket filters of a production vector store.
    * PRE-filtering: the predicate lives in the join condition, so
    * non-matching candidates die during the broadcast-join scan and
    * the top-k is exact over the filtered set. (Post-filtering — rank
    * first, filter after — silently returns < k or loses recall; the
    * filtered-ANN literature calls this the pre/post-filter gap.)
    */
  def cosineTopKFiltered(embeddings: DataFrame, nQueries: Int, k: Int,
                         nLabels: Int): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("qid") &&
        col("label") === pmod(col("qid"), lit(nLabels.toLong)).cast("int"))
      .select(col("qid"), col("vec_id").as("vid"), col("label"), pairCos().as("cos"))
    saltedTopK(scored, "cos", ascending = false, k)
  }

  /** Embedding near-duplicate pairs: cosine ≥ `threshold`, vec_a < vec_b.
    * Brute force — the exact verifier; candidate generation at scale
    * is [[annLshTopK]]-style bucketing. The threshold lives in the
    * join condition, so non-duplicate pairs are discarded during the
    * nested-loop scan instead of being materialized as output rows.
    */
  def cosineDupPairs(embeddings: DataFrame, threshold: Double, dim: Int = DIM): DataFrame = {
    val a = prepared(embeddings)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val b = prepared(embeddings)
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    val cos = r3(expr("graft_vec_dot(va, vb)") / (col("na") * col("nb")))
    a.join(b, col("vec_a") < col("vec_b") && cos >= threshold)
      .select(col("vec_a"), col("vec_b"), cos.as("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): embedding-space near-duplicate removal that
    * never goes all-pairs. Vectors are coarsely clustered (the same
    * deterministic IVF cell assignment as [[annIvfTopK]] — k-means in
    * the paper) and only WITHIN-cell pairs are compared — the paper's
    * observation that ε-duplicates share a cluster turns O(n²) into
    * O(Σ cell²), bounded by the nCentroids sizing (the paper uses
    * ~√n clusters). A vector is `dropped` when a LOWER-id vector in
    * its cell has rounded cosine ≥ threshold — the repo-wide min-id
    * survivor rule, chosen over the paper's keep-farthest-from-
    * centroid because it is order-free (no sequential greedy pass)
    * and engine-reproducible. Output: one row per non-null vector —
    * (vec_id, cell, dropped).
    *
    * Scale shape: cell assignment is a ZERO-exchange projection (the
    * codebook rides inside `graft_ivf_cell`); the only exchanges are
    * the cell-keyed self-join and the final id-keyed survivor join
    * (dup ids are a small minority by construction — a corpus that
    * drops most of itself has bigger problems than this join). The
    * reference keeps full vectors only inside the cell join, exactly
    * like [[annIvfTopK]]'s search side.
    */
  def semanticDedup(embeddings: DataFrame, nCentroids: Int,
                    threshold: Double): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    semanticDedupWith(embeddings, quantizer(embeddings, nCentroids), threshold)
  }

  /** [[semanticDedup]] with a TRAINED coarse quantizer (`kmIter` Lloyd
    * rounds) — the paper's actual recipe (SemDeDup clusters with
    * k-means); the first-N convention remains the cheap default.
    */
  def semanticDedupTrained(embeddings: DataFrame, nCentroids: Int, kmIter: Int,
                           threshold: Double): DataFrame = {
    val cents = kmeansCentroids(embeddings, nCentroids, kmIter)
    semanticDedupWith(embeddings,
      graft.functions.IvfCell.encode(cents.map(_._1), cents.map(_._2)), threshold)
  }

  /** [[semanticDedup]] with GRAPH-ROUTED cell assignment — SemDeDup's
    * 100-TB form: keeping Σ cell² linear forces the √n-centroids law,
    * and under it the FLAT all-centroids argmax is the Θ(n^1.5·d)
    * wall the r14 factor-100 soak diagnosed for graph builds; the
    * [[routedCells]] beam walk prices assignment at
    * n·rounds·beam·kCentGraph·d, INDEPENDENT of the codebook size —
    * the same FAISS HNSW-coarse-quantizer recipe the routed graph
    * tier uses, applied to the dedup verdict. Cells are the walk's
    * top-1 (crank = 1, the flat argmax's exact tie order); the
    * within-cell LEFT-join survivor core is shared verbatim with the
    * flat face. With a full budget (complete centroid graph, beam ≥
    * k) the output is byte-equal to [[semanticDedup]] (spec); at a
    * tight budget the routing is approximate and
    * [[routedAgreement]]'s table prices what the budget buys.
    *
    * Budget rule the soak measured the hard way: `rounds` must cover
    * the centroid graph's DIAMETER (≈ log_kCentGraph k — HNSW's hop
    * bound). Every vector walks from the shared entry, so only the
    * entry's rounds-hop ball (≤ kCentGraph^rounds cells) is reachable
    * at all; rounds too small for k caps the effective codebook
    * there, and the within-cell verdict join's Σ cell² degenerates
    * toward n²/ball — quadratic — while assignment stays linear (the
    * r16 directed-reachability finding's class, at the cell level).
    * At rounds ≈ log_deg k the routed face beats flat 1.9-2.3× at
    * k = 1600-3200 (SOAK_r17). The residual super-linear term at the
    * largest k was the THIN navigation graph (deg 4 at 3200 cells
    * funnels greedy walks into hubs and the verdict join inherits
    * the cell skew): deg/beam 8 at the same reachability ball
    * measures LINEAR (2.16× per doubling) and 2.35× under flat at
    * k = 3200 — graph DENSITY, not extra rounds, is the lever once
    * reachability holds (HNSW's ef scaling, measured in SOAK_r17);
    * the flat face stays the exact-assignment fallback.
    */
  def semanticDedupRouted(embeddings: DataFrame, nCentroids: Int,
                          kCentGraph: Int, beam: Int, rounds: Int,
                          threshold: Double): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    // localCheckpoint (the knnGraphRouted convention): the verdict
    // core's self-join reads the assignment on BOTH sides — without
    // the checkpoint the walk's final crank window re-runs per side
    // (plan-audited: two full WindowGroupLimit chains)
    val asg = routedCells(embeddings, nCentroids, kCentGraph, beam, rounds)
      .where(col("crank") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
      .localCheckpoint()
    val assigned = prepared(embeddings).where(col("v").isNotNull)
      .join(asg, "vec_id")
    semanticDedupCore(assigned, threshold)
  }

  /** SEMANTIC decontamination: flag every training vector whose
    * embedding sits within rounded-cosine `threshold` of ANY benchmark
    * vector — the paraphrase-level eval-overlap check that n-gram
    * decontamination ([[graft.operators.TextOps.decontaminate]],
    * GPT-3/C4 rule) structurally misses: a reworded eval item shares
    * no 4-gram with its source but lands next to it in embedding
    * space (the contamination mode documented in Yang et al. 2023,
    * "Rethinking Benchmark and Contamination ... ", arXiv:2311.04850).
    * Benchmark = `vec_id % benchMod == 0` (the n-gram decon gate's
    * every-50th-doc convention on the vector table); output = one row
    * per NON-benchmark non-null vector: (vec_id, cell, max_cos,
    * bench_id, flagged) — the 39/39a pairing in one frame: `flagged`
    * decides (max_cos ≥ threshold), `max_cos` + the witness
    * `bench_id` explain, NULL max_cos when no benchmark vector probes
    * the training vector's cell.
    *
    * Same never-all-pairs discipline as [[semanticDedup]], with the
    * multi-probe side flipped onto the TINY frame: the corpus keeps
    * its zero-exchange single-cell assignment (the codebook rides
    * inside `graft_ivf_cell`), while the benchmark — eval suites are
    * tiny by construction, the 39 broadcast argument — explodes its
    * `nprobe` nearest cells so a training vector on a cell boundary
    * is still caught, then BROADCASTs into one cell equi-join. A
    * (corpus, bench) pair can't generate twice: the corpus side holds
    * exactly one cell, the bench side `nprobe` DISTINCT cells. The
    * only exchange after the scan is the (vec_id, cell) aggregate of
    * compact scalar rows, partial-agged map-side; at 100 TB the plan
    * is one corpus scan + one broadcast + one compact exchange.
    */
  def semanticDecontaminate(embeddings: DataFrame, nCentroids: Int,
                            nprobe: Int, threshold: Double,
                            benchMod: Long = 50L): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val enc = quantizer(embeddings, nCentroids)
    // coalesce sentinel: see annIvfTopK — keeps `cell` non-nullable so
    // the equi-join doesn't re-run the argmax under an isnotnull guard
    val base = prepared(embeddings).where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
    semanticDeconCore(base, enc, nprobe, threshold, benchMod)
  }

  /** [[semanticDecontaminate]] served from a STORED kNN-graph store's
    * node table — the audit-the-artifact-you-serve face (the 48p
    * discipline): corpus AND benchmark come from the MASKED store, so
    * a takedown removes a vector from both sides immediately (a
    * taken-down benchmark item stops flagging anyone; a taken-down
    * training vector stops being reported), cells are the STORED
    * assignments and probe cells come from the `_meta`-PINNED
    * quantizer — the audit can never silently run under a different
    * codebook than the artifact it audits.
    */
  def semanticDecontaminateStored(spark: org.apache.spark.sql.SparkSession,
                                  table: String, nprobe: Int,
                                  threshold: Double,
                                  benchMod: Long = 50L): DataFrame = {
    VectorExprs.register(spark)
    val enc = graphMeta(spark, table).getAs[String]("enc")
    val (mNodes, _) = maskedGraphStore(spark, table)
    // stored nodes already carry the build-time cell — no re-assignment
    val base = mNodes.select(col("vec_id"), col("v"), col("cell"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
    semanticDeconCore(base, enc, nprobe, threshold, benchMod)
  }

  /** Shared verdict core of the two decontamination faces: `base` =
    * (vec_id, v, norm, cell) for every candidate vector; the
    * every-`benchMod` ids are the benchmark, the rest the corpus.
    */
  private def semanticDeconCore(base: DataFrame, enc: String, nprobe: Int,
                                threshold: Double, benchMod: Long): DataFrame = {
    val corpus = base.where(pmod(col("vec_id"), lit(benchMod)) =!= 0)
    val bench = base.where(pmod(col("vec_id"), lit(benchMod)) === 0)
      .select(col("vec_id").as("bid"), col("v").as("bv"), col("norm").as("bn"),
        explode(expr(s"coalesce(graft_ivf_cells(v, '$enc', $nprobe), array(-1L))"))
          .as("pcell"))
    val cos = r3(expr("graft_vec_dot(v, bv)") / (col("norm") * col("bn")))
    // LEFT join so witness-less vectors survive as one null-extended
    // row (the semanticDedupWith lesson — no third corpus scan); the
    // threshold stays OUT of the join condition because the report
    // publishes max_cos over ALL cell-sharing benchmark vectors, not
    // just the flagging ones. Witness = argmax by (cos, -bid): max of
    // a when()-guarded struct ignores the null-extended rows, and the
    // negated bid makes the lexicographic max break cos ties toward
    // the LOWEST benchmark id — deterministic on both engines.
    corpus.join(broadcast(bench), col("cell") === col("pcell"), "left")
      .groupBy(col("vec_id"), col("cell"))
      .agg(max(when(col("bid").isNotNull,
        struct(cos.as("c"), (-col("bid")).as("nb")))).as("w"))
      .select(col("vec_id"), col("cell"),
        col("w.c").as("max_cos"), (-col("w.nb")).as("bench_id"),
        coalesce(col("w.c") >= threshold, lit(false)).as("flagged"))
  }

  /** kNN GRAPH over the whole corpus: for EVERY vector, its k nearest
    * neighbours (by rounded cosine) among the vectors assigned to its
    * `nprobe` NEAREST cells — the batch primitive under graph-based
    * ANN (HNSW/NSG build from exactly this), graph dedup
    * ([[graft.operators.Dedup.connectedComponents]] /
    * [[graft.operators.Dedup.labelProp]] consume the edges) and kNN
    * classification. With nprobe ≥ 2 each vector's edge list spans
    * its nearest cell BOUNDARIES — the Malkov-Yashunin long-range
    * property a walk needs to escape the query's own coarse cell;
    * pair volume is Σ cell·nprobe (kept linear by scaling nCentroids
    * ~√n, the SemDeDup regime), never the corpus square.
    *
    * One zero-exchange cell assignment, ONE probe-cell equi-join
    * (the [[annIvfTopKProbe]] convention: ONLY the left side
    * explodes its probe cells, the right keeps its single assigned
    * cell, so no pair generates twice), then a per-vector top-k
    * window on the vec_id exchange.
    */
  def knnGraph(embeddings: DataFrame, nCentroids: Int, k: Int,
               nprobe: Int = 2): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val enc = quantizer(embeddings, nCentroids)
    val assigned = prepared(embeddings)
      .where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
    knnEdges(assigned, assigned, k, enc, nprobe)
  }

  /** Per-LEFT-vector top-k cosine edges against the RIGHT vectors
    * assigned to any of the left vector's `nprobe` nearest cells —
    * the edge builder [[knnGraph]] and the stored-graph build/append
    * share (one probe-cell equi-join + one rank window; self-pairs
    * excluded). The LEFT side explodes its `nprobe` candidate cells
    * ([[graft.functions.IvfCells]]); the RIGHT side carries its
    * single assigned `cell`, so each (left, right) pair appears at
    * most once. Both sides carry (vec_id, v, norm); right also
    * carries `cell`.
    */
  private def knnEdges(left: DataFrame, right: DataFrame, k: Int,
                       enc: String, nprobe: Int): DataFrame =
    knnEdgesProbed(ivfProbed(left, enc, nprobe), right, k)

  /** `(vec_id, v, norm)` rows exploded to their `nprobe` nearest cells
    * under the quantizer `enc` — the flat builds' probe rows.
    */
  private def ivfProbed(left: DataFrame, enc: String, nprobe: Int): DataFrame =
    left.select(col("vec_id"), col("v"), col("norm"),
      explode(expr(s"graft_ivf_cells(v, '$enc', $nprobe)")).as("pcell"))

  /** [[knnEdges]] with the LEFT probe cells supplied as rows
    * `(vec_id, v, norm, pcell)` instead of the flat [[IvfCells]]
    * explode — the shared tail for the graph-ROUTED builds, whose
    * probe cells come from the centroid-graph walk (or the persisted
    * `_probes` table on the append path).
    */
  private def knnEdgesProbed(probed: DataFrame, right: DataFrame,
                             k: Int): DataFrame =
    knnPairs(probed, right)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr")))
        .cast("long"))
      .where(col("rank") <= k)

  /** [[knnEdgesProbed]]'s scored pairs `(vec_id, nbr, cos)` before the
    * top-k window — every probe-cell pair, self-pairs excluded.
    */
  private def knnPairs(probed: DataFrame, right: DataFrame): DataFrame = {
    val other = right.select(col("vec_id").as("nbr"),
      col("cell").as("cell_b"), col("v").as("vb"), col("norm").as("nb"))
    val cos = r3(expr("graft_vec_dot(v, vb)") / (col("norm") * col("nb")))
    probed.join(other,
        col("pcell") === col("cell_b") && col("nbr") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr"), cos.as("cos"))
  }

  /** Every vector's centroid-graph ROUTED cell candidates: beam-walk
    * the exact kNN graph of the CENTROIDS (degree `kCentGraph`,
    * entry = min cid — the HNSW-coarse-quantizer recipe FAISS pairs
    * with IVF at billion scale) from the global entry for `rounds`
    * rounds, returning every visited (vec_id, cid, cos) with its
    * per-vector rank `crank` (cos DESC, cid — the flat assignment's
    * exact tie order). The point is the COST LAW the r14 factor-100
    * soak diagnosed: flat assignment evaluates all k centroids per
    * vector (n·k·d — the Θ(n^1.5·d) term of every flat-IVF build);
    * the routed walk costs n·rounds·beam·kCentGraph·d, INDEPENDENT of
    * k. With `beam ≥ nCentroids` and enough rounds the walk visits
    * every centroid reachable from the entry and the top-1 equals the
    * flat argmax exactly (spec-pinned parity).
    *
    * Scale plan: the centroid graph is codebook-sized (exact k² pair
    * scoring with the small side BROADCAST — the kmeans collect
    * contract; at k beyond broadcast, route the centroids through
    * their own √k-graph recursively — the documented escape hatch);
    * per round ONE broadcast edge expansion + one co-partitioned
    * vec_id join to re-attach vectors + a scalar top-beam window;
    * visited state is (vec_id, cid, cos) scalars, ≤ 1 +
    * rounds·beam·kCentGraph rows per vector, localCheckpointed per
    * round (the iterative convention).
    */
  /** The `(ccid, cv, cn)` centroid frame of a prepared corpus. */
  private def centroidFrame(e: DataFrame, nCentroids: Int): DataFrame =
    e.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("ccid"), col("v").as("cv"), col("norm").as("cn"))

  /** Exact kNN graph over the centroids (k² pairs, small side
    * broadcast — the codebook contract; at k beyond broadcast, route
    * the centroids through their own √k graph recursively).
    */
  private def centroidGraph(cents: DataFrame, kCentGraph: Int): DataFrame = {
    val cOther = cents.select(col("ccid").as("nbr"),
      col("cv").as("ov"), col("cn").as("on"))
    val ccos = r3(expr("graft_vec_dot(cv, ov)") / (col("cn") * col("on")))
    cents.join(broadcast(cOther), col("nbr") =!= col("ccid"))
      .select(col("ccid").as("src"), col("nbr"), ccos.as("ccos"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("ccos").desc, col("nbr"))))
      .where(col("crk") <= kCentGraph)
      .select(col("src"), col("nbr"))
  }

  private[graft] def routedCells(embeddings: DataFrame, nCentroids: Int,
                                 kCentGraph: Int, beam: Int, rounds: Int): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    require(kCentGraph >= 1,
      s"routedCells: need kCentGraph >= 1, got $kCentGraph")
    val e = prepared(embeddings).where(col("v").isNotNull)
    val cents = centroidFrame(e, nCentroids)
    val entryRow = cents.agg(min(col("ccid"))).head()
    require(!entryRow.isNullAt(0),
      s"routedCells: no vectors with vec_id < $nCentroids — the codebook is empty")
    val entry = entryRow.getLong(0)
    val cg = centroidGraph(cents, kCentGraph).localCheckpoint()
    routedCellsWith(e, cents, cg, entry, beam, rounds)
  }

  /** [[routedCells]] against PINNED routing state — the shared core of
    * the one-shot build and the stored-graph append (which reads
    * centroids/centroid-graph/entry from the store so a delta routes
    * under exactly the build's rule).
    */
  private def routedCellsWith(e: DataFrame, cents: DataFrame, cg: DataFrame,
                              entry: Long, beam: Int, rounds: Int): DataFrame = {
    require(beam >= 1 && rounds >= 1,
      s"routedCells: need beam/rounds >= 1, got $beam/$rounds")
    val cos = r3(expr("graft_vec_dot(v, cv)") / (col("norm") * col("cn")))
    // per-round state = the BEAM only, never the full visited set: the
    // beam is top-beam of everything visited so far BY INDUCTION (an
    // element dropped from a beam ranks below beam members forever),
    // so carrying beam ∪ expansion into each round's window yields the
    // identical final ranking at a fraction of the exchange volume —
    // consumers only read crank ≤ nprobe ≤ beam.
    //
    // r18 exchange discipline (the graphWalkScored restructure applied
    // to the routing loop): the expansion dedup and the e re-attach
    // share ONE hash(vec_id) exchange (the explicit repartition
    // satisfies both the dropDuplicates clustering — subset rule — and
    // the join's requirement on the expansion side); the merge's
    // repartition(vec_id) likewise feeds the dedup agg AND the beam
    // window; the LAST round stays lazy — every caller checkpoints the
    // crank-filtered assignment immediately, and the crank window
    // rides the final merge's hash(vec_id) partitioning exchange-free.
    val beam0 = e
      .crossJoin(broadcast(cents.where(col("ccid") === entry)))
      .select(col("vec_id"), col("ccid").as("cid"), cos.as("cos"))
      .localCheckpoint()
    Iterate.rounds(e.sparkSession, "routedCells", rounds, beam0,
        cutLast = false) { (_, beamScored) =>
      val scored = beamScored
        .join(broadcast(cg), col("cid") === col("src"))
        .select(col("vec_id"), col("nbr").as("cid"))
        .repartition(col("vec_id"))
        .dropDuplicates("vec_id", "cid")
        .join(e, "vec_id")
        .join(broadcast(cents), col("cid") === col("ccid"))
        .select(col("vec_id"), col("cid"), cos.as("cos"))
      beamScored.unionByName(scored)
        .repartition(col("vec_id"))
        .groupBy(col("vec_id"), col("cid")).agg(min(col("cos")).as("cos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))))
        .where(col("rk") <= beam).drop("rk")
    }.withColumn("crank", row_number().over(
      Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))))
  }

  /** [[knnGraph]] with GRAPH-ROUTED cell assignment — the fix for the
    * Θ(n^1.5·d) flat-assignment term the r14 factor-100 soak
    * diagnosed: cells come from [[routedCells]]' beam walk over the
    * centroid graph (n·rounds·beam·kCentGraph·d, independent of k)
    * instead of the all-centroids scan (n·k·d), then the SAME
    * probe-cell equi-join + per-vector top-k as [[knnGraph]] (left
    * explodes its top-`nprobe` ROUTED cells, right keeps its routed
    * top-1, so no pair doubles). With `beam ≥ nCentroids` and enough
    * rounds the output is EXACTLY [[knnGraph]]'s (spec-pinned); with
    * a tight budget the routing is approximate and the agreement gate
    * measures what that buys.
    */
  def knnGraphRouted(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                     kCentGraph: Int, beam: Int, rounds: Int,
                     nprobe: Int = 2): DataFrame = {
    // the walk carries only the top-beam rows per vector, so asking
    // for more probe cells than the beam would silently under-probe
    // (and break oracle parity, which ranks the full visited set) —
    // fail directed instead (ADVICE r14)
    require(nprobe <= beam,
      s"knnGraphRouted: nprobe=$nprobe must be <= beam=$beam — the " +
        "routed walk only carries the top-beam visited cells per vector")
    val asg = routedCells(embeddings, nCentroids, kCentGraph, beam, rounds)
      .localCheckpoint()
    val e = prepared(embeddings).where(col("v").isNotNull)
    val probed = asg.where(col("crank") <= nprobe)
      .select(col("vec_id"), col("cid").as("pcell"))
      .join(e, "vec_id")
    val other = asg.where(col("crank") === 1)
      .select(col("vec_id").as("nbr"), col("cid").as("cell_b"))
      .join(e.select(col("vec_id").as("nbr"), col("v").as("vb"),
        col("norm").as("nb")), "nbr")
    val cos = r3(expr("graft_vec_dot(v, vb)") / (col("norm") * col("nb")))
    probed.join(other,
        col("pcell") === col("cell_b") && col("nbr") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr"), cos.as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr")))
        .cast("long"))
      .where(col("rank") <= kGraph)
  }

  /** Routing-quality audit for [[knnGraphRouted]]: how often the
    * budget-bounded walk lands each vector in its TRUE nearest cell
    * (the flat argmax), plus the mean best-centroid cosine both ways
    * — the table an operator reads before trading the n·k·d flat
    * scan for the routed walk at a given (kCentGraph, beam, rounds)
    * budget. One row: n_vecs, n_agree, agree_frac, avg_routed_ccos,
    * avg_exact_ccos.
    */
  def routedAgreement(embeddings: DataFrame, nCentroids: Int,
                      kCentGraph: Int, beam: Int, rounds: Int): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val routed = routedCells(embeddings, nCentroids, kCentGraph, beam, rounds)
      .where(col("crank") === 1)
      .select(col("vec_id"), col("cid").as("rcell"), col("cos").as("rccos"))
    val enc = quantizer(embeddings, nCentroids)
    val e = prepared(embeddings).where(col("v").isNotNull)
    val cents = e.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("ccid"), col("v").as("cv"), col("norm").as("cn"))
    val exact = e
      .withColumn("cell", expr(s"graft_ivf_cell(v, '$enc')"))
      .join(broadcast(cents), col("cell") === col("ccid"))
      .select(col("vec_id"), col("cell"),
        r3(expr("graft_vec_dot(v, cv)") / (col("norm") * col("cn"))).as("ccos"))
    routed.join(exact, "vec_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("rcell") === col("cell"), 1L).otherwise(0L)).as("n_agree"),
        r3(sum(when(col("rcell") === col("cell"), 1.0).otherwise(0.0)) / count(lit(1))).as("agree_frac"),
        r3(avg(col("rccos"))).as("avg_routed_ccos"),
        r3(avg(col("ccos"))).as("avg_exact_ccos"))
  }

  /** Persist a [[knnGraphRouted]] build: `_nodes`/`_edges` in the
    * exact [[writeKnnGraph]] layout (so [[annGraphSearchStored]] and
    * every stored-walk consumer work unchanged), PLUS the routing
    * state a delta needs to append under the build's exact rule —
    * `_probes` (each node's top-nprobe ROUTED probe cells; the append
    * identity needs old nodes' probes and re-walking the whole store
    * per append would pay the build again), `_cgraph` (the centroid
    * graph), and `_meta` carrying the route budget, the entry node
    * and `routed = true` so the FLAT [[appendKnnGraph]] rejects this
    * store with a directed error instead of silently re-clustering
    * it under IvfCells assignment.
    */
  def writeKnnGraphRouted(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                          kCentGraph: Int, beam: Int, rounds: Int,
                          table: String, nBuckets: Int, nprobe: Int = 2): Unit = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    // stale-tombstone rule (see writeKnnGraph)
    spark.sql(s"DROP TABLE IF EXISTS ${table}_gtombstones")
    require(nprobe <= beam,
      s"writeKnnGraphRouted: nprobe=$nprobe must be <= beam=$beam — the " +
        "routed walk only carries the top-beam visited cells per vector")
    val e = prepared(embeddings).where(col("v").isNotNull)
    val cents = centroidFrame(e, nCentroids)
    val entryRow = cents.agg(min(col("ccid"))).head()
    require(!entryRow.isNullAt(0),
      s"writeKnnGraphRouted: no vectors with vec_id < $nCentroids — the codebook is empty")
    val entry = entryRow.getLong(0)
    val cg = centroidGraph(cents, kCentGraph).localCheckpoint()
    val asg = routedCellsWith(e, cents, cg, entry, beam, rounds)
      .where(col("crank") <= nprobe).localCheckpoint()
    val assigned = asg.where(col("crank") === 1)
      .select(col("vec_id"), col("cid").as("cell")).join(e, "vec_id")
    val probed = asg.select(col("vec_id"), col("cid").as("pcell")).join(e, "vec_id")
    // all six tables are independent once the checkpointed assignment
    // exists — overlap the writes (inParallel); the codebook rides its
    // OWN table (_cvecs): centroids are reference points, not members —
    // a takedown may remove a centroid's NODE row, and append/compact
    // must keep routing under the pinned codebook regardless
    import spark.implicits._
    Par.inParallel(
      () => graft.sources.Formats.writeBucketedKeys(
        assigned.select(col("vec_id"), col("cell"), col("v")),
        s"${table}_nodes", Seq("cell"), nBuckets),
      () => graft.sources.Formats.writeBucketedKeys(
        asg.select(col("vec_id"), col("cid").as("pcell")),
        s"${table}_probes", Seq("pcell"), nBuckets),
      () => graft.sources.Formats.writeBucketedKeys(
        knnEdgesProbed(probed, assigned, kGraph)
          .select(col("vec_id").as("src"), col("nbr"), col("cos")),
        s"${table}_edges", Seq("src"), nBuckets),
      () => cg.write.mode("overwrite").format("parquet").saveAsTable(s"${table}_cgraph"),
      () => cents.select(col("ccid"), col("cv"))
        .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_cvecs"),
      () => Seq((nCentroids, kGraph, nBuckets, nprobe, kCentGraph, beam, rounds, entry, true))
        .toDF("n_centroids", "k_graph", "n_buckets", "nprobe",
          "k_cent_graph", "beam_route", "rounds_route", "entry", "routed")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_meta"))
  }

  /** Append NEW vectors to a stored ROUTED graph WITHOUT a rebuild —
    * provably ≡ the one-shot [[writeKnnGraphRouted]] over old ∪ delta
    * because every routing input is PINNED in the store (centroids
    * read back from `_nodes`, centroid graph from `_cgraph`, entry
    * and budget from `_meta`), so the delta's walk lands exactly
    * where the one-shot build's would; old nodes' probe cells come
    * from `_probes` (never re-walked), and the edge merge is the
    * [[appendKnnGraph]] identity: top-k(stored top-k ∪ old-probe ×
    * delta-cell pairs) = top-k(all old ∪ new candidates). As there,
    * `_edges` swaps through [[Store.commit]] before `_nodes` and
    * `_probes` append.
    */
  def appendKnnGraphRouted(newVecs: DataFrame, table: String): Unit = {
    val spark = newVecs.sparkSession
    VectorExprs.register(spark)
    val meta = graphMeta(spark, table, "writeKnnGraphRouted")
    require(metaIntOr(meta, "k_cent_graph", -1) >= 0 && isRouted(meta),
      s"kNN graph '$table' is a FLAT store — append with appendKnnGraph " +
        "(routed append would re-route a flat-assigned graph)")
    val kGraph = meta.getAs[Int]("k_graph")
    val nBuckets = meta.getAs[Int]("n_buckets")
    val nprobe = meta.getAs[Int]("nprobe")
    val beam = meta.getAs[Int]("beam_route")
    val rounds = meta.getAs[Int]("rounds_route")
    require(nprobe <= beam,
      s"appendKnnGraphRouted: store '$table' pins nprobe=$nprobe > beam=$beam — " +
        "the walk cannot serve more probe cells than it carries; rebuild")
    val nCentroids = meta.getAs[Int]("n_centroids")
    val entry = meta.getAs[Long]("entry")
    val oldNodes = spark.table(s"${table}_nodes")
      .select(col("vec_id"), col("cell"), col("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
    val cents = spark.table(s"${table}_cvecs")
      .withColumn("cn", sqrt(expr("graft_vec_dot(cv, cv)")))
    val cg = spark.table(s"${table}_cgraph")
    val deltaE = prepared(newVecs).where(col("v").isNotNull)
    val asgD = routedCellsWith(deltaE, cents, cg, entry, beam, rounds)
      .where(col("crank") <= nprobe).localCheckpoint()
    val newAssigned = asgD.where(col("crank") === 1)
      .select(col("vec_id"), col("cid").as("cell")).join(deltaE, "vec_id")
    val newProbed = asgD.select(col("vec_id"), col("cid").as("pcell"))
      .join(deltaE, "vec_id")
    val oldProbed = spark.table(s"${table}_probes")
      .join(oldNodes.select(col("vec_id"), col("v"), col("norm")), "vec_id")
    appendEdges(spark, table, oldProbed, newProbed, oldNodes, newAssigned, kGraph, nBuckets)
    // the nodes/probes appends are independent of each other (and of
    // the finished edge swap) — overlap them; they stay AFTER the
    // staging write, which scans the PRE-append _nodes/_probes
    Par.inParallel(
      () => graft.sources.Formats.writeBucketedKeys(
        newAssigned.select(col("vec_id"), col("cell"), col("v")),
        s"${table}_nodes", Seq("cell"), nBuckets, mode = "append"),
      () => graft.sources.Formats.writeBucketedKeys(
        asgD.select(col("vec_id"), col("cid").as("pcell")),
        s"${table}_probes", Seq("pcell"), nBuckets, mode = "append"))
  }

  /** Tombstone takedown for a stored kNN graph (flat, routed, or a
    * HIER root — one filing masks every level) — lifecycle parity
    * with the band/gram/ANN indexes: the ids land in
    * `<table>_gtombstones` and every stored walk masks them
    * immediately (removed nodes vanish from seeds, frontiers, edges
    * and answers); a src whose stored top-k pointed at removed nodes
    * serves a SHORTER list until compaction ([[compactKnnGraph]] /
    * [[compactKnnGraphRouted]] / [[compactKnnGraphHier]]) re-ranks
    * its candidates among survivors (stored edge lists are
    * k-truncated — the dropped candidate that would back-fill is not
    * in the store, which is exactly what compaction recomputes). The
    * compaction's [[Store.commit]] drops the filing only once the new
    * generation is live.
    */
  def deleteFromKnnGraph(ids: DataFrame, table: String): Unit = {
    val spark = ids.sparkSession
    if (!spark.catalog.tableExists(s"${table}_hmeta"))
      graphGuard(spark, table, "meta", "writeKnnGraph or writeKnnGraphHier")
    Store.file(ids.select(col("vec_id")).distinct(), s"${table}_gtombstones")
  }

  /** The stored node/edge frames with the tombstone mask applied —
    * the ONLY way the loop-served stored reads (the round loop, the hier
    * and filtered walks, the exact and audit reads) see a graph store
    * (a consumer reading raw would serve taken-down vectors); the
    * in-task walk of [[annGraphSearchStored]] masks the collected
    * [[graphStore]] rows on the driver instead. A node is masked by its
    * id, an edge by either end ([[Store.mask]]). `extraTs` folds in
    * tombstones filed at a DIFFERENT table — the hier walk passes its
    * root `_gtombstones` so one filing masks every level (and a filing
    * made directly against a level table, e.g. `t_l0`, masks through
    * the level's own table — ADVICE r14).
    */
  private def maskedGraphStore(spark: SparkSession, table: String,
                               extraTs: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val (nodes, edges, ts) = graphStore(spark, table, extraTs)
    (Store.mask(nodes, ts, "vec_id"), Store.mask(edges, ts, "vec_id", "src", "nbr"))
  }

  /** A graph store's raw `_nodes` and `_edges` frames and its pending
    * tombstone ids (`_gtombstones` ∪ `extraTs`), if any.
    */
  private def graphStore(spark: SparkSession, table: String,
                         extraTs: Option[DataFrame] = None)
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    graphGuard(spark, table, "edges")
    (spark.table(s"${table}_nodes"), spark.table(s"${table}_edges"),
      (Store.pending(spark, s"${table}_gtombstones", "vec_id") ++ extraTs)
        .reduceOption(_ unionByName _))
  }

  /** A kNN-graph store's guard ([[Store.guard]]): `<table>_<suffix>`. */
  private def graphGuard(spark: SparkSession, table: String, suffix: String,
                         builder: String = "writeKnnGraph"): String =
    Store.guard(spark, table, suffix, "kNN graph", builder)

  /** A kNN-graph store's `_meta` row. */
  private def graphMeta(spark: SparkSession, table: String,
                        builder: String = "writeKnnGraph"): Row =
    Store.meta(spark, table, "meta", "kNN graph", builder)

  /** Whether a graph `_meta` (or hier `_hmeta`) row pins routing state. */
  private def isRouted(meta: Row): Boolean =
    meta.schema.fieldNames.contains("routed") && meta.getAs[Boolean]("routed")

  /** The edge merge of [[appendKnnGraph]] and [[appendKnnGraphRouted]]
    * — the incremental-maintenance identity. The stored lists, the old
    * nodes' pairs with the new nodes in their probe cells and the new
    * nodes' pairs with every node in theirs enter ONE top-`kGraph` rank
    * per src, unranked: a stored src keeps top-k(stored top-k ∪ its new
    * candidates), a new src gets the list the one-shot build would
    * give it. The result commits as the next `_edges` generation
    * ([[Store.commit]]). Probe rows are (vec_id, v, norm, pcell); node
    * rows (vec_id, cell, v, norm).
    */
  private def appendEdges(spark: SparkSession, table: String,
                          oldProbed: DataFrame, newProbed: DataFrame,
                          oldNodes: DataFrame, newNodes: DataFrame,
                          kGraph: Int, nBuckets: Int): Unit = {
    val node = Seq(col("vec_id"), col("cell"), col("v"), col("norm"))
    val pairs = knnPairs(oldProbed, newNodes).unionByName(knnPairs(newProbed,
      oldNodes.select(node: _*).unionByName(newNodes.select(node: _*))))
    val merged = spark.table(s"${table}_edges")
      .select(col("src"), col("nbr"), col("cos"))
      .unionByName(pairs.select(col("vec_id").as("src"), col("nbr"), col("cos")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))))
      .where(col("rank") <= kGraph)
      .select(col("src"), col("nbr"), col("cos"))
    graft.sources.Formats.writeBucketedKeys(
      merged, s"${table}_edges_appending", Seq("src"), nBuckets)
    Store.commit(spark, Seq(s"${table}_edges" -> s"${table}_edges_appending"))
  }

  /** Fold accumulated tombstones into a FLAT graph store: survivors
    * whose stored edges pointed at a removed node get their edge lists
    * RE-RANKED among survivors; an affected src's probe cells recompute
    * from the PINNED quantizer in `_meta` (`graft_ivf_cells`, exactly
    * the build's assignment rule), so the re-ranked candidate set IS
    * the one the survivor one-shot [[writeKnnGraph]] would score.
    * Unaffected srcs' stored lists are provably unchanged (removing a
    * non-top-k candidate can never promote one). `_edges` and `_nodes`
    * are written as staged tables and swapped in by [[Store.commit]];
    * a failed commit leaves the previous generation live with its
    * tombstones pending. Result ≡ the one-shot build over the survivors
    * whenever the removal spares the codebook ids (the quantizer is
    * pinned — a rebuild would otherwise seed different centroids; the
    * spec pins the spared-codebook identity).
    */
  def compactKnnGraph(table: String): Unit = compactGraph(table, routed = false)

  /** [[compactKnnGraph]] for a ROUTED graph store: an affected src's
    * probe cells come from its `_probes` rows (the exact candidate set
    * the one-shot [[writeKnnGraphRouted]] would score), and `_probes`
    * drops the removed rows in the same [[Store.commit]]. The codebook
    * is PINNED in `_cvecs` — removing a centroid's node row keeps
    * routing identical, but a one-shot REBUILD would then seed
    * different centroids; the spec pins the spared-codebook identity.
    */
  def compactKnnGraphRouted(table: String): Unit = compactGraph(table, routed = true)

  private def compactGraph(table: String, routed: Boolean): Unit = {
    val spark = SparkSession.active
    VectorExprs.register(spark)
    val meta = graphMeta(spark, table, if (routed) "writeKnnGraphRouted" else "writeKnnGraph")
    require(isRouted(meta) == routed,
      if (routed) s"kNN graph '$table' is a FLAT store — compactKnnGraphRouted needs the " +
        "_probes table"
      else s"kNN graph '$table' is a ROUTED store — compact with compactKnnGraphRouted")
    val tsT = s"${table}_gtombstones"
    if (!spark.catalog.tableExists(tsT)) return
    val kGraph = meta.getAs[Int]("k_graph")
    val nBuckets = meta.getAs[Int]("n_buckets")
    val tsIds = spark.table(tsT).select(col("vec_id")).localCheckpoint()
    val ts = Some(tsIds)
    val nodes = Store.mask(spark.table(s"${table}_nodes"), ts, "vec_id")
      .select(col("vec_id"), col("cell"), col("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
      .localCheckpoint()
    val probes = if (!routed) None
      else Some(Store.mask(spark.table(s"${table}_probes"), ts, "vec_id").localCheckpoint())
    // affected = surviving srcs with >= 1 stored edge into the removed
    // set: only THEIR candidate rankings could change
    val edges = Store.mask(spark.table(s"${table}_edges"), ts, "vec_id", "src")
    val affected = edges.join(broadcast(tsIds), col("nbr") === col("vec_id"), "left_semi")
      .select(col("src")).distinct()
    val affectedIds = affected.select(col("src").as("vec_id"))
    val probed = probes match {
      case Some(p) => p.join(affectedIds, "vec_id").select(col("vec_id"), col("pcell"))
        .join(nodes.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      case None => ivfProbed(nodes.join(affectedIds, "vec_id"),
        meta.getAs[String]("enc"), metaIntOr(meta, "nprobe", 1))
    }
    val rebuilt = knnEdgesProbed(probed, nodes, kGraph)
      .select(col("vec_id").as("src"), col("nbr"), col("cos"))
    val kept = Store.mask(edges, ts, "vec_id", "nbr")
      .join(affected, Seq("src"), "left_anti")
      .select(col("src"), col("nbr"), col("cos"))
    def staged(t: String) = s"${table}_${t}_compacting"
    def write(df: DataFrame, t: String, key: String) = () =>
      graft.sources.Formats.writeBucketedKeys(df, staged(t), Seq(key), nBuckets)
    Par.inParallel(Seq(write(kept.unionByName(rebuilt), "edges", "src"),
      write(nodes.select(col("vec_id"), col("cell"), col("v")), "nodes", "cell")) ++
      probes.map(write(_, "probes", "pcell")): _*)
    Store.commit(spark, (Seq("edges", "nodes") ++ probes.map(_ => "probes"))
      .map(t => s"${table}_$t" -> staged(t)), tsT)
  }

  /** Graph-expansion beam search over the [[knnGraph]] (the NSW/HNSW
    * serving primitive, Malkov & Yashunin 2016, flattened to one
    * layer and made deterministic): each query starts at ITSELF,
    * `rounds` rounds of expand-neighbours → score → keep the
    * top-`beam` by rounded cosine (ties to the lowest vid), answer =
    * top-k of everything VISITED, self excluded. Round 1 returns the
    * query's own graph edges (which already span the query's nprobe
    * nearest cells — [[knnGraph]]'s cross-cell build); later rounds
    * walk neighbours-of-neighbours, compounding the reach: a
    * neighbour's own nprobe cells may include cells the QUERY's
    * coarse assignment never probes, so the visited set grows past
    * any fixed-nprobe IVF candidate set — the long-range-link
    * property the graph tier exists for.
    *
    * Scale plan: the graph build is [[knnGraph]]'s one probe-cell
    * equi-join (Σcell·nprobe, linear under √n centroids), checkpointed.
    * The walk takes one of [[graphWalkScored]]'s two paths, byte-equal
    * to each other. While the node frame plus the adjacency fits under
    * `spark.sql.autoBroadcastJoinThreshold` (the optimized plans'
    * estimated sizes), the graph is collected once, broadcast, and
    * every query's whole walk runs inside one task. Above that budget
    * (or with an unknown size) the walk is the round loop: per round
    * the frontier is nQueries·beam rows, its expansion ≤ ×kGraph, and
    * scoring BROADCASTS the candidates onto one corpus scan — rounds ×
    * scans, never rounds × shuffles. The checkpointed build keeps the
    * estimate of the plan that produced it, a self-join whose estimate
    * is the product of its sides, so this recompute walk takes the
    * loop in practice; the stored walks, sized from their files, take
    * the in-task path.
    */
  def annGraphSearch(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                     nQueries: Int, beam: Int, rounds: Int, k: Int,
                     nprobe: Int = 2): DataFrame = {
    val graph = knnGraphEdges(embeddings, nCentroids, kGraph, nprobe)
    graphWalk(prepared(embeddings.where(col("embedding").isNotNull)),
      graph, nQueries, beam, rounds, k)
  }

  /** The walk core shared by the recompute and STORED paths: expand /
    * score / top-beam for `rounds`, answer = top-k of visited.
    * `e` is the prepared (vec_id, v, norm) vector frame — the build
    * input for the recompute path, the `<table>_nodes` store for the
    * stored path (so a walk after [[appendKnnGraph]] scores appended
    * nodes even when the caller's frame predates the append) — and
    * `tombs` the store's pending tombstone ids: a tombstoned node
    * leaves the seeds, the frontiers and the answers.
    *
    * Scale plan — [[graphWalkScored]]'s two paths, chosen the same way
    * with the tombstone scan's estimated size added to the budget test:
    *   - **In-task** ([[BroadcastWalk.ofQueries]]): ONE collect query,
    *     a union of the node, edge and tombstone scans with no join,
    *     masked on the driver; the seeds are the surviving node rows
    *     below `nQueries`, and the whole walk runs in the consumer's
    *     job — two jobs with the consumer's, whatever `rounds` is and
    *     whether tombstones are pending or not.
    *   - **Round loop** above the budget, over the anti-join-masked
    *     frames ([[Store.mask]]).
    */
  private def graphWalk(e: DataFrame, graph: DataFrame,
                        nQueries: Int, beam: Int, rounds: Int, k: Int,
                        tombs: Option[DataFrame] = None): DataFrame = {
    checkWalk("annGraphSearch", beam, rounds, k)
    def seeds(e: DataFrame) = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"),
        col("vec_id").as("vid"))
    val walked =
      if (BroadcastWalk.fits(e, graph, tombs))
        BroadcastWalk.ofQueries(e, graph, tombs, nQueries, walkCos, beam, rounds, k)
      else {
        val (me, mg) = (Store.mask(e, tombs, "vec_id"),
          Store.mask(graph, tombs, "vec_id", "src", "nbr"))
        walkRounds(me, mg, seeds(me), beam, rounds, k)
      }
    walked.select(col("qid"), col("vid"), col("cos"), col("rank"))
  }

  /** The walk core over QUERY-CARRYING seeds `(qid, qv, qn, vid)`:
    * `rounds` rounds of expand / score / keep the top-`beam` visited,
    * answer = top-k of visited with the query itself excluded. Returns
    * (qid, qv, qn, vid, cos, rank) with rank ≤ k — qv/qn retained so
    * a chained walk (hier navigation) seeds the next level without
    * re-joining the query frame.
    *
    * Scale plan — two paths with byte-equal output, chosen from the
    * optimized plans' estimated sizes (no job runs to decide):
    *   - **In-task** while `e` plus `adj` fits under
    *     `spark.sql.autoBroadcastJoinThreshold`: the graph is collected
    *     in one query, broadcast, and each query's whole walk runs in
    *     one `mapPartitions` pass over the seeds grouped by qid
    *     ([[BroadcastWalk]], the Odyssey shape: the index on every
    *     worker, the queries split among them). Jobs no longer grow
    *     with `rounds`: the collect, the seeds' exchange and the
    *     consumer's job. (A walk seeded by its own queries, not by a
    *     frame, is [[graphWalk]], which drops the exchange too.)
    *   - **Round loop** above the budget, or when a size is unknown
    *     ([[walkRounds]]): the only path that serves a graph too big
    *     to broadcast.
    * Both score with the one `walkCos` expression (the same
    * `graft_vec_dot`, `Divide` and r3), dedup each (qid, vid) with
    * max(qv)/max(qn)/min(cos) and rank by (cos desc, vid asc) under
    * Spark's orderings, so the path can never change an answer.
    */
  private def graphWalkScored(e: DataFrame, adj: DataFrame,
                              seeds: DataFrame, beam: Int,
                              rounds: Int, k: Int): DataFrame = {
    checkWalk("annGraphSearch", beam, rounds, k)
    if (BroadcastWalk.fits(e, adj, seeds))
      BroadcastWalk(e, adj, seeds, walkCos, beam, rounds, k)
    else walkRounds(e, adj, seeds, beam, rounds, k)
  }

  /** The walk arguments every walk requires, checked before a path is
    * picked (the in-task path would otherwise walk `rounds = 0` as one
    * round where the loop refuses it); `caller` names the walk in the
    * message.
    */
  private def checkWalk(caller: String, beam: Int, rounds: Int, k: Int): Unit = {
    require(k <= beam, s"$caller: k=$k must be <= beam=$beam")
    require(rounds >= 1, s"$caller: rounds must be >= 1, got $rounds")
  }

  /** The r3-rounded cosine of a candidate (v, norm) against a query
    * (qv, `qNorm`) — the one pair score of every exact, rerank and walk
    * tier.
    */
  private def pairCos(qNorm: String = "qnorm"): Column =
    r3(expr("graft_vec_dot(v, qv)") / (col("norm") * col(qNorm)))

  /** A walk's pair score: [[pairCos]] with the walk's query norm `qn`
    * — the one expression both walk paths evaluate.
    */
  private def walkCos: Column = pairCos("qn")

  /** [[graphWalkScored]]'s round loop — the r18 job-count restructure
    * of the per-round dataflow. Three structural changes vs the r17
    * shape, all result-identical (cos is a pure function of (qid, vid):
    * same vectors, same `graft_vec_dot` operation order, same r3
    * rounding — so WHEN a pair is scored can never change WHAT it
    * scores):
    *
    *   - **Score on FIRST VISIT, not per round.** `visited` carries
    *     (qid, qv, qn, vid, cos); each round scores only the new
    *     expansion instead of re-scoring the whole visited set, so the
    *     per-round e-join shrinks to expansion size and the per-round
    *     broadcast(q) job disappears (qv/qn ride the candidate-sized
    *     frame — ~0.5 KB/row on a budget-bounded frame, volume for
    *     latency per guide §2.4).
    *   - **ONE exchange per round.** The dedup and the beam window
    *     shared two exchanges (hash(qid,vid) distinct + hash(qid)
    *     window); an explicit repartition(qid) satisfies BOTH the
    *     groupBy(qid,vid) clustering (subset rule) and the window
    *     partitioning, so each round is: hop join (broadcast) → score
    *     join (broadcast) → one hash(qid) exchange → dedup agg → rk
    *     window → checkpoint (job description `graphWalk:round<r>`).
    *   - **The LAST round is lazy.** Its merge + the answer window run
    *     in the consumer's own job (the next level's first checkpoint,
    *     or the sink) — one fewer scheduler barrier per walk; rounds
    *     1..rounds−1 still checkpoint eagerly (the r17 lesson: fully
    *     lazy re-executes tail stages under AQE).
    *
    * Dedup keeps min(cos)/max(qv)/max(qn) — duplicates of a (qid, vid)
    * pair carry IDENTICAL values (pure functions of the pair), so the
    * agg choice is determinism bookkeeping, not semantics.
    */
  private def walkRounds(e: DataFrame, adj: DataFrame,
                         seeds: DataFrame, beam: Int,
                         rounds: Int, k: Int): DataFrame = {
    // every frontier/expansion frame is WALK-BUDGET-bounded at any
    // corpus scale (the serving-path contract) — broadcast it
    // EXPLICITLY so the corpus-sized node/edge scans are never
    // shuffled, statically, not at AQE's discretion (PlanCensusSpec
    // pins the serve-tail shape with AQE off)
    def scoreNew(cand: DataFrame) = broadcast(cand)
      .join(e, cand("vid") === e("vec_id"))
      .select(cand("qid"), cand("qv"), cand("qn"), cand("vid"), walkCos.as("cos"))
    val carry = Seq(col("qid"), col("qv"), col("qn"), col("vid"))
    def rk(df: DataFrame) = df.withColumn("rk", row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))))
    // visited = (qid, qv, qn, vid, cos[, rk]); the seeds stand in for it
    // before round 1
    val visited = Iterate.rounds(e.sparkSession, "graphWalk", rounds, seeds,
        cutLast = false, between = rk) { (r, visited) =>
      // round 1 expands ALL seeds (the r17 contract: the first frontier
      // is the seed set, unfiltered); later rounds expand the top-beam
      val frontier = if (r == 1) visited
        else visited.where(col("rk") <= beam).select(carry: _*)
      val expand = broadcast(frontier).join(adj, frontier("vid") === adj("src"))
        .select(frontier("qid"), frontier("qv"), frontier("qn"),
          adj("nbr").as("vid"))
      // round 1 scores seeds ∪ expansion in ONE e-join; later rounds
      // score only the expansion and union the already-scored visited
      val fresh = if (r == 1) scoreNew(frontier.unionByName(expand))
        else visited.select(carry :+ col("cos"): _*)
          .unionByName(scoreNew(expand))
      fresh
        .repartition(col("qid"))
        .groupBy(col("qid"), col("vid"))
        .agg(max(col("qv")).as("qv"), max(col("qn")).as("qn"),
          min(col("cos")).as("cos"))
    }
    visited
      .where(col("vid") =!= col("qid"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid")))
        .cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("qv"), col("qn"), col("vid"), col("cos"), col("rank"))
  }

  /** FILTERED graph-walk search — [[cosineTopKFiltered]]'s metadata
    * predicate (`label = qid % nLabels`, standing in for the
    * language/source/license filters of a production vector store)
    * served from the GRAPH tier, closing the filtered family across
    * tiers (exact 48, IVF `ann_filtered`, and now the walk). Two
    * filtered-ANN failure modes are designed out: (a) PRE-filtering
    * the graph fragments it into per-label islands and strands every
    * query whose seed neighbourhood is label-sparse (the
    * filtered-HNSW connectivity trap; cf. ACORN, Patel et al. 2024 —
    * keep reachability through non-matching nodes), so the walk runs
    * over the FULL graph; (b) pure POST-filtering converges to the
    * query's any-label neighbourhood and never explores the matching
    * region, so each round's frontier is the MIXED beam — top-beam by
    * unfiltered cosine ∪ top-beam among predicate matches (the
    * predicate-passing candidate retention of production filtered
    * search). Answer = exact top-k of visited ∩ predicate; the recall
    * knob is the walk budget, audited by
    * [[annGraphSearchFilteredRecall]] against the exact filtered
    * top-k.
    *
    * Scale shape: the plain walk's dataflow with the label riding the
    * node frame (metadata on the same vector-store scan — the
    * matching beam is a predicate + one more window on the
    * frontier-sized scored frame, never a per-round join or a second
    * corpus scan).
    */
  def annGraphSearchFiltered(embeddings: DataFrame, nCentroids: Int,
                             kGraph: Int, nQueries: Int, beam: Int,
                             rounds: Int, k: Int, nLabels: Int,
                             nprobe: Int = 2): DataFrame = {
    require(nLabels >= 1, s"annGraphSearchFiltered: need nLabels >= 1, got $nLabels")
    VectorExprs.register(embeddings.sparkSession)
    val graph = knnGraphEdges(embeddings, nCentroids, kGraph, nprobe)
    // MIXED frontier per round: the navigation beam (top-beam by
    // unfiltered cosine — reachability through non-matching nodes)
    // UNION the matching beam (top-beam among predicate matches) —
    // a purely navigational frontier converges to the query's
    // any-label neighbourhood and stops exploring the matching
    // region (measured on the gate corpus: recall stuck at 0.1-0.4
    // however large the beam), while expanding the best matching
    // candidates chases the matching cluster the way filtered-HNSW
    // implementations retain predicate-passing candidates. With a
    // predicate every node passes, the two beams coincide and this
    // IS the plain walk. The walk body is [[filteredWalkFrom]] — ONE
    // implementation (bridge expansion included) shared with the
    // stored and hierarchical tiers, so the byte-parity contracts
    // hold by construction.
    val eL = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
    val nodes = eL.select(col("vec_id"), col("v"), col("norm"))
    val labels = eL.select(col("vec_id").as("vid"), col("label"))
    val q = eL.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    filteredWalkScored("annGraphSearchFiltered", nodes, labels, graph,
      q.select(col("qid"), col("qv"), col("qn"), col("qid").as("vid")),
      beam, rounds, k, nLabels)
  }

  /** Persist node LABELS beside a stored kNN graph — the metadata
    * sidecar the FILTERED stored walk serves from (`<table>_nlabels`,
    * bucketed by vec_id with the store's own bucket count): a
    * production vector store answers label-filtered queries from its
    * OWN metadata, never by re-reading the corpus. Separate from
    * `_nodes` so the unlabeled store layout (and every byte-parity
    * contract over it) is untouched; the walk looks labels up on the
    * CANDIDATE-sized scored frame, so the sidecar is never joined at
    * corpus volume.
    */
  def writeGraphNodeLabels(embeddings: DataFrame, table: String): Unit = {
    val spark = embeddings.sparkSession
    val nBuckets = graphMeta(spark, table).getAs[Int]("n_buckets")
    graft.sources.Formats.writeBucketedKeys(
      embeddings.where(col("embedding").isNotNull)
        .select(col("vec_id"), col("label")),
      s"${table}_nlabels", Seq("vec_id"), nBuckets)
  }

  /** Append labels for NEW vectors to the metadata sidecar — the
    * label half of [[appendKnnGraph]]: every vector append MUST be
    * followed by its label append, or the new nodes silently vanish
    * from filtered answers (the walk's label join is inner — an
    * unlabeled candidate never scores). Overlap is a DIRECTED error,
    * and load-bearing: a doubled label row would DUPLICATE its
    * vector's scored candidate rows and corrupt every rank below it.
    */
  def appendGraphNodeLabels(newVecs: DataFrame, table: String): Unit = {
    val spark = newVecs.sparkSession
    Store.guard(spark, table, "nlabels", "graph store", "writeGraphNodeLabels")
    val nBuckets = spark.table(s"${table}_meta").head().getAs[Int]("n_buckets")
    val fresh = newVecs.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"))
    val overlap = fresh.select(col("vec_id"))
      .join(spark.table(s"${table}_nlabels"), Seq("vec_id"), "left_semi")
      .limit(5).collect().map(_.getLong(0))
    require(overlap.isEmpty,
      s"appendGraphNodeLabels: vec ids already labeled in '$table' " +
        s"(e.g. ${overlap.mkString(", ")}) — a doubled label row duplicates " +
        "its scored candidate rows and corrupts ranks; append only NEW vectors")
    graft.sources.Formats.writeBucketedKeys(
      fresh, s"${table}_nlabels", Seq("vec_id"), nBuckets, mode = "append")
  }

  /** The FILTERED walk served from the STORED graph —
    * [[annGraphSearchFiltered]]'s mixed navigation ∪ matching beam
    * over [[writeKnnGraph]]'s persisted adjacency, byte-equal to the
    * recompute at the same budget (spec-pinned), with labels from the
    * [[writeGraphNodeLabels]] sidecar and the TOMBSTONE MASK applied
    * ([[maskedGraphStore]] — a taken-down vector vanishes from seeds,
    * frontiers, and filtered answers the moment its tombstone lands;
    * lifecycle parity with the plain stored walk).
    *
    * Scale shape: the stored walk's dataflow; the label join rides the
    * CANDIDATE-sized scored frame each round (visited is
    * budget-bounded — AQE broadcasts it against the bucketed
    * `_nlabels` scan), never a corpus-volume label join. Tombstoned
    * rows left in the sidecar are unreachable (the node mask removes
    * them before any label is read).
    *
    * Sidecar coverage contract: every [[appendKnnGraph]] MUST be
    * paired with [[appendGraphNodeLabels]] — the label join is inner,
    * so an unlabeled node never scores and silently vanishes from
    * filtered answers (the `ann_graph_filtered_inc` gate pins the
    * paired-append flow against the one-shot oracle).
    */
  def annGraphSearchFilteredStored(spark: org.apache.spark.sql.SparkSession,
                                   table: String, nQueries: Int, beam: Int,
                                   rounds: Int, k: Int,
                                   nLabels: Int): DataFrame = {
    VectorExprs.register(spark)
    graphGuard(spark, table, "edges")
    Store.guard(spark, table, "nlabels", "graph store", "writeGraphNodeLabels")
    require(nLabels >= 1, s"annGraphSearchFilteredStored: need nLabels >= 1, got $nLabels")
    val (mNodes, mEdges) = maskedGraphStore(spark, table)
    val labels = spark.table(s"${table}_nlabels")
      .select(col("vec_id").as("vid"), col("label"))
    val nodes = mNodes.select(col("vec_id"), col("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
    val q = nodes.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    filteredWalkScored("annGraphSearchFilteredStored", nodes, labels, mEdges.select(col("src"), col("nbr")),
      q.select(col("qid"), col("qv"), col("qn"), col("qid").as("vid")),
      beam, rounds, k, nLabels)
  }

  /** The mixed-beam filtered walk over QUERY-CARRYING seeds
    * (qid, qv, qn, vid) — [[graphWalkScored]]'s r18 restructure
    * (score-on-first-visit, one exchange per round, lazy last round)
    * applied to the filtered body; `label` rides the visited frame
    * like `cos` (both pure functions of the row's ids, so carrying
    * them is bookkeeping, not semantics). Per round: hop-1 join,
    * label join for the bridge verdict, bridge hop-2 join, ONE score
    * join over hop1 ∪ hop2, one hash(qid) exchange feeding the dedup
    * agg and BOTH frontier windows (rk rides hash(qid); rkm's
    * (qid, match) clustering is satisfied by the same partitioning).
    * `caller` names the walk in [[checkWalk]]'s message.
    */
  private def filteredWalkScored(caller: String, nodes: DataFrame, labels: DataFrame,
                                 graph: DataFrame, seeds: DataFrame,
                                 beam: Int, rounds: Int,
                                 k: Int, nLabels: Int): DataFrame = {
    checkWalk(caller, beam, rounds, k)
    val isMatch = col("label") === pmod(col("qid"), lit(nLabels.toLong)).cast("int")
    // candidate-sized sides broadcast EXPLICITLY (see walkRounds:
    // the corpus-sized node/label scans must never shuffle, statically)
    def scoreNew(cand: DataFrame) = broadcast(broadcast(cand)
      .join(nodes, cand("vid") === nodes("vec_id"))
      .select(cand("qid"), cand("qv"), cand("qn"), cand("vid"),
        walkCos.as("cos")))
      .join(labels, Seq("vid"))
    // walk the adjacency UNDIRECTED: the stored kNN graph keeps each
    // node's top-k OUT-edges, and a node can sit in many top-k lists
    // while emitting none that point back — measured on the gate
    // corpus, 14/500 nodes are directed-unreachable from every seed,
    // which caps filtered recall no matter the budget (an exact
    // filtered answer among them is simply lost). HNSW edges are
    // bidirectional by construction; the filtered walk reads the
    // reverse direction at serve time (UNION of the flipped edge
    // frame — no store change, no dedup: duplicate a↔b rows collapse
    // in the per-round visited dedup)
    val sym = graph.unionByName(
      graph.select(col("nbr").as("src"), col("src").as("nbr")))
    val carry = Seq(col("qid"), col("qv"), col("qn"), col("vid"))
    def windows(df: DataFrame) = df
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))))
      .withColumn("rkm", row_number().over(
        Window.partitionBy(col("qid"), isMatch).orderBy(col("cos").desc, col("vid"))))
    // visited = (qid, qv, qn, vid, cos, label[, rk, rkm]); the seeds
    // stand in for it before round 1
    val visited = Iterate.rounds(nodes.sparkSession, "filteredWalk", rounds, seeds,
        cutLast = false, between = windows) { (r, visited) =>
      // the mixed navigation ∪ matching frontier: rank overall and
      // rank within the (qid, match) group, keep `rk ≤ beam OR (match
      // AND rkm ≤ beam)` — the same set as union(topBeam(all),
      // topBeam(matches)); round 1 expands ALL seeds
      val frontier = if (r == 1) visited
        else visited.where(col("rk") <= beam || (isMatch && col("rkm") <= beam))
          .select(carry: _*)
      val hop1 = broadcast(frontier).join(sym, frontier("vid") === sym("src"))
        .select(frontier("qid"), frontier("qv"), frontier("qn"),
          sym("nbr").as("vid"))
      // ACORN-style BRIDGE expansion (Patel et al. 2024): a hop-1
      // candidate that FAILS the predicate still conducts the walk —
      // expand it one extra hop, so a filtered-out shell around the
      // matching region routes THROUGH instead of damming the beam
      // (without this the walk's hop ball reaches the matching
      // cluster only at 1/selectivity-inflated budgets — recall
      // ceilinged at 0.6-0.7 on the low-selectivity fixture; with it
      // the same budgets clear 0.9). Cost: one extra edge join per
      // round on the (frontier × degree)-sized non-matching slice —
      // candidate volume × degree, never corpus volume.
      val bridge = broadcast(hop1).join(labels, Seq("vid")).where(!isMatch)
        .select(carry: _*)
      // re-key the adjacency for the second hop — hop1 already carries
      // this frame's lineage, so a raw re-join would be an ambiguous
      // self-join
      val g2 = sym.select(col("src").as("bsrc"), col("nbr").as("bnbr"))
      val hop2 = broadcast(bridge).join(g2, bridge("vid") === g2("bsrc"))
        .select(bridge("qid"), bridge("qv"), bridge("qn"),
          col("bnbr").as("vid"))
      // ONE score+label join over seeds(round 1) ∪ hop1 ∪ hop2; the
      // bridge's hop-1 label probe reuses the same labels broadcast
      val cand = if (r == 1) frontier.unionByName(hop1).unionByName(hop2)
        else hop1.unionByName(hop2)
      val fresh = if (r == 1) scoreNew(cand)
        else visited.select(carry ++ Seq(col("cos"), col("label")): _*)
          .unionByName(scoreNew(cand))
      fresh
        .repartition(col("qid"))
        .groupBy(col("qid"), col("vid"))
        .agg(max(col("qv")).as("qv"), max(col("qn")).as("qn"),
          min(col("cos")).as("cos"), max(col("label")).as("label"))
    }
    visited.where(isMatch)
      .where(col("vid") =!= col("qid"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid")))
        .cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("vid"), col("cos"), col("rank"))
  }

  /** REACHABILITY audit of the kNN graph — the data-quality check
    * that found the filtered-serving bug this operator suite shipped
    * with: a top-k out-edge graph can leave nodes with in-edges only,
    * DIRECTED-unreachable from every entry point (measured: 14/500 on
    * the gate corpus), and any such node holding an exact answer is
    * silently lost at every walk budget. Reports, from the minimum
    * vec_id (the hier-entry convention), the directed and undirected
    * closure sizes — a store owner reads `n_reach_directed < n_nodes`
    * as "serve this graph undirected or re-link it".
    *
    * Scale shape: breadth-first closure, one frontier-edge join +
    * distinct per round until fixpoint (diameter-bounded — small-world
    * kNN graphs sit in the teens), every frame node-ID-sized (vid
    * only, never vectors); the per-round `count()` is the iterative-
    * convergence contract (the k-means/pagerank loop class). The
    * oracle is the same closure as ONE recursive CTE.
    */
  def annGraphReachability(embeddings: DataFrame, nCentroids: Int,
                           kGraph: Int, nprobe: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    val g = knnGraphEdges(embeddings, nCentroids, kGraph, nprobe)
    val nodes = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"))
    reachabilityReport(spark, nodes, g)
  }

  /** [[annGraphReachability]] against a STORED graph's `_edges` — the
    * audit a store owner runs on the artifact they actually serve
    * (the recompute variant audits what a fresh build WOULD look
    * like; after appends/takedowns the two diverge, and serving
    * decisions must read the store). Tombstone-masked like every
    * stored read ([[maskedGraphStore]]): a taken-down node is neither
    * a seed nor countable closure mass.
    */
  def annGraphReachabilityStored(spark: org.apache.spark.sql.SparkSession,
                                 table: String): DataFrame = {
    VectorExprs.register(spark)
    val (mNodes, mEdges) = maskedGraphStore(spark, table)
    reachabilityReport(spark, mNodes.select(col("vec_id")),
      mEdges.select(col("src"), col("nbr")))
  }

  /** The shared closure core: BFS fixpoint from the min node id, once
    * directed and once undirected, report sizes and fractions. Every
    * frame is vid-only; the per-round count() is the iterative-
    * convergence contract (k-means/pagerank class); audit cadence.
    */
  private def reachabilityReport(spark: org.apache.spark.sql.SparkSession,
                                 nodes: DataFrame, g: DataFrame): DataFrame = {
    val nNodes = nodes.count()
    require(nNodes > 0, "reachability: the graph has no surviving nodes")
    val seed = nodes.agg(min(col("vec_id"))).head().getLong(0)
    import spark.implicits._
    // TWO hops per round: same fixpoint (closure), same convergence
    // test (no growth after a 2-hop round ⇒ closed under 1 hop), half
    // the driver round-trips — the audit is latency-bound,
    // diameter-many rounds of tiny frames. The closure only grows and
    // is bounded by nNodes, so it needs no round bound.
    def closure(edges: DataFrame): Long =
      Iterate.fixpoint(spark, "reachability", Iterate.lazyCut(Seq(seed).toDF("vid")), 1L)(
          _.count(), (n, n2) => n2 <= n) { visited =>
        val hop1 = visited.join(edges, visited("vid") === edges("src"))
          .select(edges("nbr").as("vid"))
        val g2 = edges.select(col("src").as("s2"), col("nbr").as("n2"))
        val hop2 = hop1.join(g2, hop1("vid") === g2("s2"))
          .select(col("n2").as("vid"))
        visited.unionByName(hop1).unionByName(hop2).distinct()
      }._2
    // the two closures are INDEPENDENT job chains over the same cached
    // edge frame — overlap them (guide §2.6: concurrent jobs back-fill
    // the tail; each chain is latency-bound on tiny frames, so the
    // overlap nearly halves the audit's wall)
    val Seq(nDir, nUndir) = Par.inParallelAll(Seq(
      () => closure(g),
      () => closure(g.unionByName(g.select(col("nbr").as("src"), col("src").as("nbr"))))))
    Seq((nNodes, nDir, nUndir)).toDF(
        "n_nodes", "n_reach_directed", "n_reach_undirected")
      .select(col("n_nodes"), col("n_reach_directed"), col("n_reach_undirected"),
        r3(col("n_reach_directed").cast("double") / col("n_nodes"))
          .as("frac_directed"),
        r3(col("n_reach_undirected").cast("double") / col("n_nodes"))
          .as("frac_undirected"))
  }

  /** Recall@k of the filtered walk vs the exact filtered top-k — the
    * oversearch audit: with the answer filtered AFTER the walk, a
    * label-sparse neighbourhood needs a bigger beam/rounds budget to
    * surface k matching candidates, and this table is where that
    * trade is read.
    */
  def annGraphSearchFilteredRecall(embeddings: DataFrame, nCentroids: Int,
                                   kGraph: Int, nQueries: Int, beam: Int,
                                   rounds: Int, k: Int, nLabels: Int,
                                   nprobe: Int = 2): DataFrame =
    walkRecall(cosineTopKFiltered(embeddings, nQueries, k, nLabels),
      Nil -> (() => annGraphSearchFiltered(embeddings, nCentroids, kGraph,
        nQueries, beam, rounds, k, nLabels, nprobe)))

  /** The FILTERED-walk tuning table ([[annGraphSweep]]'s discipline
    * pointed at the filtered tier): recall@k at each (beam, rounds)
    * budget in ONE frame — the 1/selectivity oversearch law made
    * readable before serving: ROUNDS is the lever (the hop ball
    * binds: matching candidates at 1/nLabels selectivity live several
    * hops past the unfiltered top-k), beam second. The exact filtered
    * top-k computes once (checkpointed); the kNN graph builds once
    * (the edge memo); every branch is the standalone filtered walk
    * verbatim unioned with its budget literals.
    */
  def annGraphFilteredSweep(embeddings: DataFrame, nCentroids: Int,
                            kGraph: Int, nQueries: Int, k: Int, nLabels: Int,
                            params: Seq[(Int, Int)],
                            nprobe: Int = 2): DataFrame = {
    require(params.nonEmpty, "annGraphFilteredSweep: need at least one (beam, rounds)")
    // independent per-budget walks over the shared graph memo
    walkRecall(cosineTopKFiltered(embeddings, nQueries, k, nLabels),
      params.map { case (beam, rounds) => budget(beam, rounds) -> (() =>
        annGraphSearchFiltered(embeddings, nCentroids, kGraph,
          nQueries, beam, rounds, k, nLabels, nprobe))
      }: _*)
  }

  /** Membership predicate for hierarchy level `level` (1-based; level
    * 0 is the full corpus): a vector is at level ℓ iff ℓ INDEPENDENT
    * md5 coins each land in `keep` of `nSample` buckets — exactly
    * HNSW's geometric level draw (Malkov & Yashunin 2016 §4.1:
    * P(level ≥ ℓ) = r^ℓ with r = keep/nSample) made deterministic and
    * engine-portable. Coin 1 is the UNsalted [[sampleBucket]] (so the
    * 2-layer build is bit-identical to rounds ≤ 13); coins ℓ ≥ 2 salt
    * the md5 input with `#ℓ` for independence. Levels NEST (level ℓ ⊆
    * level ℓ−1), which is what makes the per-layer append slice
    * identity hold at every layer.
    */
  private def layerPred(level: Int, keep: Int, nSample: Int): Column =
    (1 to level).map { j =>
      val seed = if (j == 1) col("vec_id").cast("string")
        else concat(col("vec_id").cast("string"), lit(s"#$j"))
      conv(substring(md5(seed), 1, 4), 16, 10).cast("int") % nSample < keep
    }.reduce(_ && _)

  /** MULTI-LAYER hierarchical graph search — the actual HNSW structure
    * (Malkov & Yashunin 2016: upper layers are geometrically thinned
    * subsets whose long-range links route a query to the right REGION;
    * the bottom layer refines): level ℓ of `nLayers` keeps fraction
    * (keep/nBuckets)^ℓ of the corpus via [[layerPred]]'s nested coin
    * draws, each level carries its OWN cross-cell kNN graph, and every
    * query walks TOP-DOWN — from ONE GLOBAL ENTRY POINT (the top
    * level's smallest vec_id, HNSW's fixed enterpoint) through each
    * level's best node (k = 1 routing) to the level-0 walk that
    * answers. `nLayers = 2` is bit-identical to the two-layer build of
    * rounds ≤ 13. The structural point vs [[annGraphSearch]]: the flat
    * walk seeds each query AT ITSELF, which only works when the query
    * IS a corpus member — the hierarchy serves a COLD START, and with
    * levels thinning geometrically the top-level walk crosses the
    * corpus in hops of span ~1/r^(L−1), giving the logarithmic
    * hop-bound a FIXED two-layer 25% sample cannot (at 10⁹ nodes a
    * quarter-sized layer is itself a long walk — VERDICT r13 #1);
    * GraphSearchSpec pins a corpus where the 3-layer walk needs
    * strictly fewer rounds than the 2-layer at the same beam.
    *
    * Scale plan: level ℓ is |corpus|·r^ℓ nodes — each graph build is
    * the same Σcell·nprobe equi-join on its slice (the top levels are
    * asymptotically free); all walks are the [[graphWalkFrom]]
    * dataflow (frontier ≤ nQueries·beam rows, scoring broadcasts the
    * query batch onto node-frame scans); the entry point is a 1-row
    * aggregate under the codebook collect contract.
    */
  def annGraphSearchHier(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                         nQueries: Int, beam: Int, rounds: Int, k: Int,
                         keep: Int = 2, nBuckets: Int = 8,
                         nprobe: Int = 2, nLayers: Int = 2,
                         route: Option[(Int, Int, Int)] = None): DataFrame = {
    require(keep >= 1 && keep <= nBuckets,
      s"annGraphSearchHier: keep=$keep must be in [1, $nBuckets]")
    require(nLayers >= 2, s"annGraphSearchHier: need nLayers >= 2, got $nLayers")
    VectorExprs.register(embeddings.sparkSession)
    // `route = Some((kCentGraph, beamRoute, roundsRoute))` builds every
    // level's graph with GRAPH-ROUTED cell assignment (VERDICT r14 #1:
    // n·rounds·beam·deg·d routing instead of the flat n·k·d scan the
    // factor-100 soak proved Θ(n^1.5·d) under k∝√n); at full budget
    // the hierarchy is byte-equal to the flat build (spec-pinned per
    // level — the 28e'' contract)
    def levelGraph(f: DataFrame): DataFrame = route match {
      case Some((deg, bR, rR)) =>
        knnGraphEdgesRouted(f, nCentroids, kGraph, nprobe, deg, bR, rR)
      case None => knnGraphEdges(f, nCentroids, kGraph, nprobe)
    }
    val base = prepared(embeddings.where(col("embedding").isNotNull))
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    // top level first: its min vec_id is the global entry
    val levels = (nLayers - 1) to 1 by -1
    val top = levels.head
    val eTop = prepared(embeddings.where(
      layerPred(top, keep, nBuckets) && col("embedding").isNotNull))
    val entryRow = eTop.agg(min(col("vec_id"))).head()
    require(!entryRow.isNullAt(0),
      s"annGraphSearchHier: level-$top sample is empty — " +
        "raise keep, lower nBuckets, or lower nLayers")
    val entry = entryRow.getLong(0)
    // the stored twin's seed-fold (hierNavigate): (qv, qn) ride the
    // descent, each level boundary is a lazy window
    var seeds = q.select(col("qid"), col("qv"), col("qn"), lit(entry).as("vid"))
    for (lvl <- levels) {
      val lFrame = embeddings.where(layerPred(lvl, keep, nBuckets))
      val eL = prepared(lFrame.where(col("embedding").isNotNull))
      val gL = levelGraph(lFrame)
      seeds = graphWalkScored(eL, gL, seeds, beam, rounds, 1)
        .select(col("qid"), col("qv"), col("qn"), col("vid"))
    }
    val g0 = levelGraph(embeddings)
    // the ANSWER walk serves undirected — entry-seeded queries must
    // reach in-edge-only nodes (navigation above stayed directed)
    graphWalkScored(base,
        g0.unionByName(g0.select(col("nbr").as("src"), col("src").as("nbr"))),
        seeds, beam, rounds, k)
      .select(col("qid"), col("vid"), col("cos"), col("rank"))
  }

  /** Persist the kNN graph to the catalog — build-once/walk-forever
    * for the graph tier (the [[writeAnnIndex]] discipline): the
    * `<table>_edges` table is BUCKETED by `src` so every walk's
    * frontier expansion joins against a bucketed scan (co-located, no
    * stored-side Exchange), and `<table>_meta` carries the build
    * parameters so a walk cannot silently run against a
    * differently-built graph. At 100 TB the graph build (the Σcell²
    * equi-join) is the cost paid once; walks touch frontier-sized
    * slices.
    */
  def writeKnnGraph(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                    table: String, nBuckets: Int, nprobe: Int = 2): Unit = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    // stale-tombstone rule (the writeTextIndex lifecycle precedent,
    // family-wide per r16 ADVICE): a same-name rebuild after a
    // takedown must not mask freshly-indexed vectors
    spark.sql(s"DROP TABLE IF EXISTS ${table}_gtombstones")
    val enc = quantizer(embeddings, nCentroids)
    val assigned = prepared(embeddings)
      .where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
    // nodes carry the raw vectors: the graph store is a vector store
    // WITH adjacency (the HNSW serving layout) — append and walks
    // both read vectors from here, never from the build input.
    // The three tables are independent — write them concurrently
    // (inParallel: latency-bound tiny writes overlap; on a cluster the
    // edge build's task tail back-fills with the other writes)
    import spark.implicits._
    Par.inParallel(
      () => graft.sources.Formats.writeBucketedKeys(
        assigned.select(col("vec_id"), col("cell"), col("v")),
        s"${table}_nodes", Seq("cell"), nBuckets),
      () => graft.sources.Formats.writeBucketedKeys(
        knnEdges(assigned, assigned, kGraph, enc, nprobe)
          .select(col("vec_id").as("src"), col("nbr"), col("cos")),
        s"${table}_edges", Seq("src"), nBuckets),
      () => Seq((nCentroids, kGraph, nBuckets, nprobe, enc))
        .toDF("n_centroids", "k_graph", "n_buckets", "nprobe", "enc")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_meta"))
  }

  /** Append NEW vectors to a stored kNN graph WITHOUT a rebuild — and
    * provably ≡ the one-shot build: a stored node's updated edge list
    * is top-k(stored top-k ∪ probe-cell new pairs), which equals
    * top-k(all old candidates ∪ new) because dropping non-top-k old
    * candidates can never promote them. New vectors rank against
    * (stored ∪ delta) same-cell nodes; both sides assign cells with
    * the STORED quantizer (meta), so a delta can't silently re-cluster
    * the graph. Edges are written as a staged table and swapped in by
    * [[Store.commit]] (Spark refuses an in-place overwrite of a table
    * the plan reads); a failed commit leaves the previous `_edges`
    * live. Nodes append in place AFTER the swap, so a failure between
    * the two leaves edges that point at nodes the store lacks.
    *
    * Cost: |stored edges| (k-bounded per node) + nprobe·Σ_cell
    * old_c·new_c + nprobe·new_c² — the delta's share of the pair
    * join, never the full Σcell·nprobe rebuild.
    */
  def appendKnnGraph(newVecs: DataFrame, table: String): Unit = {
    val spark = newVecs.sparkSession
    VectorExprs.register(spark)
    val meta = graphMeta(spark, table)
    // a ROUTED store's cells came from the centroid-graph walk; a flat
    // IvfCells append would silently re-cluster it
    require(!isRouted(meta),
      s"kNN graph '$table' is a ROUTED store — append with appendKnnGraphRouted")
    val kGraph = meta.getAs[Int]("k_graph")
    val nBuckets = meta.getAs[Int]("n_buckets")
    // defensively: a graph written before the nprobe column existed
    // appends under the old same-cell build (nprobe = 1) instead of
    // failing with an opaque schema error (ADVICE r13)
    val nprobe = metaIntOr(meta, "nprobe", 1)
    val enc = meta.getAs[String]("enc")
    val newAssigned = prepared(newVecs)
      .where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
      .select(col("vec_id"), col("cell"), col("v"), col("norm"))
      .localCheckpoint()
    val oldNodes = spark.table(s"${table}_nodes")
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
      .select(col("vec_id"), col("cell"), col("v"), col("norm"))
    appendEdges(spark, table, ivfProbed(oldNodes, enc, nprobe),
      ivfProbed(newAssigned, enc, nprobe), oldNodes, newAssigned, kGraph, nBuckets)
    graft.sources.Formats.writeBucketedKeys(
      newAssigned.select(col("vec_id"), col("cell"), col("v")),
      s"${table}_nodes", Seq("cell"), nBuckets, mode = "append")
  }

  /** [[annGraphSearch]] against the STORED graph — no rebuild, the
    * walk reads `<table>_edges` for adjacency and `<table>_nodes`
    * for the vectors (the graph store IS the vector store — scoring
    * from the caller's frame would silently drop nodes added by
    * [[appendKnnGraph]] after that frame was built); byte-equal to
    * the recompute path on the same build input (the stored-parity
    * gate contract). The tombstone mask ([[deleteFromKnnGraph]])
    * applies, so a taken-down vector vanishes from seeds, frontiers
    * and answers the moment its tombstone lands.
    *
    * Scale plan: the `_nodes`, `_edges` and `_gtombstones` scans are
    * sized from their files, with no job. While together they fit
    * under `spark.sql.autoBroadcastJoinThreshold`, the walk is
    * [[graphWalk]]'s in-task path: one collect of the three scans, the
    * mask and the seeds on the driver, and the whole walk in the
    * consumer's job — two jobs whatever `rounds` is, with or without
    * pending tombstones. A store past that budget walks the round loop
    * over the anti-join-masked store, a checkpointed exchange per
    * round.
    */
  def annGraphSearchStored(spark: org.apache.spark.sql.SparkSession, table: String,
                           nQueries: Int, beam: Int, rounds: Int,
                           k: Int): DataFrame = {
    VectorExprs.register(spark)
    val (nodes, edges, tombs) = graphStore(spark, table)
    graphWalk(nodes.select(col("vec_id"), col("v"))
        .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)"))),
      edges, nQueries, beam, rounds, k, tombs)
  }

  /** Recall@k of the graph walk vs exact — next to the IVF/PQ/SQ
    * recalls; the interesting diff is vs [[annIvfTopK]]'s at the same
    * candidate budget (the build's nprobe≥2 edges cross cell
    * boundaries and the walk compounds them).
    */
  /** EMBEDDING OUTLIER audit — the corrupt-vector detector an
    * embedding pipeline runs after every batch-inference job (a
    * truncated write, a mis-normalized shard, an all-zeros failure row
    * all land FAR from any centroid): per vector the cosine to its
    * OWN IVF centroid, flagged when |cos − cell median| exceeds
    * `nMads` cell MADs — the robust (Hampel) rule of the
    * [[graft.operators.TimeSeries.outliersMad]] convention, so one
    * bad shard can't drag the threshold the way a mean/σ rule lets it.
    *
    * Scale shape: the cell assignment is the zero-exchange [[IvfCell]]
    * projection; the centroid join BROADCASTS (codebook-sized); the
    * two medians window per cell on ONE cell exchange; output is the
    * flagged tail only.
    */
  def embeddingOutliers(embeddings: DataFrame, nCentroids: Int,
                        nMads: Double): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val enc = quantizer(embeddings, nCentroids)
    val cents = prepared(
        embeddings.where(col("vec_id") < nCentroids && col("embedding").isNotNull))
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("norm").as("cn"))
    val wCell = Window.partitionBy(col("cell"))
    prepared(embeddings.where(col("embedding").isNotNull))
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
      .join(broadcast(cents), "cell")
      .select(col("vec_id"), col("cell"),
        r3(expr("graft_vec_dot(v, cv)") / (col("norm") * col("cn"))).as("ccos"))
      .withColumn("med", expr("percentile(ccos, 0.5)").over(wCell))
      .withColumn("mad", expr("percentile(abs(ccos - med), 0.5)").over(wCell))
      .where(abs(col("ccos") - col("med")) > lit(nMads) * col("mad"))
      .select(col("vec_id"), col("cell"), col("ccos"),
        r3(col("med")).as("med"),
        r3(abs(col("ccos") - col("med")) / nullif(col("mad"), lit(0.0)))
          .as("n_mads"))
  }

  /** HARD-NEGATIVE mining for contrastive / embedding training
    * (Schroff et al. 2015's semi-hard discipline, the SimCSE/DPR
    * data-prep step): per query, the vectors at exact-cosine ranks
    * m+1..m+k — similar enough to force a useful gradient, but past
    * the top-m "probable true positives" whose inclusion as negatives
    * would poison the loss (the false-negative trap of mining from
    * rank 1). Emits (qid, vid, cos, neg_rank 1..k).
    *
    * Scale shape: [[cosineTopK]]'s salted two-phase top-(m+k) — no
    * global sort — with a rank filter on top; swap the exact ranker
    * for the IVF tier at corpus scale, same contract.
    */
  def hardNegatives(embeddings: DataFrame, nQueries: Int, m: Int,
                    k: Int): DataFrame = {
    require(m >= 1 && k >= 1, s"hardNegatives: need m, k >= 1, got m=$m k=$k")
    cosineTopK(embeddings, nQueries, m + k)
      .where(col("rank") > m)
      .select(col("qid"), col("vid"), col("cos"),
        (col("rank") - m).cast("long").as("neg_rank"))
  }

  /** Persist EVERY layer of the hierarchical graph — the
    * [[writeKnnGraph]] discipline applied per level (`<table>_l0` ..
    * `<table>_l{L−1}`), plus a `_hmeta` table carrying the sample
    * parameters, the layer count and the GLOBAL ENTRY node (walk-time
    * recomputation of the entry would re-scan the top level for a
    * constant that never changes after build). Walks against the
    * store never touch build inputs.
    */
  def writeKnnGraphHier(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                        table: String, nBuckets: Int, keep: Int = 2,
                        nSample: Int = 8, nprobe: Int = 2,
                        nLayers: Int = 2,
                        route: Option[(Int, Int, Int)] = None): Unit = {
    require(keep >= 1 && keep <= nSample,
      s"writeKnnGraphHier: keep=$keep must be in [1, $nSample]")
    require(nLayers >= 2, s"writeKnnGraphHier: need nLayers >= 2, got $nLayers")
    val spark = embeddings.sparkSession
    // route = Some((kCentGraph, beamRoute, roundsRoute)): every level
    // persists as a ROUTED store (writeKnnGraphRouted — nodes/edges in
    // the same stored-walk layout, plus the pinned per-level routing
    // state appends and compaction need), so the flagship cold-start
    // tier stops paying the Θ(n^1.5·d) flat-assignment term at BUILD
    // (VERDICT r14 #1); _hmeta records the budget so append re-routes
    // deltas under exactly the build's rule
    def writeLevel(f: DataFrame, lt: String): Unit = route match {
      case Some((deg, bR, rR)) =>
        writeKnnGraphRouted(f, nCentroids, kGraph, deg, bR, rR, lt, nBuckets, nprobe)
      case None => writeKnnGraph(f, nCentroids, kGraph, lt, nBuckets, nprobe)
    }
    // stale-tombstone rule: the ROOT filing ledger clears here; each
    // level's own _gtombstones clears inside its level build
    spark.sql(s"DROP TABLE IF EXISTS ${table}_gtombstones")
    // levels write DISJOINT table families — build them concurrently
    // (inParallel; level ℓ is r^ℓ of the corpus, so the small upper
    // levels ride inside level 0's wall instead of extending it)
    Par.inParallel((0 until nLayers).map { lvl => () =>
      if (lvl == 0) writeLevel(embeddings, s"${table}_l0")
      else writeLevel(embeddings.where(layerPred(lvl, keep, nSample)), s"${table}_l$lvl")
    }: _*)
    val entryRow = spark.table(s"${table}_l${nLayers - 1}_nodes")
      .agg(min(col("vec_id"))).head()
    require(!entryRow.isNullAt(0),
      s"writeKnnGraphHier: level-${nLayers - 1} sample is empty — " +
        "raise keep, lower nSample, or lower nLayers")
    writeHmeta(spark, table, keep, nSample, entryRow.getLong(0), nLayers, route)
  }

  /** `_hmeta` writer shared by build / append / compaction — the
    * routed-budget columns must survive every rewrite (an append that
    * dropped them would silently flat-append a routed level next
    * time).
    */
  private def writeHmeta(spark: org.apache.spark.sql.SparkSession, table: String,
                         keep: Int, nSample: Int, entry: Long, nLayers: Int,
                         route: Option[(Int, Int, Int)]): Unit = {
    import spark.implicits._
    route match {
      case Some((deg, bR, rR)) =>
        Seq((keep, nSample, entry, nLayers, true, deg, bR, rR))
          .toDF("keep", "n_sample", "entry", "n_layers", "routed",
            "k_cent_graph", "beam_route", "rounds_route")
          .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_hmeta")
      case None =>
        Seq((keep, nSample, entry, nLayers))
          .toDF("keep", "n_sample", "entry", "n_layers")
          .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_hmeta")
    }
  }

  /** A hier graph store's `_hmeta` row. */
  private def hierMeta(spark: SparkSession, table: String): Row =
    Store.meta(spark, table, "hmeta", "hier graph", "writeKnnGraphHier")

  /** The routed budget a hier store was built with, if any — read
    * defensively so pre-routing stores stay flat.
    */
  private def hmetaRoute(hm: Row): Option[(Int, Int, Int)] =
    if (isRouted(hm))
      Some((hm.getAs[Int]("k_cent_graph"), hm.getAs[Int]("beam_route"),
        hm.getAs[Int]("rounds_route")))
    else None

  /** Append a delta batch to a STORED hierarchical graph without a
    * rebuild: level 0 appends every new vector ([[appendKnnGraph]]'s
    * incremental-maintenance identity), level ℓ appends only the
    * delta's [[layerPred]] slice (the SAME nested-coin rule from
    * `_hmeta`, so each stored level stays exactly "what a one-shot
    * build over old ∪ delta would sample"), and the entry point
    * updates to min(old entry, new top-level min) — the one-shot
    * build's min over the whole top sample. Provably ≡ the one-shot
    * hier build because each level's append is and the entry is a
    * pure min. Deltas with NO sampled member at a level leave that
    * level untouched (an append must not be able to empty-handedly
    * rewrite a layer). Each level's `_edges` swaps through
    * [[Store.commit]] as in [[appendKnnGraph]].
    */
  def appendKnnGraphHier(newVecs: DataFrame, table: String): Unit = {
    val spark = newVecs.sparkSession
    val hm = hierMeta(spark, table)
    val (keep, nSample, entry) = (hm.getAs[Int]("keep"),
      hm.getAs[Int]("n_sample"), hm.getAs[Long]("entry"))
    // a two-layer store written before the n_layers column existed
    // appends as the L = 2 build it is, not an opaque schema error
    val nLayers = metaIntOr(hm, "n_layers", 2)
    // a routed hier store appends each level through the ROUTED path
    // (the per-level `_meta` would refuse a flat append anyway — this
    // dispatch makes the hier append seamless either way)
    val route = hmetaRoute(hm)
    def appendLevel(df: DataFrame, lt: String): Unit =
      if (route.isDefined) appendKnnGraphRouted(df, lt)
      else appendKnnGraph(df, lt)
    // per-level appends touch DISJOINT table families — run them
    // concurrently (the writeKnnGraphHier build-side discipline)
    Par.inParallel((0 until nLayers).map { lvl => () =>
      if (lvl == 0) appendLevel(newVecs, s"${table}_l0")
      else {
        val lDelta = newVecs.where(layerPred(lvl, keep, nSample))
        if (!lDelta.where(col("embedding").isNotNull).isEmpty)
          appendLevel(lDelta, s"${table}_l$lvl")
      }
    }: _*)
    val newTopMin = newVecs.where(
        layerPred(nLayers - 1, keep, nSample) && col("embedding").isNotNull)
      .agg(min(col("vec_id"))).head().get(0)
    if (newTopMin != null)
      writeHmeta(spark, table, keep, nSample,
        math.min(entry, newTopMin.asInstanceOf[Long]), nLayers, route)
  }

  /** [[annGraphSearchHier]] against the STORED multi-layer graph — no
    * rebuild; vectors come from each level's `_nodes` (the graph
    * store IS the vector store), the entry and layer count from
    * `_hmeta`. Byte-equal to the recompute path on the same build
    * input (the stored-parity contract).
    *
    * Takedowns (VERDICT r14 #2 — this walk used to REFUSE pending
    * tombstones): every level reads through [[maskedGraphStore]], so
    * a root filing ([[deleteFromKnnGraph]] on the hier table) — or
    * one made directly against a level table (ADVICE r14) — removes
    * the vector from every level's seeds, frontiers, edges and
    * answers immediately. A tombstoned ENTRY re-seeds the walk from
    * the min surviving top-level node (exactly the survivor
    * one-shot's entry rule, and = the pinned entry whenever it
    * survives — the pin is an optimization, not a semantic); srcs
    * whose stored top-k pointed at removed nodes serve shorter lists
    * until [[compactKnnGraphHier]] re-ranks them.
    */
  def annGraphSearchHierStored(spark: org.apache.spark.sql.SparkSession,
                               table: String, nQueries: Int, beam: Int,
                               rounds: Int, k: Int): DataFrame = {
    val (e0, g0, _, seeds) = hierNavigate(spark, table, nQueries, beam, rounds)
    // entry-seeded answer walk serves undirected (the recompute twin's
    // contract — annGraphSearchHier's level-0 call)
    graphWalkScored(e0,
        g0.unionByName(g0.select(col("nbr").as("src"), col("src").as("nbr"))),
        seeds, beam, rounds, k)
      .select(col("qid"), col("vid"), col("cos"), col("rank"))
  }

  /** The stored hierarchy's shared SERVE MACHINERY — mask resolution
    * (root + per-level filings), entry selection (pinned on the
    * no-takedown path, ONE 1-row min-surviving aggregate otherwise,
    * directed error when nothing survives) and the top-down
    * navigation walk. Returns the level-0 node/edge frames, the
    * query frame and the navigation's SEEDS — the plain walk
    * ([[annGraphSearchHierStored]]) and the filtered walk
    * ([[annGraphSearchHierFilteredStored]]) differ only in what they
    * run from those seeds.
    */
  private def hierNavigate(spark: org.apache.spark.sql.SparkSession,
                           table: String, nQueries: Int, beam: Int,
                           rounds: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    VectorExprs.register(spark)
    val hm = hierMeta(spark, table)
    val pinnedEntry = hm.getAs[Long]("entry")
    val nLayers = metaIntOr(hm, "n_layers", 2)
    val rootTs = Store.pending(spark, s"${table}_gtombstones", "vec_id")
    def masked(lvl: Int): (DataFrame, DataFrame) = {
      val (n, e) = maskedGraphStore(spark, s"${table}_l$lvl", rootTs)
      (n.select(col("vec_id"), col("v"))
        .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)"))),
        e.select(col("src"), col("nbr")))
    }
    val anyTs = rootTs.isDefined || (0 until nLayers)
      .exists(l => spark.catalog.tableExists(s"${table}_l${l}_gtombstones"))
    // the common (no-takedown) path serves the pinned entry with zero
    // extra work; the takedown path pays ONE 1-row aggregate
    val entry = if (!anyTs) pinnedEntry else {
      val row = masked(nLayers - 1)._1.agg(min(col("vec_id"))).head()
      require(!row.isNullAt(0),
        s"hier graph '$table': every level-${nLayers - 1} node is " +
          "tombstoned — no surviving entry; rebuild with fewer layers " +
          "or compact after re-ingesting survivors")
      row.getLong(0)
    }
    val (e0, g0) = masked(0)
    val q = e0.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    // seeds carry (qv, qn) down the descent — each level's walk seeds
    // the next through [[graphWalkScored]]'s query-carrying frame, so
    // the per-level seed re-scoring and broadcast(q) jobs disappear
    // and the level boundary is a lazy window folded into the next
    // level's first checkpoint (the r18 seed-fold)
    var seeds = q.select(col("qid"), col("qv"), col("qn"), lit(entry).as("vid"))
    for (lvl <- (nLayers - 1) to 1 by -1) {
      val (nL, gL) = masked(lvl)
      seeds = graphWalkScored(nL, gL, seeds, beam, rounds, 1)
        .select(col("qid"), col("qv"), col("qn"), col("vid"))
    }
    (e0, g0, q, seeds)
  }

  /** FILTERED serving on the HIERARCHICAL store — the filtered family
    * closed on its last tier: navigation runs UNFILTERED down the
    * levels (reachability through non-matching nodes — the same ACORN
    * lesson as the flat filtered walk: a label-restricted hierarchy
    * fragments and strands label-sparse queries), then level 0 runs
    * the MIXED navigation ∪ matching beam from the navigation's seeds
    * ([[filteredWalkFrom]] — the exact flat-filtered body, seeded by
    * the hierarchy instead of the queries). Labels come from the
    * level-0 sidecar (`<table>_l0_nlabels` —
    * [[writeGraphNodeLabels]] against `<table>_l0`, the full-corpus
    * level); the tombstone mask applies at every level AND to the
    * filtered answers (the [[annGraphSearchHierStored]] machinery:
    * root filings mask all levels, a tombstoned entry re-seeds, no
    * survivor is a directed error).
    */
  def annGraphSearchHierFilteredStored(spark: org.apache.spark.sql.SparkSession,
                                       table: String, nQueries: Int,
                                       beam: Int, rounds: Int, k: Int,
                                       nLabels: Int): DataFrame = {
    Store.guard(spark, table, "l0_nlabels", "hier graph",
      s"writeGraphNodeLabels against the level-0 table '${table}_l0'")
    require(nLabels >= 1,
      s"annGraphSearchHierFilteredStored: need nLabels >= 1, got $nLabels")
    val (e0, g0, _, seeds) = hierNavigate(spark, table, nQueries, beam, rounds)
    val labels = spark.table(s"${table}_l0_nlabels")
      .select(col("vec_id").as("vid"), col("label"))
    filteredWalkScored("annGraphSearchHierFilteredStored", e0, labels, g0, seeds,
      beam, rounds, k, nLabels)
  }

  /** Recall@k of the FILTERED hier walk vs the exact filtered top-k —
    * the oversearch audit ([[annGraphSearchFilteredRecall]]'s chain)
    * on the cold-start tier: the 1/selectivity law read for the
    * hierarchy-seeded walk next to the flat reading.
    */
  def annGraphSearchHierFilteredRecall(embeddings: DataFrame, table: String,
                                       nQueries: Int, beam: Int, rounds: Int,
                                       k: Int, nLabels: Int): DataFrame =
    walkRecall(cosineTopKFiltered(embeddings, nQueries, k, nLabels),
      Nil -> (() => annGraphSearchHierFilteredStored(embeddings.sparkSession,
        table, nQueries, beam, rounds, k, nLabels)))

  /** Fold accumulated takedowns into EVERY level of a stored
    * hierarchical graph — lifecycle parity for the cold-start tier
    * (VERDICT r14 #2): the root `_gtombstones` filing folds into each
    * level's own tombstone table (ids absent from a level anti-join
    * to nothing), each level compacts under its own discipline
    * ([[compactKnnGraph]] for flat-assigned levels,
    * [[compactKnnGraphRouted]] when the level pins routing state),
    * and the entry recomputes as the min surviving top-level node —
    * exactly the one-shot [[writeKnnGraphHier]] entry rule. Result ≡
    * the one-shot hier build over the survivors whenever the removal
    * spares each level's codebook ids (spec-pinned). Each level commits
    * through [[Store.commit]]; a level whose commit fails keeps its
    * previous generation, and the root filing stays pending, so a
    * retry folds it again.
    */
  def compactKnnGraphHier(table: String): Unit = {
    val spark = SparkSession.active
    val hm = hierMeta(spark, table)
    val (keep, nSample) = (hm.getAs[Int]("keep"), hm.getAs[Int]("n_sample"))
    val nLayers = metaIntOr(hm, "n_layers", 2)
    val rootTsT = s"${table}_gtombstones"
    val rootTs = Store.pending(spark, rootTsT, "vec_id").map(_.localCheckpoint())
    // per-level fold + compaction touches DISJOINT table families —
    // run the levels concurrently (the hier build/append discipline)
    Par.inParallel((0 until nLayers).map { lvl => () =>
      val lt = s"${table}_l$lvl"
      rootTs.foreach(Store.file(_, s"${lt}_gtombstones"))
      compactGraph(lt, isRouted(spark.table(s"${lt}_meta").head()))
    }: _*)
    spark.sql(s"DROP TABLE IF EXISTS $rootTsT")
    val entryRow = spark.table(s"${table}_l${nLayers - 1}_nodes")
      .agg(min(col("vec_id"))).head()
    require(!entryRow.isNullAt(0),
      s"compactKnnGraphHier: every level-${nLayers - 1} node was " +
        "tombstoned — the survivor hierarchy has no entry; rebuild " +
        "with fewer layers")
    writeHmeta(spark, table, keep, nSample, entryRow.getLong(0), nLayers,
      hmetaRoute(hm))
  }

  /** Recall@k of the hierarchical walk vs exact — published next to
    * [[annGraphSearchRecall]]: the price of serving from a GLOBAL
    * entry point instead of self-seeding (the cold-start regime the
    * flat walk cannot serve at all).
    */
  def annGraphSearchHierRecall(embeddings: DataFrame, nCentroids: Int,
                               kGraph: Int, nQueries: Int, beam: Int,
                               rounds: Int, k: Int, keep: Int = 2,
                               nBuckets: Int = 8, nprobe: Int = 2,
                               nLayers: Int = 2): DataFrame =
    walkRecall(cosineTopK(embeddings, nQueries, k),
      Nil -> (() => annGraphSearchHier(embeddings, nCentroids, kGraph, nQueries,
        beam, rounds, k, keep, nBuckets, nprobe, nLayers)))

  /** The graph-walk TUNING TABLE (the [[annIvfProbeSweep]] discipline
    * pointed at the graph tier): recall@k at each (beam, rounds)
    * budget in ONE frame — beam bounds the frontier (memory/scoring
    * cost per round), rounds bounds the hops (latency), and the knee
    * of THIS corpus's curve is what an operator fixes before serving
    * (HNSW's efSearch sweep). The graph builds ONCE (checkpointed);
    * the exact top-k computes ONCE (checkpointed); every branch is
    * the standalone walk verbatim unioned with its budget literals.
    */
  def annGraphSweep(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                    nQueries: Int, k: Int, params: Seq[(Int, Int)],
                    nprobe: Int = 2): DataFrame = {
    require(params.nonEmpty, "annGraphSweep: need at least one (beam, rounds)")
    val graph = knnGraphEdges(embeddings, nCentroids, kGraph, nprobe)
    val e = prepared(embeddings.where(col("embedding").isNotNull))
    // each budget's walk is an INDEPENDENT job chain over the shared
    // graph memo
    walkRecall(cosineTopK(embeddings, nQueries, k),
      params.map { case (beam, rounds) => budget(beam, rounds) -> (() =>
        graphWalk(e, graph, nQueries, beam, rounds, k))
      }: _*)
  }

  /** Recall@k of the graph walk vs the exact cosine top-k. */
  def annGraphSearchRecall(embeddings: DataFrame, nCentroids: Int, kGraph: Int,
                           nQueries: Int, beam: Int, rounds: Int, k: Int,
                           nprobe: Int = 2): DataFrame =
    walkRecall(cosineTopK(embeddings, nQueries, k),
      Nil -> (() => annGraphSearch(embeddings, nCentroids, kGraph,
        nQueries, beam, rounds, k, nprobe)))

  private def semanticDedupWith(embeddings: DataFrame, enc: String,
                                threshold: Double): DataFrame = {
    // coalesce sentinel: see annIvfTopK — keeps `cell` non-nullable so
    // the equi-join doesn't re-run the argmax under an isnotnull guard
    val assigned = prepared(embeddings)
      .where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
    semanticDedupCore(assigned, threshold)
  }

  /** The survivor-verdict core shared by the flat, trained and ROUTED
    * SemDeDup faces: `assigned` = (vec_id, v, norm, cell).
    */
  private def semanticDedupCore(assigned: DataFrame,
                                threshold: Double): DataFrame = {
    val earlier = assigned.select(col("vec_id").as("vid_b"),
      col("cell").as("cell_b"), col("v").as("vb"), col("norm").as("nb"))
    val cos = r3(expr("graft_vec_dot(v, vb)") / (col("norm") * col("nb")))
    // LEFT OUTER with threshold + id order inside the join condition:
    // witness-less vectors survive the join as a single null-extended
    // row instead of needing a third corpus scan to be re-attached
    // (the first cut did dups.distinct + outer join back onto a fresh
    // scan — the plan audit showed THREE full scans, each re-running
    // the argmax). Non-dup pairs still die inside the join; the only
    // post-join exchange carries compact (vec_id, cell, bool) rows,
    // partial-agged map-side.
    assigned.join(earlier,
        col("cell") === col("cell_b") &&
          col("vid_b") < col("vec_id") && cos >= threshold, "left")
      .groupBy(col("vec_id"), col("cell"))
      .agg(max(col("vid_b").isNotNull).as("dropped"))
  }

  /** Hyperplane weight: u(p:d) − 0.5 via md5 — partition-invariant
    * and embeddable as an identical literal in any engine's SQL.
    */
  def planeWeight(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % 100000L) / 100000.0 - 0.5
  }

  /** Random-hyperplane LSH buckets: `nPlanes` md5-PRNG hyperplanes,
    * bucket = sign-bit signature. Near neighbours collide; search
    * cost drops from O(corpus) to O(bucket).
    */
  def lshBuckets(embeddings: DataFrame, nPlanes: Int, dim: Int = DIM): DataFrame =
    // same non-nullable-join-key pattern as annIvfTopK's `cell`: the
    // coalesce sentinel stops the bucket equi-join from inferring
    // isnotnull(graft_lsh_bucket(...)) and projecting the nPlanes×dim
    // loop twice per row; null vectors (the only null source) are
    // dropped by the cheap guard, so the sentinel is unreachable.
    prepared(embeddings)
      .where(col("v").isNotNull)
      .withColumn("bucket", expr(s"coalesce(graft_lsh_bucket(v, $nPlanes), -1L)"))

  /** IVF-style ANN: a deterministic coarse quantizer (centroids = the
    * first `nCentroids` vectors) partitions the corpus into cells;
    * each query searches only its own cell (nprobe = 1). The
    * complement of [[annLshTopK]] on the scale path.
    *
    * Cell assignment is genuinely map-only: the centroid set is
    * materialized on the driver — O(nCentroids·dim) doubles, the
    * standard IVF shape (k-means centroids always live driver-side)
    * and the same footprint a `broadcast()` would ship — and scored
    * per row by the native [[graft.functions.IvfCell]] argmax
    * expression, a pure projection on the scan. ZERO exchanges
    * between scan and assignment (the round-3 formulation BNLJ'd
    * corpus × nCentroids rows through a `row_number` window — a
    * 16×-amplified exchange, twice). Rounded score + ascending-cid
    * tie-break inside the expression keeps the argmax bit-stable
    * across engines.
    *
    * Search = one broadcast bucket join on the cell id; ranking =
    * the same two-phase salted top-k as [[cosineTopK]], since a cell
    * holds corpus/nCentroids candidates at scale.
    */
  /** Driver-side materialization of the coarse quantizer (the first
    * `nCentroids` vectors), serialized for [[graft.functions.IvfCell]]
    * — O(nCentroids·dim) doubles, the footprint `broadcast()` would
    * ship.
    */
  private def quantizer(embeddings: DataFrame, nCentroids: Int): String = {
    val cents = embeddings.where(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1)
    // an empty codebook would silently assign EVERY vector the -1
    // sentinel cell — one bucket holding the whole corpus, turning the
    // cell-keyed joins downstream (IVF search, semanticDedup) into the
    // all-pairs blowup the quantizer exists to avoid
    require(cents.nonEmpty,
      s"quantizer: no vectors with vec_id < $nCentroids — the codebook " +
        "is empty (centroids are the first nCentroids vec_ids by convention)")
    graft.functions.IvfCell.encode(cents.map(_._1), cents.map(_._2))
  }

  def annIvfTopK(embeddings: DataFrame, nCentroids: Int, nQueries: Int, k: Int): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    annIvfWithQuantizer(embeddings, quantizer(embeddings, nCentroids), nQueries, k)
  }

  /** IVF search against an already-encoded quantizer — the shared core
    * of [[annIvfTopK]] (first-N convention) and [[annIvfTopKTrained]]
    * (k-means codebook). Same scale shape either way: zero-exchange
    * assignment, broadcast cell join, two-phase salted top-k.
    */
  private def annIvfWithQuantizer(embeddings: DataFrame, enc: String,
                                  nQueries: Int, k: Int): DataFrame = {
    // coalesce to a sentinel makes `cell` statically NON-nullable:
    // without it the equi-join infers isnotnull(ivfcell(...)) and the
    // O(nCentroids·dim) argmax runs TWICE per row (Filter and Project
    // are separate codegen operators — no cross-operator subexpression
    // elimination). Null embeddings (the only way ivfcell is null) are
    // dropped by the cheap explicit guard, so -1 is unreachable.
    val assigned = prepared(embeddings)
      .where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
    val q = assigned.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"), col("cell"))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"), pairCos().as("cos"))
    saltedTopK(scored, "cos", ascending = false, k)
  }

  /** One Lloyd iteration: assign every vector to its nearest current
    * centroid (rounded-cosine argmax — the [[graft.functions.IvfCell]]
    * zero-exchange projection, spherical k-means' assignment step) and
    * recompute each surviving cell's centroid as the per-dimension mean
    * of its members, ROUNDED to 1e-3 so the next iteration's codebook
    * is a bit-identical literal in any engine (parallel FP summation
    * only perturbs means at ~1e-13 relative — far inside the rounding
    * guard, the same argument every rounded aggregate in this repo
    * leans on). Cosine assignment is scale-invariant in the centroid,
    * so the UN-normalized mean is equivalent to the normalized-mean
    * update of textbook spherical k-means.
    *
    * Scale shape: assignment is a pure projection on the scan (the
    * codebook rides inside the expression); the update is ONE
    * map-side-combined groupBy over (cell, dim) — the exchange carries
    * at most k·dim·partitions partial rows, never vectors. The only
    * driver materialization is the k×dim centroid matrix itself — the
    * standard k-means shape (FAISS trains codebooks driver/host-side
    * too). Cells that lose all members simply drop (their cid vanishes
    * from the codebook — both engines agree by construction).
    */
  private[graft] def kmeansStep(embeddings: DataFrame,
                         cents: Array[(Long, Array[Double])]): Array[(Long, Array[Double])] = {
    val enc = graft.functions.IvfCell.encode(cents.map(_._1), cents.map(_._2))
    // the cell assignment is projected BELOW the posexplode (two
    // selects — the Generate passes `cell` through), so the
    // O(k·dim) argmax runs once per VECTOR; folding it into the same
    // select as posexplode lands it in the Project above the Generate,
    // re-running it once per exploded ELEMENT (a dim× amplification —
    // caught by plan audit)
    val rows = embeddings.where(col("embedding").isNotNull)
      .select(col("embedding"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$enc'), -1L)").as("cell"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .collect()
    rows.groupBy(_.getLong(0)).toArray.sortBy(_._1).map { case (cid, rs) =>
      (cid, rs.sortBy(_.getInt(1)).map(r => r3d(r.getDouble(2) / r.getLong(3))))
    }
  }

  /** Distributed Lloyd's k-means codebook training (the fit stage the
    * quantizer stack lacked — every consumer so far used the first-N
    * convention; this is the FAISS `train()` analogue). Seed = the
    * first `k` non-null vectors (deterministic — the repo's codebook
    * convention); `nIter` full assignment+update rounds; rounded
    * centroids each round (see [[kmeansStep]]) keep the trajectory
    * engine-reproducible. Returns the (cid, centroid) array ready for
    * [[graft.functions.IvfCell.encode]]. Cluster ids are the SEED
    * vec_ids and survive across iterations (a cid disappears only if
    * its cell empties).
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int, nIter: Int): Array[(Long, Array[Double])] =
    memoized(embeddings, s"kmeans:$k:$nIter") {
      kmeansIterate(embeddings, embeddings, k, nIter)
    }

  /** md5-PRNG sample bucket of `vec_id` — the engine-portable
    * pseudo-random the repo uses everywhere randomness crosses the
    * oracle boundary (`rand()` is engine- AND partitioning-dependent;
    * the md5 bucket is a pure function of the key). Same arithmetic as
    * [[TimeSeries.split]] / the DuckDB `CAST(CONCAT('0x', SUBSTR(md5(
    * ...), 1, 4)) AS INTEGER)` form: first 4 hex digits → 0..65535.
    */
  private def sampleBucket(nBuckets: Int): Column =
    conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % nBuckets

  /** [[kmeansCentroids]] trained on a DETERMINISTIC md5-PRNG sample
    * (`keep` of `nBuckets` buckets) instead of the full corpus — the
    * FAISS discipline: codebook quality needs ~hundreds of vectors per
    * centroid, not the whole corpus, so the fit cost is bounded by the
    * SAMPLE size while the corpus grows without bound. Seeds stay the
    * full corpus' first-k (the repo's codebook convention — the sample
    * decides only which vectors VOTE in the Lloyd updates). Sampling by
    * md5 bucket keeps the training set identical across engines,
    * partitionings and cluster sizes — `sample()`/`rand()` would give
    * every run a different codebook.
    */
  def kmeansCentroidsSampled(embeddings: DataFrame, k: Int, nIter: Int,
                             keep: Int, nBuckets: Int): Array[(Long, Array[Double])] = {
    require(keep >= 1 && keep <= nBuckets,
      s"kmeansCentroidsSampled: keep=$keep must be in [1, $nBuckets]")
    memoized(embeddings, s"kmeansSampled:$k:$nIter:$keep:$nBuckets") {
      kmeansIterate(embeddings.where(sampleBucket(nBuckets) < keep),
        embeddings, k, nIter)
    }
  }

  /** Seed from the full corpus' first-k, then `nIter` Lloyd rounds
    * where only `sample` votes — the full and sampled fits.
    */
  private def kmeansIterate(sample: DataFrame, embeddings: DataFrame,
                            k: Int, nIter: Int): Array[(Long, Array[Double])] = {
    VectorExprs.register(embeddings.sparkSession)
    val seeds = headVectors(embeddings, k)
    require(seeds.nonEmpty,
      s"kmeans: no non-null vectors with vec_id < $k to seed the codebook")
    lloyd(sample, seeds, nIter)
  }

  /** `nIter` [[kmeansStep]] rounds from `cents`, only `sample` voting. */
  private def lloyd(sample: DataFrame, cents: Array[(Long, Array[Double])],
                    nIter: Int): Array[(Long, Array[Double])] =
    (1 to nIter).foldLeft(cents)((c, _) => kmeansStep(sample, c))

  /** [[kmeansCentroidsSampled]] with the FAISS auto-sizing rule: train
    * on ~`perCentroid`·k vectors (FAISS default 256·k) whatever the
    * corpus size — ONE count scan picks the bucket fraction, then the
    * fit cost is flat in corpus size (the soak's "fit cost stays flat
    * across a decade" claim). Returns the centroids plus the
    * (keep, nBuckets) actually used so callers can reproduce the
    * sample.
    *
    * The bucket space is 2²⁰ (a power of two dividing the 8-hex-digit
    * md5 prefix's 2³² values exactly → unbiased buckets), so the
    * smallest expressible fraction is 2⁻²⁰ — the keep=1 floor only
    * bites beyond ~10⁶·target vectors, versus ~10⁴·target had the
    * 4-hex/10⁴-bucket gate arithmetic been reused (where the flat-cost
    * contract would silently fail at 100-TB corpus sizes — review r11).
    */
  def kmeansCentroidsAutoSampled(embeddings: DataFrame, k: Int, nIter: Int,
                                 perCentroid: Int = 256)
      : (Array[(Long, Array[Double])], Int, Int) = {
    val nBuckets = 1 << 20
    val n = embeddings.where(col("embedding").isNotNull).count()
    val target = perCentroid.toLong * k
    val keep =
      if (n <= target) nBuckets
      else math.max(1, math.ceil(nBuckets.toDouble * target / n).toInt)
    val sample = embeddings.where(
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % nBuckets < keep)
    (kmeansIterate(sample, embeddings, k, nIter), keep, nBuckets)
  }

  /** The `kmeans_fit_sampled` gate surface (mirrors [[kmeansFit]] on
    * the md5 sample): `nIter − 1` rounds over the sample, then the
    * FINAL round distributed over the sample — per surviving cluster
    * its SAMPLE member count and updated-centroid checksum. The oracle
    * reproduces the md5 bucket arithmetic in its `es` CTE, so the
    * training set is provably identical vector-for-vector.
    */
  def kmeansFitSampled(embeddings: DataFrame, k: Int, nIter: Int,
                       keep: Int, nBuckets: Int): DataFrame = {
    require(nIter >= 1, s"kmeansFitSampled: nIter must be >= 1, got $nIter")
    fitSummary(embeddings.where(sampleBucket(nBuckets) < keep),
      kmeansCentroidsSampled(embeddings, k, nIter - 1, keep, nBuckets))
  }

  /** The `kmeans_fit` gate surface: run `nIter − 1` full Lloyd rounds
    * driver-side, then perform the FINAL round distributed and report
    * per surviving cluster its member count and a checksum of the
    * updated centroid — Σ_d (d+1)·c_d over the ROUNDED per-dimension
    * means, rounded again (position-weighted so permuted dimensions
    * can't cancel). One row per cluster: (cid, n, checksum) — compact
    * scalars, externally checkable without shipping float arrays
    * through the gate.
    *
    * Uniform-dimension corpora assumed (the per-(cell, d) row count
    * equals the cluster size for every d — `max` collapses it); the
    * embeddings table is dim-64 throughout.
    */
  def kmeansFit(embeddings: DataFrame, k: Int, nIter: Int): DataFrame = {
    require(nIter >= 1, s"kmeansFit: nIter must be >= 1, got $nIter")
    fitSummary(embeddings, kmeansCentroids(embeddings, k, nIter - 1))
  }

  /** Deterministic farthest-point (maximin) seeding — the k-means++
    * idea (Arthur & Vassilvitskii 2007) with the D²-sampling step
    * replaced by its deterministic argmax limit: seed 1 is the lowest
    * non-null vec_id; each next seed is the vector MINIMIZING its
    * max-cosine to the seeds chosen so far (r3'd, ties to the lowest
    * vec_id — engine-reproducible where D²-sampling's randomness is
    * not). Head-seeding ([[kmeansCentroids]]'s convention) can land
    * every seed in one dense region and strand clusters; maximin
    * spreads seeds across the corpus hull, the standard fix.
    *
    * Scale plan: k−1 rounds × (one corpus scan projecting a
    * greatest-of-j cosines column + a TakeOrdered(1)) — the same cost
    * class as ONE Lloyd assignment round, k-bounded driver state (the
    * codebook materialization contract).
    */
  def kmeansSeedsMaximin(embeddings: DataFrame, k: Int): Array[(Long, Array[Double])] = {
    require(k >= 1, s"kmeansSeedsMaximin: k must be >= 1, got $k")
    VectorExprs.register(embeddings.sparkSession)
    val e = prepared(embeddings.where(col("embedding").isNotNull))
    def vecOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Number](0).longValue(), r.getSeq[Number](1).map(_.doubleValue()).toArray)
    val first = vecOf(e.orderBy(col("vec_id")).select(col("vec_id"), col("v")).head())
    val seeds = scala.collection.mutable.ArrayBuffer(first)
    while (seeds.size < k) {
      val simCols = seeds.map { case (_, s) =>
        val sn = math.sqrt(s.foldLeft(0.0)((a, x) => a + x * x))
        expr(s"graft_vec_dot(v, ${dArr(s)})") / (col("norm") * lit(sn))
      }.toSeq
      val simmax = r3(if (simCols.size == 1) simCols.head else greatest(simCols: _*))
      val next = e.where(!col("vec_id").isInCollection(seeds.map(_._1)))
        .select(col("vec_id"), col("v"), simmax.as("simmax"))
        .orderBy(col("simmax").asc, col("vec_id"))
        .head()
      seeds += vecOf(next)
    }
    seeds.sortBy(_._1).toArray
  }

  /** The final-round summary both fit variants share: one assignment
    * pass under the trained codebook, per-cluster member count and the
    * position-weighted centroid checksum (assignment projected BELOW
    * the explode — see [[kmeansStep]]'s plan-audit note).
    */
  private def fitSummary(embeddings: DataFrame,
                         cents: Array[(Long, Array[Double])]): DataFrame = {
    val enc = graft.functions.IvfCell.encode(cents.map(_._1), cents.map(_._2))
    embeddings.where(col("embedding").isNotNull)
      .select(col("embedding"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$enc'), -1L)").as("cid"))
      .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("cid"), col("d"))
      .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .select(col("cid"), col("d"), col("n"), r3(col("sx") / col("n")).as("cd"))
      .groupBy(col("cid"))
      .agg(max(col("n")).as("n"),
        r3(sum((col("d") + 1) * col("cd"))).as("checksum"))
  }

  /** [[kmeansFit]] from [[kmeansSeedsMaximin]] seeds — published next
    * to the head-seeded fit so the seeding claim (no stranded
    * clusters on a clustered corpus) is a table diff.
    */
  def kmeansFitMaximin(embeddings: DataFrame, k: Int, nIter: Int): DataFrame = {
    require(nIter >= 1, s"kmeansFitMaximin: nIter must be >= 1, got $nIter")
    fitSummary(embeddings, lloyd(embeddings, kmeansSeedsMaximin(embeddings, k), nIter - 1))
  }

  /** Per-dimension DRIFT between two corpus halves (old = even
    * vec_id, new = odd — the deterministic stand-in for train-time vs
    * serve-time embedding batches): per dim the two rounded means and
    * variances plus the standardized drift
    * |μ_new − μ_old| / √((σ²_old + σ²_new)/2 + 1e-9) — the embedding
    * monitoring pass that catches model / preprocessing skew before
    * ANN recall silently decays (a drifted dimension moves every
    * distance computation). 1e-9 keeps degenerate dims finite.
    *
    * Scale plan: one explode pass, (grp, d) map-side-combined — the
    * exchange carries 2·dim·partitions partial rows; the pivot and
    * drift math run on a 2·dim-row frame. Drift derives from the
    * ROUNDED moments, so both engines agree past the ε guard.
    */
  def embeddingDrift(embeddings: DataFrame): DataFrame = {
    val st = embeddings.where(col("embedding").isNotNull)
      .select(pmod(col("vec_id"), lit(2L)).cast("int").as("grp"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("grp"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast("double")).as("sx"),
        sum((col("x") * col("x")).cast("double")).as("sxx"))
      .select(col("grp"), col("d"),
        r3(col("sx") / col("n")).as("m"),
        r3(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))).as("v"))
    def side(g: Int, c: String) = max(when(col("grp") === g, col(c)))
    st.groupBy(col("d"))
      .agg(side(0, "m").as("mean_a"), side(1, "m").as("mean_b"),
        side(0, "v").as("var_a"), side(1, "v").as("var_b"))
      .select(col("d").cast("long").as("d"),
        col("mean_a"), col("mean_b"), col("var_a"), col("var_b"),
        r3(abs(col("mean_b") - col("mean_a")) /
          sqrt((col("var_a") + col("var_b")) / 2.0 + 1.0e-9)).as("drift"))
  }

  /** Per-dimension embedding-corpus report: element count, mean,
    * variance, min, max for every dimension — the prep pass for
    * whitening / per-dim scalar quantization and the first query run
    * on a new embedding corpus (degenerate dims show up as ~zero
    * variance). Variance is written in the sum-of-squares form
    * Σx²/n − (Σx/n)² so BOTH engines share the exact formula
    * (`stddev`'s internal algorithm differs engine to engine); all
    * outputs rounded. One explode pass, map-side-combined — the
    * exchange carries dim×partitions partial rows.
    *
    * Count is per-ELEMENT (nulls and SHORTER-than-modal vectors
    * excluded per dimension). The gate's SQL oracle iterates a fixed
    * corpus dimension (64), so vectors LONGER than that would emit
    * extra `d` groups only on the Spark side — the same uniform-dim
    * corpus assumption every PQ operator documents.
    */
  def embeddingStats(embeddings: DataFrame): DataFrame =
    embeddings.where(col("embedding").isNotNull)
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d").cast("long").as("d"), col("x").cast("double").as("x"))
      .groupBy(col("d"))
      .agg(count(col("x")).as("n"),
        r3(sum(col("x")) / count(col("x"))).as("mean"),
        r3(sum(col("x") * col("x")) / count(col("x")) -
          (sum(col("x")) / count(col("x"))) * (sum(col("x")) / count(col("x")))).as("variance"),
        r3(min(col("x"))).as("min_x"),
        r3(max(col("x"))).as("max_x"))

  /** Diagonal (per-dimension) whitening of the embedding corpus from
    * [[embeddingStats]]' rounded moments: `(x − μ_d)/σ_d` per
    * dimension, with σ from the ROUNDED variance (`r3(sqrt(var))`) and
    * zero-variance dimensions passing through centered only (σ := 1) —
    * the standard feature-scaling pass before SQ8/PQ quantization or a
    * cosine metric that shouldn't let one hot dimension dominate.
    *
    * Scale plan: the stats collect is d rows (codebook-bounded); the
    * transform is a ZERO-exchange projection with μ/σ riding as array
    * literals.
    */
  def whitenEmbeddings(embeddings: DataFrame, dim: Int = DIM): DataFrame = {
    val stats = embeddingStats(embeddings).collect()
    val mu = Array.fill(dim)(0.0)
    val sd = Array.fill(dim)(1.0)
    stats.foreach { r =>
      val d = r.getLong(0).toInt
      mu(d) = r.getAs[Double]("mean")
      val v = r.getAs[Double]("variance")
      sd(d) = if (v > 0.0) r3d(math.sqrt(v)) else 1.0
    }
    val muL = mu.mkString("array(", "D, ", "D)")
    val sdL = sd.mkString("array(", "D, ", "D)")
    embeddings.select(col("vec_id"),
      when(col("embedding").isNotNull, expr(
        s"""transform(sequence(0, ${dim - 1}), i ->
           |  floor(((cast(element_at(embedding, i + 1) as double)
           |          - element_at($muL, i + 1)) / element_at($sdL, i + 1))
           |        * 1000.0D + 0.5001D) / 1000.0D)""".stripMargin))
        .as("embedding"))
  }

  /** The whitening CONTRACT, verified: per-dim stats of the whitened
    * corpus — mean ≈ 0 and variance ≈ 1 on every live dimension is
    * what downstream quantizers get to assume. (A silent μ/σ column
    * mix-up or a wrong normalization denominator fails exactly here.)
    */
  def whitenAudit(embeddings: DataFrame, dim: Int = DIM): DataFrame =
    embeddingStats(whitenEmbeddings(embeddings, dim))

  /** Upper-triangle covariance matrix of the embedding dimensions —
    * the input PCA/whitening consumes. ONE linear scan explodes each
    * vector's d(d+1)/2 upper-triangle products PLUS a sentinel
    * (i, −1, xᵢ) row carrying the plain sum, so means and product
    * sums ride the same map-side-combined aggregate: the shuffle
    * carries ~|tasks|·d² partials, never n·d² rows, and the corpus is
    * read once. The final cov(i,j) = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n)
    * composition joins the tiny (d²/2 + d)-row aggregate against its
    * own d-row mean slice — broadcast both ways.
    */
  def covariance(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val last = dim - 1
    val lam =
      s"""flatten(transform(sequence(0, $last), i ->
         |  concat(
         |    array(named_struct('i', i, 'j', -1,
         |      'p', cast(element_at(embedding, i + 1) as double))),
         |    transform(sequence(i, $last), j -> named_struct('i', i, 'j', j,
         |      'p', cast(element_at(embedding, i + 1) as double) *
         |           cast(element_at(embedding, j + 1) as double))))))""".stripMargin
    // checkpoint the (d²/2 + d)-row aggregate: it feeds THREE branches
    // (two broadcast mean slices + the product slice), and without the
    // lineage cut each branch re-ran the full n·d²/2 explode+aggregate
    // — plan-audited 3× the corpus pass, measured 3 × ~2.2 s jobs at
    // sf0.1 (r17). One pass now, as the doc above always claimed.
    // the d²/2 outer products per row dominate — fan a coarse scan
    // out so the explode+partial-agg parallelizes (no-op at scale)
    val agg = Par.fanOut(embeddings.where(col("embedding").isNotNull))
      .select(explode(expr(lam)).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.p")).as("s"), count(lit(1)).as("n"))
      .localCheckpoint()
    val means = agg.where(col("j") === -1)
      .select(col("i").as("mi"), col("s").as("sm"))
    agg.where(col("j") >= 0)
      .join(broadcast(means.select(col("mi"), col("sm").as("si"))),
        col("i") === col("mi")).drop("mi")
      .join(broadcast(means.select(col("mi"), col("sm").as("sj"))),
        col("j") === col("mi")).drop("mi")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        r3(col("s") / col("n") - (col("si") / col("n")) * (col("sj") / col("n")))
          .as("cov"))
  }

  /** Binary Hamming ANN — the FAISS IndexBinaryFlat shape: each vector
    * collapses to an `nPlanes`-bit sign signature (one zero-exchange
    * [[graft.functions.LshBucket]] projection — at 32 planes that is
    * 256× compression of a 64-dim float vector), queries rank the
    * WHOLE corpus by `popcount(sig XOR qsig)`. The cheapest full-scan
    * tier there is (one XOR+popcount per candidate, integer-exact in
    * any engine — no rounding anywhere), used as a coarse filter or
    * candidate generator above an exact re-ranker.
    */
  def annHammingTopK(embeddings: DataFrame, nPlanes: Int, nQueries: Int,
                     k: Int): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val sigs = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"), expr(s"graft_lsh_bucket(embedding, $nPlanes)").as("sig"))
    val q = sigs.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("sig").as("qsig"))
    val scored = sigs.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"),
        expr("cast(bit_count(sig ^ qsig) as bigint)").as("hamming"))
    saltedTopK(scored, "hamming", ascending = true, k)
  }

  /** Recall@k of the Hamming tier vs the exact cosine top-k — sign
    * bits preserve cosine NEIGHBORHOODS in expectation (the
    * hyperplane-LSH guarantee), and this measures how much of that
    * survives at a 32-bit budget on THIS corpus.
    */
  def annHammingRecall(embeddings: DataFrame, nPlanes: Int, nQueries: Int,
                       k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annHammingTopK(embeddings, nPlanes, nQueries, k))

  /** Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998)
    * of the exact cosine top-N: greedily select k of the N candidates
    * maximizing `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — the
    * diversification pass a production RAG retriever runs on its
    * candidate list (near-duplicate passages waste context slots).
    *
    * λ is fixed at 7/10 and the whole selection runs in EXACT INTEGER
    * arithmetic: rel and sim enter as rounded milli-cosines, each
    * step's argmax compares `7·mc − 3·ms` integers packed with the
    * vid tie-break into one BIGINT (`(score + 20000)·2³² + (2³²−1−vid)`,
    * maximize ⟺ best score then lowest vid) — bit-identical greedy
    * selection in any engine, no FP boundary anywhere in the fold.
    *
    * Scale plan: the heavy lifting stays in [[cosineTopK]]'s salted
    * two-phase rank; everything after is bounded by N per query — the
    * N² pair sims, the lookup map and the k-step fold are candidate-
    * list-sized, never corpus-sized.
    */
  def mmrRerank(embeddings: DataFrame, nQueries: Int, nCand: Int, k: Int): DataFrame = {
    require(k <= nCand, s"mmrRerank: k=$k must be <= nCand=$nCand")
    val cand = cosineTopK(embeddings, nQueries, nCand)
    val e = prepared(embeddings)
    val cv = cand.join(e, cand("vid") === e("vec_id"))
      .select(col("qid"), col("vid"), col("cos"), col("v"), col("norm"))
    val a = cv.select(col("qid"), col("vid").as("avid"), col("v").as("av"), col("norm").as("an"))
    val b = cv.select(col("qid").as("bqid"), col("vid").as("bvid"), col("v").as("bv"), col("norm").as("bn"))
    val pairs = a.join(b, col("qid") === col("bqid") && col("avid") < col("bvid"))
      .select(col("qid"),
        concat_ws("_", col("avid"), col("bvid")).as("pk"),
        round(r3(expr("graft_vec_dot(av, bv)") / (col("an") * col("bn"))) * 1000.0)
          .cast("long").as("ms"))
    val cmc = cand
      .select(col("qid"), col("vid"), round(col("cos") * 1000.0).cast("long").as("mc"))
      .groupBy(col("qid"))
      .agg(expr("sort_array(collect_list(struct(vid, mc)))").as("cmc"))
    val sims = pairs.groupBy(col("qid"))
      .agg(map_from_entries(collect_list(struct(col("pk"), col("ms")))).as("sims"))
    val simAt = (cv: String, sv: String) =>
      s"element_at(sims, concat(cast(least($cv, $sv) as string), '_', " +
        s"cast(greatest($cv, $sv) as string)))"
    val pick =
      s"""4294967295L - pmod(
         |  array_max(transform(
         |    filter(cmc, c -> NOT array_contains(acc, c.vid)),
         |    c -> (7L * c.mc - 3L * coalesce(
         |            array_max(transform(acc, s -> ${simAt("c.vid", "s")})),
         |            0L) + 20000L) * 4294967296L + (4294967295L - c.vid))),
         |  4294967296L)""".stripMargin
    cmc.join(sims, Seq("qid"), "left_outer")
      .select(col("qid"), col("cmc"), coalesce(col("sims"),
        expr("cast(map() as map<string, bigint>)")).as("sims"))
      // stop the greedy fold once candidates are exhausted (a query
      // with fewer than k candidates would otherwise argmax over an
      // empty list → NULL vid rows the oracle never emits)
      .select(col("qid"), col("cmc"), col("sims"), expr(
        s"aggregate(sequence(1, $k), cast(array() as array<bigint>), " +
          s"(acc, step) -> IF(size(filter(cmc, c -> NOT array_contains(acc, c.vid))) = 0, " +
          s"acc, array_append(acc, $pick)))").as("sel"))
      .select(col("qid"),
        expr("map_from_entries(transform(cmc, c -> struct(c.vid, c.mc)))").as("mcm"),
        col("sims"), col("sel"))
      .select(col("qid"), posexplode(expr(
        s"""transform(sequence(1, size(sel)), p -> named_struct(
           |  'vid', element_at(sel, p),
           |  'score', cast(7L * element_at(mcm, element_at(sel, p)) - 3L * coalesce(
           |      array_max(transform(slice(sel, 1, p - 1),
           |        s -> ${simAt("element_at(sel, p)", "s")})),
           |      0L) as double) / 10000.0))""".stripMargin)))
      .select(col("qid"), (col("pos") + 1).cast("long").as("mmr_rank"),
        col("col.vid").as("vid"), col("col.score").as("score"))
  }

  /** Top principal component by power iteration — the PCA/whitening
    * sequel to [[covariance]] (the corpus-level direction a curation
    * pipeline inspects for dominant-axis artifacts, and the first
    * step of an OPQ-style rotation). The d×d covariance collapses
    * distributed, collects driver-side (d² doubles — the codebook-
    * bounded materialization contract), and `nIter` rounds of
    * `x ← r3(A·x) / ‖·‖` run on the driver with every component
    * rounded per round, so the trajectory — and the sign convention,
    * fixed by the e₁ start — is engine-reproducible; the oracle
    * unrolls the same iterations as chained CTEs. The corpus-facing
    * projection `pc1 = r3(⟨v, pc⟩)` is a ZERO-exchange map with the
    * eigenvector riding as an array literal.
    */
  def pcaPower(embeddings: DataFrame, nIter: Int = 5, nOut: Int = 100,
               dim: Int = DIM): DataFrame = {
    val pc = pcaComponents(embeddings, 1, nIter, dim).head
    val pcLit = pc.mkString("array(", "D, ", "D)")
    VectorExprs.register(embeddings.sparkSession)
    embeddings.where(col("vec_id") < nOut && col("embedding").isNotNull)
      .select(col("vec_id"), r3(expr(s"graft_vec_dot(embedding, $pcLit)")).as("pc1"))
  }

  /** Top-`p` principal components by DEFLATED power iteration — the
    * multi-component sequel to [[pcaPower]] (whose p = 1 case this
    * reproduces step-for-step): for each component, `nIter` rounds of
    * `x ← r3(A_c·x)/‖·‖` from the start axis e_{c−1}, then Hotelling
    * deflation `A_{c+1} = r3(A_c − λ_c v_c v_cᵀ)` with the Rayleigh
    * value `λ_c = r3(v_cᵀ·r3(A_c v_c))`. Every element is rounded r3
    * at every step, so the whole trajectory — matrices included — is
    * engine-reproducible and the oracle unrolls it as chained
    * (materialized) CTEs. Driver-side d×d state is the codebook-
    * bounded materialization contract; the corpus is touched only by
    * the one distributed [[covariance]] pass.
    */
  def pcaComponents(embeddings: DataFrame, p: Int, nIter: Int = 5,
                    dim: Int = DIM): Array[Array[Double]] =
    memoized(embeddings, s"pca:$p:$nIter:$dim") {
    require(p >= 1 && p <= dim, s"pcaComponents: need 1 <= p <= $dim, got $p")
    val cov = covariance(embeddings, dim).collect()
    val a = Array.ofDim[Double](dim, dim)
    cov.foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      val c = r.getDouble(2)
      a(i)(j) = c; a(j)(i) = c
    }
    val comps = Array.ofDim[Array[Double]](p)
    for (c <- 0 until p) {
      var x = Array.tabulate(dim)(d => if (d == c) 1.0 else 0.0)
      for (_ <- 1 to nIter) {
        val y = Array.tabulate(dim) { i =>
          var s = 0.0; var j = 0
          while (j < dim) { s += a(i)(j) * x(j); j += 1 }
          r3d(s)
        }
        var n2 = 0.0; var i = 0
        while (i < dim) { n2 += y(i) * y(i); i += 1 }
        val nrm = r3d(math.sqrt(n2))
        require(nrm > 0.0,
          s"pcaComponents: component ${c + 1} collapsed to zero — deflated " +
            "spectrum exhausted before p components")
        x = y.map(v => r3d(v / nrm))
      }
      comps(c) = x
      if (c < p - 1) {
        val z = Array.tabulate(dim) { i =>
          var s = 0.0; var j = 0
          while (j < dim) { s += a(i)(j) * x(j); j += 1 }
          r3d(s)
        }
        var s = 0.0; var i = 0
        while (i < dim) { s += x(i) * z(i); i += 1 }
        val lam = r3d(s)
        var ii = 0
        while (ii < dim) {
          var jj = 0
          while (jj < dim) {
            a(ii)(jj) = r3d(a(ii)(jj) - lam * x(ii) * x(jj))
            jj += 1
          }
          ii += 1
        }
      }
    }
    comps
  }

  /** Corpus projections onto the top-`p` deflated components, long
    * format (vec_id, c, proj) — [[pcaPower]]'s gate shape widened to
    * the learned basis. The p eigenvectors ride as array literals; the
    * projection is a zero-exchange map (one [[graft.functions.VecDot]]
    * per component).
    */
  def pcaPowerMulti(embeddings: DataFrame, p: Int, nIter: Int = 5,
                    nOut: Int = 100, dim: Int = DIM): DataFrame = {
    val comps = pcaComponents(embeddings, p, nIter, dim)
    VectorExprs.register(embeddings.sparkSession)
    val projs = comps.zipWithIndex.map { case (v, c) =>
      val lit = v.mkString("array(", "D, ", "D)")
      expr(s"named_struct('c', ${c + 1}L, 'proj', " +
        s"floor(graft_vec_dot(embedding, $lit) * 1000.0D + 0.5001D) / 1000.0D)")
    }
    embeddings.where(col("vec_id") < nOut && col("embedding").isNotNull)
      .select(col("vec_id"), explode(array(projs: _*)).as("t"))
      .select(col("vec_id"), col("t.c").as("c"), col("t.proj").as("proj"))
  }

  /** Householder directions of the LEARNED rotation (the real OPQ
    * move, Ge et al. 2013 §"non-parametric" simplified): map component
    * c onto target axis t_c = ((c−1) mod m)·(d/m) + (c−1) div m — the
    * round-robin assignment that lands each leading variance direction
    * in a DIFFERENT PQ subspace, so the m codebooks share the signal
    * instead of one subspace carrying it all (the failure mode
    * RotatedPqSpec constructs). Classic Householder-QR chain: u_c
    * reflects the (previous-reflections image of) component c onto
    * e_{t_c}; each intermediate is r3-rounded so the construction is
    * engine-reproducible (the oracle re-derives the same u's from the
    * same CTE-trained components).
    */
  def trainedRotationUs(embeddings: DataFrame, p: Int, m: Int,
                        nIter: Int = 5, dim: Int = DIM): Array[Array[Double]] =
    memoized(embeddings, s"opq:$p:$m:$nIter:$dim") {
    require(dim % m == 0, s"trainedRotationUs: m=$m must divide dim=$dim")
    val comps = pcaComponents(embeddings, p, nIter, dim)
    val us = Array.ofDim[Array[Double]](p)
    for (c <- 0 until p) {
      var w = comps(c).clone()
      for (j <- 0 until c) {
        var dr = 0.0; var i = 0
        while (i < dim) { dr += us(j)(i) * w(i); i += 1 }
        val drR = r3d(dr)
        w = Array.tabulate(dim)(i => r3d(w(i) - 2.0 * us(j)(i) * drR))
      }
      val t = (c % m) * (dim / m) + c / m
      val diff = w.clone()
      diff(t) -= 1.0
      var n2 = 0.0; var i = 0
      while (i < dim) { n2 += diff(i) * diff(i); i += 1 }
      val nrm = r3d(math.sqrt(n2))
      // component already ON its target axis: the Householder step is
      // the identity — record u = 0 (H = I − 2·0·0ᵀ = I) instead of
      // aborting; axis-aligned corpora are legitimate OPQ input
      us(c) = if (nrm == 0.0) Array.fill(dim)(0.0)
              else diff.map(v => r3d(v / nrm))
    }
    us
  }

  /** Apply a CHAIN of Householder reflections to the corpus — the
    * learned-rotation generalization of [[rotateEmbeddings]], as ONE
    * zero-exchange [[graft.functions.HouseholderChain]] projection
    * (chained per-step `transform` selects are a trap: Catalyst's
    * project collapse inlines each step's dr into every element of
    * the next, and interpreted cost explodes as dim^p — measured >25
    * min on 5k rows at p = 4; the native loop is O(p·dim)/row).
    */
  def rotateEmbeddingsBy(embeddings: DataFrame, us: Array[Array[Double]]): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val enc = graft.functions.HouseholderChain.encode(us)
    embeddings.select(col("vec_id"),
      expr(s"graft_householder_chain(embedding, '$enc')").as("embedding"))
  }

  /** PQ over the LEARNED-rotation corpus — [[annPqRotated]] with the
    * trained Householder chain in place of the random direction.
    */
  def annPqRotatedTrained(embeddings: DataFrame, nCodewords: Int, m: Int,
                          nQueries: Int, k: Int, p: Int = 4,
                          dim: Int = DIM): DataFrame =
    annPqTopK(rotateEmbeddingsBy(embeddings,
      trainedRotationUs(embeddings, p, m, dim = dim)), nCodewords, m,
      nQueries, k)

  /** Recall@k of the trained-rotation PQ tier vs the ORIGINAL-space
    * exact top-k — published NEXT TO [[annPqRecall]] (28e) and
    * [[annPqRotatedRecall]] (28z) at the identical codebook budget;
    * RotatedPqSpec's clustered regime pins trained ≥ random.
    */
  def annPqRotatedTrainedRecall(embeddings: DataFrame, nCodewords: Int, m: Int,
                                nQueries: Int, k: Int, p: Int = 4,
                                dim: Int = DIM): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annPqRotatedTrained(embeddings, nCodewords, m, nQueries, k, p, dim))

  /** OPQ-IVFADC composed: [[annIvfPqTopKTrained]] with EVERY stage
    * (centroid training, PQ book training, assignment, query
    * encoding) run over the learned-rotation corpus — the full FAISS
    * `OPQ{m},IVF{n},PQ{m}` factory string (Ge et al. 2013 OPQ over
    * Jégou et al. 2011 IVFADC) as one Spark plan. The rotation is a
    * zero-exchange [[graft.functions.HouseholderChain]] projection,
    * so composing it adds NO shuffle to the IVF+PQ chain — the
    * encode-side cost is O(p·dim) per row inside the same scan.
    */
  def annIvfPqRotatedTrained(embeddings: DataFrame, nCentroids: Int,
                             nCodewords: Int, m: Int, kmIter: Int,
                             nQueries: Int, k: Int, p: Int = 4,
                             dim: Int = DIM): DataFrame =
    annIvfPqTopKTrained(
      rotateEmbeddingsBy(embeddings, trainedRotationUs(embeddings, p, m, dim = dim)),
      nCentroids, nCodewords, m, kmIter, nQueries, k)

  /** Recall@k of the composed OPQ-IVFADC tier vs the ORIGINAL-space
    * exact cosine top-k — published NEXT TO [[annIvfPqRecall]] (the
    * unrotated composition) at the identical budget, so the rotation's
    * effect on the cell-pruning × code-compression product reads
    * directly off the pair.
    */
  def annIvfPqRotatedTrainedRecall(embeddings: DataFrame, nCentroids: Int,
                                   nCodewords: Int, m: Int, kmIter: Int,
                                   nQueries: Int, k: Int, p: Int = 4,
                                   dim: Int = DIM): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annIvfPqRotatedTrained(embeddings, nCentroids, nCodewords, m,
        kmIter, nQueries, k, p, dim))

  /** Deterministic Householder direction for [[rotateEmbeddings]]:
    * u = normalize(md5-derived pseudo-uniform in [−0.5, 0.5)) — a
    * fixed public constant, computed identically by the Spark side
    * and the oracle generator and embedded as full-precision literals
    * (Double.toString round-trips bit-exact), so the reflection
    * matrix is identical by construction on both sides.
    */
  def householderU(dim: Int = DIM): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = Array.tabulate(dim) { d =>
      val h = md.digest(s"graft_rot_$d".getBytes("UTF-8"))
      val x = (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)).toDouble / (1L << 32).toDouble
      x - 0.5
    }
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(_ / n)
  }

  /** Householder rotation of the embedding corpus: `Rx = x − 2u(uᵀx)`
    * with the fixed unit direction [[householderU]] — an ORTHOGONAL
    * map, so L2/cosine geometry is exactly preserved while variance
    * REDISTRIBUTES across dimensions. This is the OPQ insight (Ge et
    * al. 2013) in its cheapest form: product quantization splits the
    * space into fixed subspaces, and when variance concentrates in
    * few dimensions some subspaces carry all the signal while others
    * waste their codewords; a rotation balances them at ZERO metric
    * cost. Components are rounded r3 after the reflection (the
    * corpus-wide determinism convention); uᵀx is rounded before reuse.
    *
    * Scale plan: a pure zero-exchange projection — u rides as an
    * array literal, the dot is one codegen'd [[graft.functions.VecDot]]
    * pass, the reflected components a `transform`.
    */
  def rotateEmbeddings(embeddings: DataFrame, dim: Int = DIM): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val u = householderU(dim)
    val uLit = u.mkString("array(", "D, ", "D)")
    embeddings
      .select(col("vec_id"), col("embedding"),
        r3(expr(s"graft_vec_dot(embedding, $uLit)")).as("dr"))
      .select(col("vec_id"),
        when(col("embedding").isNotNull, expr(
          s"""transform(sequence(0, ${dim - 1}), i ->
             |  floor((cast(element_at(embedding, i + 1) as double)
             |         - 2.0D * element_at($uLit, i + 1) * dr) * 1000.0D + 0.5001D)
             |  / 1000.0D)""".stripMargin)).as("embedding"))
  }

  /** PQ over the ROTATED corpus — codebook, codes and ADC tables all
    * live in rotated space (where the metric is identical, because
    * the rotation is orthogonal), searching for the SAME neighbors as
    * [[annPqTopK]] with a differently-balanced codebook budget.
    */
  def annPqRotated(embeddings: DataFrame, nCodewords: Int, m: Int,
                   nQueries: Int, k: Int, dim: Int = DIM): DataFrame =
    annPqTopK(rotateEmbeddings(embeddings, dim), nCodewords, m, nQueries, k)

  /** Recall@k of the rotated-PQ tier vs the ORIGINAL-space exact
    * top-k, published NEXT TO [[annPqRecall]] at the identical
    * codebook budget — the honest comparison is data-dependent: on a
    * subspace-balanced (near-isotropic) corpus the rotation changes
    * little; when variance concentrates in few dimensions it
    * recovers the recall plain PQ loses (RotatedPqSpec pins that
    * regime).
    */
  def annPqRotatedRecall(embeddings: DataFrame, nCodewords: Int, m: Int,
                         nQueries: Int, k: Int, dim: Int = DIM): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annPqRotated(embeddings, nCodewords, m, nQueries, k, dim))

  /** Mean codebook distortion avg(1 − rounded cos(v, assigned
    * centroid)) — the quality number a training loop watches; Lloyd
    * descends it (HardeningSpec pins trained < seed on the test
    * corpus). Assignment is the usual zero-exchange projection; the
    * k-row centroid table rides as a broadcast for the cosine lookup.
    */
  def kmeansInertia(embeddings: DataFrame,
                    cents: Array[(Long, Array[Double])]): Double = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    import spark.implicits._
    val enc = graft.functions.IvfCell.encode(cents.map(_._1), cents.map(_._2))
    val cdf = broadcast(cents.toSeq.toDF("cell", "cv"))
    prepared(embeddings).where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
      .join(cdf, Seq("cell"))
      .select((lit(1.0) - r3(expr("graft_vec_dot(v, cv)") /
        (col("norm") * sqrt(expr("graft_vec_dot(cv, cv)"))))).as("dist"))
      .agg(avg(col("dist"))).head().getDouble(0)
  }

  /** [[annIvfTopK]] with a TRAINED coarse quantizer: `kmIter` Lloyd
    * rounds over the corpus replace the first-N-vectors convention —
    * the production IVF recipe end-to-end (train → assign → search),
    * proving the fit stage composes with the search stack unchanged.
    */
  def annIvfTopKTrained(embeddings: DataFrame, nCentroids: Int, kmIter: Int,
                        nQueries: Int, k: Int): DataFrame = {
    val cents = kmeansCentroids(embeddings, nCentroids, kmIter)
    annIvfWithQuantizer(embeddings,
      graft.functions.IvfCell.encode(cents.map(_._1), cents.map(_._2)), nQueries, k)
  }

  /** Multi-probe IVF ANN: like [[annIvfTopK]] but each query searches
    * its `nprobe` nearest cells ([[graft.functions.IvfCells]] on the
    * broadcast-sized query side) — the standard IVF recall knob,
    * trading a linear `nprobe`× search-cost factor for recall. Corpus
    * rows keep their single top-1 cell, and a query's probed cells are
    * distinct, so no (qid, vid) pair is generated twice. Same scale
    * shape as [[annIvfTopK]]: map-only assignment, broadcast bucket
    * join, two-phase salted top-k.
    */
  def annIvfTopKProbe(embeddings: DataFrame, nCentroids: Int, nQueries: Int,
                      k: Int, nprobe: Int): DataFrame = {
    VectorExprs.register(embeddings.sparkSession)
    val enc = quantizer(embeddings, nCentroids)
    val assigned = prepared(embeddings)
      .where(col("v").isNotNull)
      .withColumn("cell", expr(s"coalesce(graft_ivf_cell(v, '$enc'), -1L)"))
    val q = prepared(embeddings)
      .where(col("v").isNotNull && col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"),
        explode(expr(s"graft_ivf_cells(v, '$enc', $nprobe)")).as("cell"))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"), pairCos().as("cos"))
    saltedTopK(scored, "cos", ascending = false, k)
  }

  /** PQ (product-quantization) ANN: the compressed-domain tier. The
    * corpus is encoded to `m` codeword ids per vector (codebook = the
    * first `nCodewords` vectors' sub-slices, the [[annIvfTopK]]
    * quantizer convention — real k-means codebooks also live
    * driver-side); search is ADC (asymmetric distance computation):
    * each query precomputes a distance table d²(q_sub, codeword) per
    * subspace, and a vector's approximate distance is the sum of `m`
    * table lookups — the corpus' raw vectors are never read at query
    * time, only the (m·log₂ k)-bit codes. FAISS-IndexPQ semantics;
    * output ranks ASCENDING approximate distance.
    *
    * Scale shape: encoding is a ZERO-exchange projection (the codebook
    * rides inside the native [[graft.functions.PqCodes]] expression,
    * which rounds each subspace d² before its argmin so codes are
    * bit-identical in any engine); the query distance tables are
    * driver-computed (nQueries·m·k doubles — broadcast-class) and
    * joined to the exploded codes map-side. The per-(qid, vid) ADC
    * sum's rows are map-local (one corpus row → its m code rows), so
    * the partial agg emits ONE compact row per scored pair; the
    * exchange carries corpus×queries scalars into the same two-phase
    * salted rank as every other ANN tier. PQ alone is a full-scan
    * compression scheme by design — at extreme scale it composes with
    * IVF pruning (encode only the probed cells' candidates), which is
    * exactly how FAISS IVFPQ does it.
    */
  def annPqTopK(embeddings: DataFrame, nCodewords: Int, m: Int,
                nQueries: Int, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    // ONE collect covers both the codebook and the query vectors
    val head = headVectors(embeddings, math.max(nCodewords, nQueries))
    val (enc, cids, books, subDim) = pqBooks(head.filter(_._1 < nCodewords), m)
    val dt = pqDistTable(spark, head.filter(_._1 < nQueries), cids, books, subDim)
    val codes = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"), expr(s"graft_pq_codes(embedding, '$enc')").as("codes"))
    val scored = codes
      .select(col("vec_id").as("vid"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(dt), Seq("s", "code"))
      .where(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("d2"))).as("adist"))
    saltedTopK(scored, "adist", ascending = true, k)
  }

  /** IVF + PQ composed — the FAISS-IVFPQ shape and the one that
    * actually runs at extreme scale: the IVF coarse quantizer prunes
    * candidates to the query's cell, and within the cell vectors are
    * scored by PQ/ADC (m table lookups per pair, raw vectors never
    * read at query time). Both assignments happen in ONE zero-exchange
    * projection over the scan (native [[graft.functions.IvfCell]] +
    * [[graft.functions.PqCodes]] side by side); candidates then flow
    * through the same broadcast cell join and map-local ADC sum as
    * [[annIvfTopK]] / [[annPqTopK]]. Output ranks ASCENDING
    * approximate distance within each query's cell.
    */
  def annIvfPqTopK(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                   m: Int, nQueries: Int, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    // ONE collect covers quantizer centroids, PQ codebook AND queries
    val head = headVectors(embeddings,
      math.max(nCentroids, math.max(nCodewords, nQueries)))
    val ivfCents = head.filter(_._1 < nCentroids)
    val encIvf = graft.functions.IvfCell.encode(ivfCents.map(_._1), ivfCents.map(_._2))
    val (encPq, cids, books, subDim) = pqBooks(head.filter(_._1 < nCodewords), m)
    val dt = pqDistTable(spark, head.filter(_._1 < nQueries), cids, books, subDim)
    annIvfPqCore(embeddings, encIvf, encPq, dt, k,
      assigned => assigned.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("cell")))
  }

  /** The IVF+PQ scoring core shared by the plain / multi-probe /
    * fully-trained tiers: ONE zero-exchange projection assigns BOTH
    * the cell and the codes; candidates flow through the broadcast
    * cell join, the map-local ADC sum, and the salted ascending rank.
    * `qcellsOf` builds the (qid, cell) probe side from the assigned
    * frame — top-1 cells for the plain/trained tiers, exploded nprobe
    * cells for the probe tier.
    */
  private def annIvfPqCore(embeddings: DataFrame, encIvf: String, encPq: String,
                           dt: DataFrame, k: Int,
                           qcellsOf: DataFrame => DataFrame): DataFrame = {
    val assigned = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"),
        expr(s"graft_pq_codes(embedding, '$encPq')").as("codes"))
    val scored = assigned
      .select(col("vec_id").as("vid"), col("cell"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(qcellsOf(assigned)), Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .join(broadcast(dt), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("d2"))).as("adist"))
    saltedTopK(scored, "adist", ascending = true, k)
  }

  /** One per-subspace Lloyd round for the PQ codebook (the FAISS
    * IndexPQ `train()` recipe — k-means per subspace under squared
    * L2): assignment = the zero-exchange [[graft.functions.PqCodes]]
    * rounded-d² argmin projection, ALL `m` subspaces in one pass over
    * the scan; update = one map-side-combined groupBy mean over
    * (subspace, codeword, sub-dimension) — the exchange carries
    * ≤ m·k·subDim·partitions partial rows. Codes are projected BELOW
    * the posexplode (the [[kmeansStep]] plan-audit lesson), so the
    * m·k·subDim argmin runs once per VECTOR. Codewords that lose all
    * members drop from their subspace's book; means are ROUNDED so the
    * trajectory is engine-reproducible.
    */
  private def pqKmeansStep(embeddings: DataFrame, cids: Array[Array[Long]],
                           books: Array[Array[Array[Double]]])
      : (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val enc = graft.functions.PqCodes.encode(cids, books)
    val m = books.length
    val subDim = books(0)(0).length
    val rows = embeddings.where(col("embedding").isNotNull)
      .select(col("embedding"), expr(s"graft_pq_codes(embedding, '$enc')").as("codes"))
      .select(col("codes"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(expr(s"d div $subDim").as("s"),
        expr(s"element_at(codes, cast(d div $subDim as int) + 1)").as("code"),
        (col("d") % subDim).as("sd"), col("x"))
      .groupBy(col("s"), col("code"), col("sd"))
      .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .collect()
    val outC = new Array[Array[Long]](m)
    val outB = new Array[Array[Array[Double]]](m)
    var s = 0
    while (s < m) {
      val byCode = rows.filter(_.getLong(0) == s).groupBy(_.getLong(1)).toArray.sortBy(_._1)
      outC(s) = byCode.map(_._1)
      outB(s) = byCode.map { case (_, rs) =>
        rs.sortBy(_.getAs[Number](2).intValue())
          .map(r => r3d(r.getDouble(3) / r.getLong(4)))
      }
      s += 1
    }
    (outC, outB)
  }

  /** PQ codebook trained by `nIter` per-subspace Lloyd rounds from the
    * first-`nCodewords` sub-slice seed — the trained counterpart of
    * [[pqBooks]]'s convention, completing the trained-quantizer story
    * for the compressed tier.
    */
  def pqTrainedBooks(embeddings: DataFrame, nCodewords: Int, m: Int, nIter: Int)
      : (Array[Array[Long]], Array[Array[Array[Double]]]) =
    memoized(embeddings, s"pqbooks:$nCodewords:$m:$nIter") {
      pqLloyd(embeddings, embeddings, nCodewords, m, nIter)
    }

  /** Seed each subspace's book from the full corpus' first-`nCodewords`
    * sub-slices, then `nIter` [[pqKmeansStep]] rounds where only
    * `sample` votes — the full and sampled PQ fits.
    */
  private def pqLloyd(sample: DataFrame, embeddings: DataFrame, nCodewords: Int,
                      m: Int, nIter: Int): (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    VectorExprs.register(embeddings.sparkSession)
    val (_, cids, books, _) = pqBooks(headVectors(embeddings, nCodewords), m)
    (1 to nIter).foldLeft((cids, books)) { case ((c, b), _) => pqKmeansStep(sample, c, b) }
  }

  /** [[pqTrainedBooks]] on the deterministic md5-PRNG sample (`keep` of
    * `nBuckets` buckets) — the same FAISS sampling discipline as
    * [[kmeansCentroidsSampled]] applied to the per-subspace Lloyd
    * rounds: only sampled vectors vote in the codeword updates, so the
    * PQ fit cost is bounded by the sample size at any corpus size.
    * Seeds stay the full corpus' first-`nCodewords` sub-slices.
    */
  def pqTrainedBooksSampled(embeddings: DataFrame, nCodewords: Int, m: Int,
                            nIter: Int, keep: Int, nBuckets: Int)
      : (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    require(keep >= 1 && keep <= nBuckets,
      s"pqTrainedBooksSampled: keep=$keep must be in [1, $nBuckets]")
    pqLloyd(embeddings.where(sampleBucket(nBuckets) < keep), embeddings, nCodewords, m, nIter)
  }

  /** The `pq_fit` gate surface (mirrors [[kmeansFit]]): `nIter − 1`
    * driver rounds, then the final round distributed — per surviving
    * (subspace, codeword): member count and the position-weighted
    * checksum Σ (j+1)·w_j of the updated (rounded) codeword.
    */
  def pqFit(embeddings: DataFrame, nCodewords: Int, m: Int, nIter: Int): DataFrame = {
    require(nIter >= 1, s"pqFit: nIter must be >= 1, got $nIter")
    val (cids, books) = pqTrainedBooks(embeddings, nCodewords, m, nIter - 1)
    val subDim = books(0)(0).length
    val enc = graft.functions.PqCodes.encode(cids, books)
    embeddings.where(col("embedding").isNotNull)
      .select(col("embedding"), expr(s"graft_pq_codes(embedding, '$enc')").as("codes"))
      .select(col("codes"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(expr(s"d div $subDim").as("s"),
        expr(s"element_at(codes, cast(d div $subDim as int) + 1)").as("code"),
        (col("d") % subDim).as("sd"), col("x"))
      .groupBy(col("s"), col("code"), col("sd"))
      .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .select(col("s"), col("code"), col("sd"), col("n"), r3(col("sx") / col("n")).as("cd"))
      .groupBy(col("s"), col("code"))
      .agg(max(col("n")).as("n"),
        r3(sum((col("sd") + 1) * col("cd"))).as("checksum"))
  }

  /** PQ/ADC search against an explicit (cids, books) codebook — the
    * shared core of the trained tier. Same shape as [[annPqTopK]]:
    * zero-exchange encoding, driver-computed broadcast distance
    * tables, map-local ADC sum, salted ascending rank.
    */
  private def annPqWith(embeddings: DataFrame, cids: Array[Array[Long]],
                        books: Array[Array[Array[Double]]], subDim: Int,
                        nQueries: Int, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val enc = graft.functions.PqCodes.encode(cids, books)
    val dt = pqDistTable(spark,
      headVectors(embeddings, nQueries),
      cids, books, subDim)
    val codes = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"), expr(s"graft_pq_codes(embedding, '$enc')").as("codes"))
    val scored = codes
      .select(col("vec_id").as("vid"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(dt), Seq("s", "code"))
      .where(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("d2"))).as("adist"))
    saltedTopK(scored, "adist", ascending = true, k)
  }

  /** [[annPqTopK]] with a TRAINED codebook: `kmIter` per-subspace
    * Lloyd rounds replace the first-N sub-slice convention — the
    * production PQ recipe end-to-end (train → encode → ADC search).
    */
  def annPqTopKTrained(embeddings: DataFrame, nCodewords: Int, m: Int,
                       kmIter: Int, nQueries: Int, k: Int): DataFrame = {
    val (cids, books) = pqTrainedBooks(embeddings, nCodewords, m, kmIter)
    annPqWith(embeddings, cids, books, books(0)(0).length, nQueries, k)
  }

  /** Recall@k of the LSH ANN against the exact top-k, per query —
    * the self-evaluation loop a production ANN deployment runs when
    * tuning nPlanes (left join so queries with zero bucket-mates
    * still report recall 0).
    */
  def annRecall(embeddings: DataFrame, nPlanes: Int, nQueries: Int, k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annLshTopK(embeddings, nPlanes, nQueries, k))

  /** Recall@k of the PQ tier against the exact top-k — the accuracy
    * side of the compression trade the PQ deployment loop tunes
    * (m / codebook size vs recall), mirroring [[annRecall]] for the
    * LSH tier.
    */
  def annPqRecall(embeddings: DataFrame, nCodewords: Int, m: Int,
                  nQueries: Int, k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annPqTopK(embeddings, nCodewords, m, nQueries, k))

  /** Multi-probe IVF+PQ: [[annIvfPqTopK]] with the query side probing
    * its `nprobe` nearest cells ([[graft.functions.IvfCells]] on the
    * broadcast-sized side, as in [[annIvfTopKProbe]]) — the recall
    * knob of the composed tier, exactly how a production FAISS IVFPQ
    * deployment trades search cost for recall. Corpus rows keep their
    * top-1 cell, probed cells are distinct → no pair scored twice.
    */
  def annIvfPqTopKProbe(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                        m: Int, nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    val head = headVectors(embeddings,
      math.max(nCentroids, math.max(nCodewords, nQueries)))
    val ivfCents = head.filter(_._1 < nCentroids)
    val encIvf = graft.functions.IvfCell.encode(ivfCents.map(_._1), ivfCents.map(_._2))
    val (encPq, cids, books, subDim) = pqBooks(head.filter(_._1 < nCodewords), m)
    val dt = pqDistTable(spark, head.filter(_._1 < nQueries), cids, books, subDim)
    annIvfPqCore(embeddings, encIvf, encPq, dt, k,
      _ => embeddings.where(col("embedding").isNotNull && col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"),
          explode(expr(s"graft_ivf_cells(embedding, '$encIvf', $nprobe)")).as("cell")))
  }

  /** Fully-TRAINED IVF+PQ: both quantizers learned — `kmIter` Lloyd
    * rounds for the coarse cells ([[kmeansCentroids]]) and per-subspace
    * rounds for the codebook ([[pqTrainedBooks]]) — the complete FAISS
    * IVFPQ production recipe (train coarse → train PQ → assign both →
    * ADC search in the probed cell).
    */
  def annIvfPqTopKTrained(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                          m: Int, kmIter: Int, nQueries: Int, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    val cents = kmeansCentroids(embeddings, nCentroids, kmIter)
    val encIvf = graft.functions.IvfCell.encode(cents.map(_._1), cents.map(_._2))
    val (cids, books) = pqTrainedBooks(embeddings, nCodewords, m, kmIter)
    val subDim = books(0)(0).length
    val encPq = graft.functions.PqCodes.encode(cids, books)
    val dt = pqDistTable(spark, headVectors(embeddings, nQueries), cids, books, subDim)
    annIvfPqCore(embeddings, encIvf, encPq, dt, k,
      assigned => assigned.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("cell")))
  }

  /** Recall@k of the COMPOSED IVF+PQ tier against the exact top-k —
    * the number a production tuner actually watches (cell pruning and
    * code compression both cost recall; this measures their product,
    * where [[annPqRecall]] isolates the PQ term alone).
    */
  def annIvfPqRecall(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                     m: Int, nQueries: Int, k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annIvfPqTopK(embeddings, nCentroids, nCodewords, m, nQueries, k))

  /** The nprobe TUNING TABLE: recall@k of the multi-probe IVF tier at
    * each candidate `nprobe`, in one frame — the curve an operator
    * reads before fixing the production probe width (FAISS's
    * `nprobe` sweep; recall is monotone in nprobe, cost is linear in
    * it, and the knee of THIS corpus's curve is the answer). The
    * exact top-k computes ONCE (eager checkpoint) and every branch
    * left-joins it; each branch is the standalone probe tier's plan
    * verbatim, unioned with its nprobe literal.
    */
  def annIvfProbeSweep(embeddings: DataFrame, nCentroids: Int, nQueries: Int,
                       k: Int, probes: Seq[Int],
                       pqCodewords: Int = 0, pqM: Int = 0): DataFrame = {
    require(probes.nonEmpty, "annIvfProbeSweep: need at least one nprobe")
    val exact = cosineTopK(embeddings, nQueries, k)
      .select(col("qid"), col("vid")).localCheckpoint()
    def branch(tier: String, p: Int, approx: DataFrame): DataFrame =
      recallAt(exact, approx, lit(tier).as("tier"), lit(p.toLong).as("nprobe"))
    val ivf = probes.map(p => branch("ivf", p,
      annIvfTopKProbe(embeddings, nCentroids, nQueries, k, p)))
    val pq = if (pqCodewords > 0) probes.map(p => branch("ivfpq", p,
      annIvfPqTopKProbe(embeddings, nCentroids, pqCodewords, pqM, nQueries, k, p)))
    else Nil
    (ivf ++ pq).reduce(_ unionByName _)
  }

  /** TWO-STAGE IVFPQ serving (the production vector-search default —
    * FAISS's `IndexRefine` / every "retrieve coarse, re-rank exact"
    * stack): stage 1 takes the top-`shortlist` candidates by ADC
    * distance from [[annIvfPqTopK]]; stage 2 re-scores ONLY those
    * candidates with the exact rounded cosine and keeps the top-k.
    * Re-ranking removes the quantization error inside the shortlist
    * (the ADC ordering noise), so recall@k approaches the cell-recall
    * ceiling — what the shortlist's cells contain — at the cost of
    * `nQueries·shortlist` exact dot products instead of zero.
    *
    * Scale plan: the corpus-volume work stays in stage 1's ADC core;
    * the shortlist (bounded `nQueries·shortlist` rows) BROADCASTS back
    * onto the embedding scan, so stage 2 adds no corpus shuffle — one
    * extra scan, one tiny-frame window.
    */
  def annIvfPqRerank(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                     m: Int, nQueries: Int, shortlist: Int, k: Int): DataFrame = {
    require(k <= shortlist,
      s"annIvfPqRerank: k=$k must be <= shortlist=$shortlist")
    val sl = annIvfPqTopK(embeddings, nCentroids, nCodewords, m, nQueries, shortlist)
      .select(col("qid"), col("vid"))
    val e = prepared(embeddings)
    val q = prepared(embeddings).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("sqid"), col("v").as("qv"), col("norm").as("qnorm"))
    e.join(broadcast(sl), col("vec_id") === col("vid"))
      .join(broadcast(q), col("qid") === col("sqid"))
      .select(col("qid"), col("vid"), pairCos().as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid")))
        .cast("long"))
      .where(col("rank") <= k)
  }

  /** Recall@k of the re-ranked tier vs the exact cosine top-k — the
    * honest measurement that the rerank claim (ADC ordering noise
    * removed, recall ≈ the shortlist's cell-recall ceiling) holds on
    * THIS corpus, published next to [[annIvfPqRecall]] so the lift is
    * a table diff.
    */
  def annIvfPqRerankRecall(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                           m: Int, nQueries: Int, shortlist: Int, k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annIvfPqRerank(embeddings, nCentroids, nCodewords, m,
        nQueries, shortlist, k))

  /** Matryoshka two-stage search (Kusupati et al. 2022's MRL serving
    * pattern): stage 1 shortlists by cosine over only the FIRST
    * `pDims` dimensions — an MRL-trained embedding front-loads
    * information, so the prefix is a cheap coarse scorer with no
    * codebook to train (the operational edge over PQ/SQ: truncation
    * IS the quantizer) — and stage 2 re-scores the shortlist with the
    * exact full-dim cosine and keeps the top-k. The prefix cosine
    * reads pDims/DIM of the bytes, so stage 1's scan cost drops
    * proportionally on a columnar store that prunes the tail.
    *
    * Scale plan: identical to [[annIvfPqRerank]] — corpus-volume work
    * is stage 1's truncated scan (salted two-phase top-k, no global
    * sort); the shortlist broadcasts back onto one full-dim scan, so
    * stage 2 adds no corpus shuffle.
    */
  def annMatryoshka(embeddings: DataFrame, pDims: Int, nQueries: Int,
                    shortlist: Int, k: Int): DataFrame = {
    require(k <= shortlist, s"annMatryoshka: k=$k must be <= shortlist=$shortlist")
    require(pDims >= 1 && pDims <= DIM,
      s"annMatryoshka: pDims must be in [1, $DIM], got $pDims")
    VectorExprs.register(embeddings.sparkSession)
    val t = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"), expr(s"slice(embedding, 1, $pDims)").as("tv"))
      .withColumn("tnorm", sqrt(expr("graft_vec_dot(tv, tv)")))
    val tq = t.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("tv").as("tqv"), col("tnorm").as("tqnorm"))
    val sl = saltedTopK(
      t.join(broadcast(tq), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          r3(expr("graft_vec_dot(tv, tqv)") / (col("tnorm") * col("tqnorm"))).as("tcos")),
      "tcos", ascending = false, shortlist)
      .select(col("qid"), col("vid"))
    val e = prepared(embeddings)
    val q = prepared(embeddings).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("sqid"), col("v").as("qv"), col("norm").as("qnorm"))
    e.join(broadcast(sl), col("vec_id") === col("vid"))
      .join(broadcast(q), col("qid") === col("sqid"))
      .select(col("qid"), col("vid"), pairCos().as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid")))
        .cast("long"))
      .where(col("rank") <= k)
  }

  /** Recall@k of the Matryoshka tier vs exact full-dim top-k —
    * published next to the PQ/SQ recalls so the prefix-quality claim
    * is a table diff (an untrained random embedding spreads
    * information uniformly, so expect recall ≈ the pDims/DIM
    * information fraction, NOT the near-1.0 an MRL-trained model
    * gives — the gate records the honest number for THIS corpus).
    */
  def annMatryoshkaRecall(embeddings: DataFrame, pDims: Int, nQueries: Int,
                          shortlist: Int, k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annMatryoshka(embeddings, pDims, nQueries, shortlist, k))

  // ------------------------------------------------------------------
  // SQ8 scalar quantization: per-dim affine uint8 codes
  // ------------------------------------------------------------------

  /** Array-of-doubles SQL literal — Double.toString round-trips
    * exactly (the LSH hyperplane precedent), so the same 64 values are
    * bit-identical literals in any engine.
    */
  private def dArr(xs: Array[Double]): String =
    xs.map(x => s"${x}D").mkString("array(", ", ", ")")

  /** Per-dim affine SQ8 parameters from [[embeddingStats]]: (mins,
    * scales) with scale_d = 255/(max_d − min_d), or 0 for a degenerate
    * dimension (min = max → every code 0, reconstruction = min). The
    * stats' ROUNDED min/max are the shared ground truth — both engines
    * derive identical scales from them, so codes are bit-stable.
    */
  private def sqParams(embeddings: DataFrame): (Array[Double], Array[Double]) = {
    val rows = embeddingStats(embeddings)
      .select(col("d"), col("min_x"), col("max_x")).collect()
      .map(r => (r.getAs[Number](0).intValue(), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mins = rows.map(_._2)
    val scales = rows.map { case (_, mn, mx) => if (mx > mn) 255.0 / (mx - mn) else 0.0 }
    (mins, scales)
  }

  /** The SQ8 encode expression over a `vecCol` array column — shared
    * by [[sqEncoded]] and the stored index's sq column so the code
    * convention can never diverge.
    */
  private def sqEncodeSql(vecCol: String, mins: Array[Double],
                          scales: Array[Double]): String =
    s"""zip_with(
       |  zip_with($vecCol, ${dArr(mins)}, (x, mn) -> cast(x as double) - mn),
       |  ${dArr(scales)},
       |  (dd, s) -> cast(least(255.0D, greatest(0.0D, floor(dd * s + 0.5D))) as int))
       |""".stripMargin.replaceAll("\n", " ")

  /** The SQ8 decode (reconstruction) expression over a `codeCol`
    * array<int> column: x̂_d = min_d + code_d/scale_d (min alone for a
    * degenerate dimension) — exact IEEE ops on shared literals, so
    * reconstructions are bit-identical in any engine.
    */
  private def sqReconSql(codeCol: String, mins: Array[Double],
                         scales: Array[Double]): String =
    s"""zip_with(
       |  zip_with($codeCol, ${dArr(scales)},
       |    (c, s) -> CASE WHEN s = 0.0D THEN 0.0D ELSE cast(c as double) / s END),
       |  ${dArr(mins)},
       |  (q, mn) -> mn + q)
       |""".stripMargin.replaceAll("\n", " ")

  /** The SQ8 query term table (qid, d, code, rounded squared diff vs
    * the reconstruction) — ONE definition shared by every SQ scorer
    * ([[annSqTopK]] / [[annIvfSqTopK]] / [[annIvfSqAgainstIndex]]) so
    * the reconstruction arithmetic can never diverge between tiers
    * (it must also stay in lockstep with [[sqReconSql]] and the
    * oracle's `dt0` CTE).
    */
  private def sqDistTable(spark: org.apache.spark.sql.SparkSession,
                          qs: Array[(Long, Array[Double])],
                          mins: Array[Double], scales: Array[Double]): DataFrame = {
    import spark.implicits._
    (for {
      (qid, qv) <- qs.toSeq
      d <- mins.indices
      code <- 0 until 256
    } yield {
      val recon = mins(d) + (if (scales(d) == 0.0) 0.0 else code / scales(d))
      val diff = qv(d) - recon
      (qid, d, code, r3d(diff * diff))
    }).toDF("qid", "d", "code", "term")
  }

  /** SQ8 encoding — `(vec_id, codes array<int>[dim])` with code_d =
    * clamp(⌊(x_d − min_d)·scale_d + 0.5⌋, 0, 255): a ZERO-exchange
    * projection (the params ride as array literals inside nested
    * `zip_with`, the [[graft.functions.PqCodes]] discipline without a
    * new native expression — floor/least/greatest are exact IEEE ops,
    * so codes are bit-identical in any engine). 8 bits per dimension =
    * 4× compression over float32 — the FAISS SQ8 tier between raw
    * vectors and PQ's 2 bits/dim at the gate codebook.
    */
  def sqEncoded(embeddings: DataFrame): DataFrame = {
    val (mins, scales) = sqParams(embeddings)
    embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr(sqEncodeSql("embedding", mins, scales)).as("codes"))
  }

  /** SQ8 ANN: asymmetric search — the query stays full-precision, the
    * corpus is read ONLY as uint8 codes, distance = Σ_d (q_d −
    * reconstruct(code_d))². Same machinery as the PQ tier: a driver-
    * computed broadcast term table (qid, d, code, term) replaces the
    * per-pair arithmetic with dim lookups, the per-pair sum partial-
    * aggs map-locally, and the salted ascending rank caps every
    * reducer. Term-table footprint = nQueries·dim·256 doubles —
    * broadcast-class at embedding dims.
    */
  def annSqTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    import spark.implicits._
    val (mins, scales) = sqParams(embeddings)
    val qs = headVectors(embeddings, nQueries)
    val dt = sqDistTable(spark, qs, mins, scales)
    val scored = sqEncoded(embeddings)
      .select(col("vec_id").as("vid"), posexplode(col("codes")).as(Seq("d", "code")))
      .join(broadcast(dt), Seq("d", "code"))
      .where(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("term"))).as("adist"))
    saltedTopK(scored, "adist", ascending = true, k)
  }

  /** IVF + SQ8 composed — the FAISS IndexIVFScalarQuantizer shape:
    * the coarse quantizer prunes candidates to the query's cell, and
    * within the cell vectors are scored from their SQ8 codes (the
    * same asymmetric term-table lookup as [[annSqTopK]], raw vectors
    * never read at query time). The production sweet spot between
    * IVFPQ (4× smaller codes, lossier) and brute-force: near-exact
    * recall at 4× compression WITH cell pruning. ONE zero-exchange
    * projection assigns cell and codes; candidates flow through the
    * broadcast cell join, the map-local term sum, the salted
    * ascending rank.
    */
  def annIvfSqTopK(embeddings: DataFrame, nCentroids: Int,
                   nQueries: Int, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    import spark.implicits._
    val (mins, scales) = sqParams(embeddings)
    val ivfCents = headVectors(embeddings, nCentroids)
    require(ivfCents.nonEmpty,
      s"IVF+SQ: no non-null vectors with vec_id < $nCentroids for the quantizer")
    val encIvf = graft.functions.IvfCell.encode(ivfCents.map(_._1), ivfCents.map(_._2))
    val qs = headVectors(embeddings, nQueries)
    val dt = sqDistTable(spark, qs, mins, scales)
    val assigned = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"),
        expr(sqEncodeSql("embedding", mins, scales)).as("codes"))
    val qcells = broadcast(assigned.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("cell")))
    val scored = assigned
      .select(col("vec_id").as("vid"), col("cell"),
        posexplode(col("codes")).as(Seq("d", "code")))
      .join(qcells, Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .join(broadcast(dt), Seq("qid", "d", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("term"))).as("adist"))
    saltedTopK(scored, "adist", ascending = true, k)
  }

  /** Recall@k of the SQ8 tier vs exact — published next to the PQ
    * recalls: at 8 bits/dim vs PQ's fraction of a bit, SQ8 recall
    * should sit WELL above the PQ tiers' at gate scale (it keeps 256
    * levels per dimension; PQ keeps 16 codewords per 16-dim subspace).
    */
  def annSqRecall(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annSqTopK(embeddings, nQueries, k))

  // ------------------------------------------------------------------
  // Residual PQ (FAISS IVFPQ proper): codes encode v − centroid(cell)
  // ------------------------------------------------------------------

  /** Authoritative cell assignment of the first `n` vectors, computed
    * DISTRIBUTIVELY through the native [[graft.functions.IvfCell]]
    * argmax and collected (O(n) longs). The rounded-cosine/tie-break
    * logic lives in exactly ONE place — re-deriving it driver-side
    * would be a second implementation that could silently drift.
    */
  private def headCellsOf(embeddings: DataFrame, encIvf: String, n: Int): Map[Long, Long] =
    embeddings.where(col("vec_id") < n && col("embedding").isNotNull)
      .select(col("vec_id"), expr(s"graft_ivf_cell(embedding, '$encIvf')"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
      .toMap

  /** IVF+PQ with RESIDUAL encoding — the actual FAISS IVFPQ recipe:
    * PQ codes quantize r = v − centroid(cell), not v itself. Residuals
    * are centered near zero, so the same code budget spends its
    * codewords on the part of the vector the coarse quantizer did NOT
    * already explain — recall at identical (nCodewords, m) is the
    * point, measured by [[annIvfPqResidualRecall]] against the
    * raw-encoding tier's honest 0.2-0.4.
    *
    * Search stays ADC within the query's cell: query and candidate
    * share the cell, so both residuals are w.r.t. the SAME centroid and
    * ‖(q−c) − (v−c)‖ = ‖q − v‖ — the residual trick costs nothing in
    * the metric. The PQ codebook is seeded from the residuals of the
    * `nCodewords` vectors AFTER the centroid block (vec_id in
    * [nCentroids, nCentroids + nCodewords)) — the first-N convention
    * CANNOT seed residual space: vectors 0..nCentroids−1 are their own
    * nearest centroids, so their residuals are identically ZERO and the
    * codebook degenerates to one codeword (measured: recall collapsed
    * to 0.12 vs raw PQ's 0.44 before this shift). Query distance
    * tables come from the query's own-cell residual.
    *
    * Scale shape: cell assignment is the zero-exchange projection;
    * the residual subtraction rides a BROADCAST join with the k-row
    * centroid table (`zip_with` under the codes expression — still
    * scan → project, no shuffle); everything downstream is the
    * [[annIvfPqCore]] pipeline unchanged.
    */
  def annIvfPqResidualTopK(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                           m: Int, nQueries: Int, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    import spark.implicits._
    val head = headVectors(embeddings,
      math.max(nCentroids + nCodewords, nQueries))
    val ivfCents = head.filter(_._1 < nCentroids)
    require(ivfCents.nonEmpty,
      s"residual PQ: no non-null vectors with vec_id < $nCentroids for the quantizer")
    val encIvf = graft.functions.IvfCell.encode(ivfCents.map(_._1), ivfCents.map(_._2))
    val centOf = ivfCents.toMap
    // drop the -1 sentinel (a zero-norm head vector assigns no cell):
    // such an id simply doesn't seed/query, matching the corpus side
    // where cell -1 never survives the centroid join — without the
    // filter, centOf(-1) would kill the driver on a degenerate row
    val cellOf = headCellsOf(embeddings, encIvf,
      math.max(nCentroids + nCodewords, nQueries)).filter(_._2 >= 0)
    def residual(vid: Long, v: Array[Double]): Array[Double] = {
      val cv = centOf(cellOf(vid))
      Array.tabulate(v.length)(i => v(i) - cv(i))
    }
    def hasCell(id: Long) = cellOf.contains(id)
    // PQ codebook from the RESIDUALS of the block AFTER the centroids
    val seed = head
      .filter(t => t._1 >= nCentroids && t._1 < nCentroids + nCodewords && hasCell(t._1))
      .map { case (id, v) => (id, residual(id, v)) }
    require(seed.nonEmpty,
      s"residual PQ: no non-null vectors in [$nCentroids, ${nCentroids + nCodewords}) to seed the codebook")
    val (encPq, cids, books, subDim) = pqBooks(seed, m)
    // ADC tables from the query's own-cell residual
    val dt = pqDistTable(spark,
      head.filter(t => t._1 < nQueries && hasCell(t._1))
        .map { case (id, v) => (id, residual(id, v)) },
      cids, books, subDim)
    val qcells = broadcast(
      cellOf.filter(_._1 < nQueries).toSeq.toDF("qid", "cell"))
    // corpus: assign cell (projection), subtract the cell's centroid
    // (broadcast k-row join + zip_with), encode the residual
    val centDf = broadcast(ivfCents.toSeq.toDF("cell", "cv"))
    val assigned = embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"),
        col("embedding"))
      .join(centDf, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        expr(s"graft_pq_codes(zip_with(embedding, cv, (x, y) -> cast(x as double) - y), '$encPq')")
          .as("codes"))
    val scored = assigned
      .select(col("vec_id").as("vid"), col("cell"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .join(qcells, Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .join(broadcast(dt), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("d2"))).as("adist"))
    saltedTopK(scored, "adist", ascending = true, k)
  }

  /** Recall@k of the RESIDUAL composed tier vs exact — published next
    * to [[annIvfPqRecall]] at the identical codebook budget: the
    * residual encoding's whole justification is this number moving up.
    */
  def annIvfPqResidualRecall(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                             m: Int, nQueries: Int, k: Int): DataFrame =
    recallAt(cosineTopK(embeddings, nQueries, k),
      annIvfPqResidualTopK(embeddings, nCentroids, nCodewords, m, nQueries, k))

  // ------------------------------------------------------------------
  // Stored ANN index (IVFPQ): write once, probe nightly, append deltas
  // ------------------------------------------------------------------

  /** Persist the IVFPQ index for `embeddings` to the catalog — the
    * encode-once/probe-forever boundary every prior ANN tier lacked
    * (each query re-encoded the corpus; at 100 TB the index build is
    * the cost you pay ONCE). Two tables:
    *
    *   - `<table>_codes` — `(vec_id, cell, codes)`: the coarse cell and
    *     the m PQ codeword ids per vector, bucketed by `cell`
    *     ([[graft.sources.Formats.writeBucketedKeys]]) so a probe's
    *     cell join reads the bucketed scan with ZERO Exchange on the
    *     stored side (plan spec in AnnIndexSpec). Raw vectors are NOT
    *     stored — the whole point of the compressed tier.
    *   - `<table>_meta` — the build parameters AND the serialized
    *     quantizer + PQ codebooks ([[graft.functions.IvfCell.encode]] /
    *     [[graft.functions.PqCodes.encode]]). Codebooks travel WITH the
    *     index: a probe or append that recomputed them from ITS input's
    *     head vectors would silently encode against a different
    *     codebook and corrupt every distance — reading them from meta
    *     makes the mismatch structurally impossible.
    *
    * Codebook convention: the vectors of THIS build input with
    * `vec_id < nCentroids` / `< nCodewords` (the [[annIvfPqTopK]]
    * convention, so the stored probe is byte-equal to the recompute
    * path — the `ann_ivfpq_stored` gate). NOTE this is an ID
    * THRESHOLD, not a count: a FILTERED build input (e.g. the
    * even-ids-only semantic-dedup index) trains a proportionally
    * SMALLER quantizer/codebook — deliberate (the oracle applies the
    * same threshold to the same filtered set), but capacity-relevant
    * when sizing nCentroids for sparse-id corpora. Encoding is the
    * usual ONE zero-exchange projection over the scan.
    */
  def writeAnnIndex(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                    m: Int, table: String, nBuckets: Int): Unit = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    // stale-tombstone rule (the writeTextIndex lifecycle precedent):
    // a same-name rebuild after a takedown starts unmasked
    spark.sql(s"DROP TABLE IF EXISTS ${table}_tombstones")
    val head = headVectors(embeddings, math.max(nCentroids, nCodewords))
    val ivfCents = head.filter(_._1 < nCentroids)
    require(ivfCents.nonEmpty,
      s"writeAnnIndex: no non-null vectors with vec_id < $nCentroids to seed the quantizer")
    val encIvf = graft.functions.IvfCell.encode(ivfCents.map(_._1), ivfCents.map(_._2))
    val (encPq, _, _, _) = pqBooks(head.filter(_._1 < nCodewords), m)
    // SQ8 params from the TRAIN block (the same head the codebooks
    // come from), NOT the whole build input: every stored artifact
    // derives from one deterministic block, so append-with-stored-
    // params ≡ one-shot build bit-exactly (corpus-wide stats would
    // shift whenever the corpus grows — the two-batch gate caught
    // exactly that). FAISS SQ trains its ranges on a sample the same
    // way. PQ codes serve ADC ranking; SQ codes serve the cosine-
    // threshold reconstruction path (values outside the train block's
    // range clamp to the edge codes).
    val (sqMins, sqScales) = sqParams(
      embeddings.where(col("vec_id") < math.max(nCentroids, nCodewords)))
    // the two tables are independent — overlap the writes (Par)
    import spark.implicits._
    Par.inParallel(
      () => graft.sources.Formats.writeBucketedKeys(
        encodeForIndex(embeddings, encIvf, encPq, sqMins, sqScales),
        s"${table}_codes", Seq("cell"), nBuckets),
      () => Seq((nCentroids, nCodewords, m, nBuckets, encIvf, encPq, sqMins.toSeq, sqScales.toSeq))
        .toDF("n_centroids", "n_codewords", "m", "n_buckets", "enc_ivf", "enc_pq",
          "sq_mins", "sq_scales")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_meta"))
  }

  /** The index row projection: ONE zero-exchange pass assigns the
    * cell, the PQ codes and the SQ8 codes side by side (the
    * [[annIvfPqCore]] shape, minus the search). The build input's
    * `label` column rides along as filterable metadata — the
    * pre-filtering predicate of [[annIvfPqAgainstIndexFiltered]]
    * reads it straight off the stored scan (a vector-store index
    * without the filter columns can only post-filter, which silently
    * loses recall). Inputs without a label column store NULL.
    */
  private def encodeForIndex(vecs: DataFrame, encIvf: String, encPq: String,
                             sqMins: Array[Double], sqScales: Array[Double]): DataFrame = {
    val labelCol =
      if (vecs.columns.contains("label")) col("label").cast("int")
      else lit(null).cast("int")
    vecs.where(col("embedding").isNotNull)
      .select(col("vec_id"), labelCol.as("label"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"),
        expr(s"graft_pq_codes(embedding, '$encPq')").as("codes"),
        expr(sqEncodeSql("embedding", sqMins, sqScales)).as("sq"))
  }

  /** Eager guard + parameter read shared by every index consumer: the
    * meta table must exist; returns (m, nBuckets, encIvf, encPq,
    * sqMins, sqScales).
    */
  private def annIndexMeta(spark: SparkSession, table: String)
      : (Int, Int, String, String, Array[Double], Array[Double]) = {
    val r = Store.meta(spark, table, "meta", "ANN index", "writeAnnIndex")
    (r.getAs[Int]("m"), r.getAs[Int]("n_buckets"),
      r.getAs[String]("enc_ivf"), r.getAs[String]("enc_pq"),
      r.getAs[scala.collection.Seq[Double]]("sq_mins").toArray,
      r.getAs[scala.collection.Seq[Double]]("sq_scales").toArray)
  }

  /** Append NEW vectors to a stored [[writeAnnIndex]] index — the
    * nightly maintenance step: the corpus grows by today's accepted
    * embeddings WITHOUT rebuilding (at 100 TB a rebuild re-encodes the
    * whole set; the append encodes only the delta). The delta is
    * encoded with the STORED codebooks AND the stored SQ8 params —
    * exactly FAISS `add()` after `train()` — so a two-batch build
    * equals the one-shot build (gated: `ann_ivfpq_stored_inc`). Bucket
    * spec comes from meta and Spark re-validates it on append, so the
    * exchange-free probe property survives growth.
    */
  def appendAnnIndex(newVecs: DataFrame, table: String): Unit = {
    val spark = newVecs.sparkSession
    // a ROTATED index stores codebooks trained in the rotated space:
    // appending raw vectors would encode unrotated input against them
    // — every distance silently wrong, no error. Refuse and direct to
    // the rotating variant.
    require(!spark.catalog.tableExists(s"${table}_rot"),
      s"'$table' is a ROTATED index — use appendAnnIndexRotated so the delta " +
        "is rotated by the stored chain before encoding")
    appendAnnIndexRaw(newVecs, table)
  }

  private def appendAnnIndexRaw(newVecs: DataFrame, table: String): Unit = {
    val spark = newVecs.sparkSession
    VectorExprs.register(spark)
    val (_, nBuckets, encIvf, encPq, sqMins, sqScales) = annIndexMeta(spark, table)
    graft.sources.Formats.writeBucketedKeys(
      encodeForIndex(newVecs, encIvf, encPq, sqMins, sqScales), s"${table}_codes",
      Seq("cell"), nBuckets, mode = "append")
  }

  /** Append to a [[writeAnnIndexRotated]] index: the delta rotates by
    * the STORED Householder chain (never re-trained — FAISS `add()`
    * after `train()`), then encodes with the stored codebooks like
    * any append. The rotation/codebooks stay the ORIGINAL build's by
    * design: retraining on grown data is a REBUILD decision, not an
    * append.
    */
  def appendAnnIndexRotated(newVecs: DataFrame, table: String): Unit = {
    val spark = newVecs.sparkSession
    VectorExprs.register(spark)
    val rotT = s"${table}_rot"
    require(spark.catalog.tableExists(rotT),
      s"appendAnnIndexRotated: no rotation meta '$rotT' — build with writeAnnIndexRotated")
    val encRot = spark.table(rotT).select(col("enc_rot")).head().getString(0)
    val keep = newVecs.columns.filterNot(_ == "embedding").map(col)
    appendAnnIndexRaw(
      newVecs.where(col("embedding").isNotNull)
        .select(keep :+ expr(s"graft_householder_chain(embedding, '$encRot')")
          .as("embedding"): _*),
      table)
  }

  /** Logical delete from a stored index — tombstones, not rewrites:
    * the ids land in `<table>_tombstones` (append-mode, so deletes
    * accumulate across calls) and every probe/reconstruction path
    * anti-joins them out until [[compactAnnIndex]] folds them into
    * the data (its [[Store.commit]] drops them only once the new
    * generation is live). At 100 TB this is the only viable delete: rewriting
    * the bucketed codes table per takedown request re-shuffles the
    * corpus; a broadcast anti-join on the (small, bounded by
    * compaction cadence) tombstone set costs one map-side pass.
    * FAISS `remove_ids` on IVF does the same mark-then-compact dance.
    */
  def deleteFromAnnIndex(ids: DataFrame, table: String): Unit = {
    val spark = ids.sparkSession
    annIndexMeta(spark, table) // eager guard: no tombstones for a non-index
    Store.file(ids.select(col("vec_id")), s"${table}_tombstones")
  }

  /** The index's `_codes` scan with the tombstone mask applied
    * ([[Store.mask]]; the plain scan — a byte-identical plan — when
    * the index has never seen a delete).
    */
  private def maskedCodes(spark: SparkSession, table: String): DataFrame =
    Store.mask(spark.table(s"${table}_codes"),
      Store.pending(spark, s"${table}_tombstones", "vec_id"), "vec_id")

  /** Fold accumulated tombstones into the stored index: rewrite the
    * surviving rows as a staged generation of the bucketed codes table
    * and swap it in with [[Store.commit]], which drops the tombstones
    * last (a failed commit leaves the previous generation live with
    * its tombstones pending). The survivors scan streams from the old
    * generation while the new one is written, so the rewrite is one
    * bucketed pass with no intermediate materialization — the shape
    * that still works when the codes table is itself TB-scale.
    * Codebooks/meta are untouched (removing vectors never retrains —
    * the FAISS convention), so a compacted index answers probes
    * bit-identically to one built on the survivor set with the same
    * train block.
    */
  def compactAnnIndex(table: String): Unit = {
    val spark = SparkSession.active
    val (_, nBuckets, _, _, _, _) = annIndexMeta(spark, table)
    val tsT = s"${table}_tombstones"
    if (spark.catalog.tableExists(tsT)) {
      graft.sources.Formats.writeBucketedKeys(
        maskedCodes(spark, table), s"${table}_codes_compacting", Seq("cell"), nBuckets)
      Store.commit(spark, Seq(s"${table}_codes" -> s"${table}_codes_compacting"), tsT)
    }
  }

  /** The pre-rank scored frame of the stored probe — split out so the
    * plan spec can assert the Exchange census on exactly this subplan:
    * stored `_codes` scan → posexplode → broadcast cell join →
    * broadcast ADC join → partial agg, with the ONLY Exchange carrying
    * the per-(qid, vid) partial distance sums (compact scalars — the
    * same shape every ANN tier ships through its rank). `nprobe` > 1
    * explodes each query's nearest cells (the standard IVF recall
    * knob, applied to the stored path).
    */
  private[graft] def annIndexScored(queries: DataFrame, table: String,
                                    nprobe: Int = 1,
                                    labelMod: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    VectorExprs.register(spark)
    val (_, _, encIvf, encPq, _, _) = annIndexMeta(spark, table)
    val (cids, books) = graft.functions.PqCodes.decode(encPq)
    val subDim = books(0)(0).length
    // the query set is broadcast-class by contract (it's the nightly
    // probe batch, not the corpus): one O(q·dim) collect builds the
    // ADC tables, the same footprint a broadcast would ship anyway
    val qs = queries.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1)
    val dt = pqDistTable(spark, qs, cids, books, subDim)
    val qcells =
      if (nprobe <= 1)
        queries.where(col("embedding").isNotNull)
          .select(col("vec_id").as("qid"),
            expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"))
      else
        queries.where(col("embedding").isNotNull)
          .select(col("vec_id").as("qid"),
            explode(expr(s"graft_ivf_cells(embedding, '$encIvf', $nprobe)")).as("cell"))
    // when a metadata filter is active, the predicate is evaluated on
    // the UNEXPLODED candidate rows (join → filter → explode): failing
    // candidates never produce their m ADC rows, so the filter pays
    // for itself instead of only trimming the final agg. The
    // unfiltered projection is byte-identical to the original plan
    // (census spec unaffected).
    val codeRows = labelMod match {
      case Some(n) =>
        maskedCodes(spark, table)
          .select(col("vec_id").as("vid"), col("cell"), col("label"), col("codes"))
          .join(broadcast(qcells), Seq("cell"))
          .where(col("label") === pmod(col("qid"), lit(n.toLong)).cast("int"))
          .select(col("qid"), col("vid"),
            posexplode(col("codes")).as(Seq("s", "code")))
      case None =>
        maskedCodes(spark, table)
          .select(col("vec_id").as("vid"), col("cell"),
            posexplode(col("codes")).as(Seq("s", "code")))
          .join(broadcast(qcells), Seq("cell"))
    }
    codeRows
      .where(col("vid") =!= col("qid"))
      .join(broadcast(dt), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("d2"))).as("adist"))
  }

  /** The stored index's RECONSTRUCTED vectors — `(vec_b, cell, rv)`
    * with rv = SQ8-decode(sq) — as a static frame over the bucketed
    * `_codes` table: the probe side a stream-static semantic-dedup
    * join needs. SQ8 (not PQ) feeds the reconstruction because a
    * cosine THRESHOLD needs fidelity: cos(v, sq-recon(v)) ≈ 1 at 8
    * bits/dim, where the PQ reconstruction caps near the corpus'
    * background similarity (measured 0.46 max on the gate corpus —
    * a threshold over PQ recon separates nothing). Raw corpus vectors
    * are never read; the params come from meta; scan → project,
    * exchange-free.
    */
  def annIndexRecon(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    val (_, _, _, _, sqMins, sqScales) = annIndexMeta(spark, table)
    maskedCodes(spark, table)
      .select(col("vec_id").as("vec_b"), col("cell"),
        expr(sqReconSql("sq", sqMins, sqScales)).as("rv"))
  }

  /** The stored index's coarse-quantizer encoding — for assigning NEW
    * (e.g. streamed) vectors to the index's cells.
    */
  def annIndexQuantizer(spark: org.apache.spark.sql.SparkSession, table: String): String =
    annIndexMeta(spark, table)._3

  /** IVFPQ search against a STORED [[writeAnnIndex]] index: the
    * corpus' raw vectors are never read — candidates come from the
    * bucketed `(vec_id, cell, codes)` table, distances from the m ADC
    * lookups, codebooks from meta. Output identical to
    * [[annIvfPqTopK]] on the same build input (the `ann_ivfpq_stored`
    * gate shares the recompute path's oracle verbatim). This converts
    * every nightly ANN query from re-encode-the-corpus to
    * probe-the-index — the shape that actually runs at 100 TB.
    */
  def annIvfPqAgainstIndex(queries: DataFrame, table: String, k: Int,
                           nprobe: Int = 1): DataFrame = {
    requireUnrotated(queries.sparkSession, table, "annIvfPqRotatedAgainstIndex")
    annIvfPqAgainstIndexRaw(queries, table, k, nprobe)
  }

  private def annIvfPqAgainstIndexRaw(queries: DataFrame, table: String, k: Int,
                                      nprobe: Int): DataFrame =
    saltedTopK(annIndexScored(queries, table, nprobe), "adist", ascending = true, k)

  /** The rotated-index corruption guard shared by every RAW-query
    * probe surface: a rotated index's codebooks/codes live in the
    * rotated space, so scoring unrotated queries against them returns
    * silently wrong distances — refuse and direct the caller.
    */
  private def requireUnrotated(spark: org.apache.spark.sql.SparkSession,
                               table: String, alt: String): Unit =
    require(!spark.catalog.tableExists(s"${table}_rot"),
      s"'$table' is a ROTATED index — raw queries would score in the wrong " +
        s"space; rotate them by the stored chain first ($alt)")

  /** OPQ variant of [[writeAnnIndex]]: the corpus is rotated by the
    * TRAINED Householder chain before encoding, and the rotation is
    * persisted WITH the index (`<table>_rot`) — the same
    * travels-with-the-index contract as the codebooks: a probe that
    * re-derived the rotation from ITS input would rotate queries into
    * a different space and corrupt every distance. Completes the
    * encode-once/probe-forever loop for the rotated tier: the
    * O(p·dim)/row rotation is paid once at build; probes rotate only
    * the query batch.
    */
  def writeAnnIndexRotated(embeddings: DataFrame, nCentroids: Int,
                           nCodewords: Int, m: Int, table: String,
                           nBuckets: Int, p: Int = 4, dim: Int = DIM): Unit = {
    val spark = embeddings.sparkSession
    VectorExprs.register(spark)
    val us = trainedRotationUs(embeddings, p, m, dim = dim)
    val enc = graft.functions.HouseholderChain.encode(us)
    // rotate IN the index projection, keeping every metadata column
    // (label etc.) — rotateEmbeddingsBy would drop them
    val keep = embeddings.columns.filterNot(_ == "embedding").map(col)
    val rot = embeddings.where(col("embedding").isNotNull)
      .select(keep :+ expr(s"graft_householder_chain(embedding, '$enc')").as("embedding"): _*)
    writeAnnIndex(rot, nCentroids, nCodewords, m, table, nBuckets)
    import spark.implicits._
    Seq((p, enc)).toDF("p", "enc_rot")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_rot")
  }

  /** Probe a [[writeAnnIndexRotated]] index: queries are rotated by
    * the STORED chain (read from `<table>_rot`, never recomputed),
    * then the probe is the plain [[annIvfPqAgainstIndex]] — stored
    * side untouched, still zero-Exchange off the bucketed scan.
    */
  def annIvfPqRotatedAgainstIndex(queries: DataFrame, table: String, k: Int,
                                  nprobe: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    VectorExprs.register(spark)
    val rotT = s"${table}_rot"
    require(spark.catalog.tableExists(rotT),
      s"annIvfPqRotatedAgainstIndex: no rotation meta '$rotT' — build with writeAnnIndexRotated")
    val encRot = spark.table(rotT).select(col("enc_rot")).head().getString(0)
    val keep = queries.columns.filterNot(_ == "embedding").map(col)
    val rq = queries.where(col("embedding").isNotNull)
      .select(keep :+ expr(s"graft_householder_chain(embedding, '$encRot')").as("embedding"): _*)
    annIvfPqAgainstIndexRaw(rq, table, k, nprobe)
  }

  /** Filtered search against the STORED index: the per-query metadata
    * predicate (`label = qid % nLabels`) is evaluated on the label
    * column the index itself carries, BEFORE ADC scoring — candidates
    * failing the filter never reach the distance sum, so the top-k is
    * the IVFPQ top-k of the filtered candidate set (pre-filtering,
    * same semantics as [[cosineTopKFiltered]] modulo the ADC metric).
    * Indexes built from label-less inputs store NULL labels and
    * return empty here — a filter over metadata the index never had
    * is a caller error surfaced as zero rows, not silently unfiltered
    * results.
    */
  def annIvfPqAgainstIndexFiltered(queries: DataFrame, table: String, k: Int,
                                   nLabels: Int, nprobe: Int = 1): DataFrame = {
    requireUnrotated(queries.sparkSession, table, "rotate queries via <table>_rot")
    saltedTopK(annIndexScored(queries, table, nprobe, labelMod = Some(nLabels)),
      "adist", ascending = true, k)
  }

  /** Recall@k of the FILTERED stored-index probe against the exact
    * filtered tier — the number a tuner watches before shipping
    * metadata-filtered ANN (filtered recall can differ sharply from
    * unfiltered: the filter thins cells, so the right answers more
    * often live outside the probed cell). Builds the index as part of
    * the measurement (the gate convention for stored-index surfaces).
    */
  def annFilteredRecall(embeddings: DataFrame, nCentroids: Int, nCodewords: Int,
                        m: Int, nQueries: Int, k: Int, nLabels: Int,
                        table: String, nBuckets: Int): DataFrame = {
    writeAnnIndex(embeddings, nCentroids, nCodewords, m, table, nBuckets)
    recallAt(cosineTopKFiltered(embeddings, nQueries, k, nLabels),
      annIvfPqAgainstIndexFiltered(
        embeddings.where(col("vec_id") < nQueries), table, k, nLabels))
  }

  /** RANGE search against the STORED index (FAISS `range_search` on
    * IVF): all indexed vectors in the query's cell with rounded
    * cos(query, SQ8-reconstruction) ≥ `threshold` — no k, the caller
    * wants EVERY near-copy (takedown sweeps, near-dup audits). The
    * SQ8 codes serve the threshold because a cosine cut needs
    * reconstruction fidelity (cos(v, sq-recon(v)) ≈ 1 at 8 bits/dim;
    * the PQ reconstruction caps near background similarity — see
    * [[annIndexRecon]]). Raw corpus vectors are never read; candidates
    * are cell-pruned; the threshold lives in the scan-side filter, so
    * non-matches die before any shuffle. Tombstones are honored via
    * the recon path's mask.
    */
  def annRangeAgainstIndex(queries: DataFrame, table: String,
                           threshold: Double): DataFrame = {
    val spark = queries.sparkSession
    requireUnrotated(spark, table, "rotate queries via <table>_rot")
    VectorExprs.register(spark)
    val encIvf = annIndexQuantizer(spark, table)
    val q = queries.where(col("embedding").isNotNull)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"))
    annIndexRecon(spark, table).join(broadcast(q), Seq("cell"))
      .where(col("vec_b") =!= col("qid"))
      .select(col("qid"), col("vec_b").as("vid"),
        r3(expr("graft_vec_dot(qv, rv)") /
          (sqrt(expr("graft_vec_dot(qv, qv)")) * sqrt(expr("graft_vec_dot(rv, rv)"))))
          .as("cos"))
      .where(col("cos") >= threshold)
  }

  /** IVF+SQ8 against the STORED index — [[annIvfSqTopK]]'s composed
    * tier reading the `sq` column the index already carries (the
    * same codes the semantic-dedup reconstruction uses): cell-pruned
    * candidates scored by SQ8 term-table lookups, raw vectors never
    * read, params from meta. Completes stored-path parity for the
    * scalar tier alongside 28p/28q'.
    */
  def annIvfSqAgainstIndex(queries: DataFrame, table: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    requireUnrotated(spark, table, "rotate queries via <table>_rot")
    VectorExprs.register(spark)
    import spark.implicits._
    val (_, _, encIvf, _, sqMins, sqScales) = annIndexMeta(spark, table)
    val qs = queries.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1)
    val dt = sqDistTable(spark, qs, sqMins, sqScales)
    val qcells = queries.where(col("embedding").isNotNull)
      .select(col("vec_id").as("qid"),
        expr(s"coalesce(graft_ivf_cell(embedding, '$encIvf'), -1L)").as("cell"))
    val scored = maskedCodes(spark, table)
      .select(col("vec_id").as("vid"), col("cell"),
        posexplode(col("sq")).as(Seq("d", "code")))
      .join(broadcast(qcells), Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .join(broadcast(dt), Seq("qid", "d", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(r3(sum(col("term"))).as("adist"))
    saltedTopK(scored, "adist", ascending = true, k)
  }

  /** ANN top-k via LSH buckets: score only same-bucket candidates,
    * rank within bucket. Recall < 1 by construction; the exactness
    * baseline is [[cosineTopK]].
    *
    * Ranking is the same two-phase salted top-k as [[cosineTopK]] /
    * [[annIvfTopK]]: with nPlanes hyperplanes a bucket holds
    * ~corpus/2^nPlanes candidates — unbounded in corpus size — so a
    * single per-qid rank would funnel a whole bucket through one
    * partition at 100 TB. Phase 1 ranks within (qid, salt) so the
    * final per-qid rank sees at most 32·k rows per query. Rank order
    * (cos desc, vid) is unchanged, so results are identical.
    */
  def annLshTopK(embeddings: DataFrame, nPlanes: Int, nQueries: Int, k: Int, dim: Int = DIM): DataFrame = {
    val b = lshBuckets(embeddings, nPlanes, dim)
    val q = lshBuckets(embeddings, nPlanes, dim)
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"), col("bucket"))
    val scored = b.join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"), pairCos().as("cos"))
    saltedTopK(scored, "cos", ascending = false, k)
  }
}
