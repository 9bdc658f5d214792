package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Graph-expansion beam search over the kNN graph: the contract is
  * that round r reaches exactly the r-hop neighbourhood (truncated by
  * the beam), so later rounds find neighbours the first hop cannot.
  */
class GraphSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  /** Unit vectors on an angle chain 0°,30°,60°,90°,120° — with
    * kGraph=2 each node's graph edges are its ±30° neighbours, so the
    * 90° node is 2 hops from the 0° query and the 120° node is 3.
    */
  private def chain() = {
    import spark.implicits._
    Seq(0, 30, 60, 90, 120).zipWithIndex.map { case (deg, i) =>
      val th = math.toRadians(deg)
      (i.toLong, Seq(math.cos(th), math.sin(th)))
    }.toDF("vec_id", "embedding")
  }

  test("round 2 reaches the 2-hop node round 1 cannot; 3-hop stays unreached") {
    val one = Similarity.annGraphSearch(chain(), 1, 2, 1, 8, 1, 4)
      .collect().sortBy(_.getAs[Long]("rank"))
    // one round = the query's own graph edges (30° and 60°)
    assert(one.map(_.getAs[Long]("vid")).toSeq === Seq(1L, 2L))
    val two = Similarity.annGraphSearch(chain(), 1, 2, 1, 8, 2, 4)
      .collect().sortBy(_.getAs[Long]("rank"))
    // second round expands the 60° node's edges → 90° joins; 120°
    // (3 hops) stays out; under-filled k is honest (3 rows < k=4)
    assert(two.map(_.getAs[Long]("vid")).toSeq === Seq(1L, 2L, 3L))
    assert(two.map(_.getAs[Double]("cos")).toSeq === Seq(0.866, 0.5, 0.0))
  }

  test("a tight beam prunes the frontier: beam 2 keeps only self+best, walk still advances") {
    // beam=2 → frontier after round 1 = {self, 30°}; round 2 expands
    // only those, so 90° (an edge of 60°) is never reached
    val tight = Similarity.annGraphSearch(chain(), 1, 2, 1, 2, 2, 2)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(tight.map(_.getAs[Long]("vid")).toSeq === Seq(1L, 2L))
  }

  test("routed build with a full budget equals the flat build exactly; tight budgets stay bounded by the exact argmax") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr"), r.getAs[Double]("cos"))).sorted.toSeq
    // full budget: degree 15 = the complete centroid graph, beam 16 ≥
    // k — round 1 visits every cell, so routing IS the flat argmax
    // (same tie order) and the edge sets are byte-equal
    val flat = rows(Similarity.knnGraph(emb, 16, 3, 2))
    val routed = rows(Similarity.knnGraphRouted(emb, 16, 3, 15, 16, 1, 2))
    assert(routed === flat)
    val agreeFull = Similarity.routedAgreement(emb, 16, 15, 16, 1).head()
    assert(agreeFull.getAs[Double]("agree_frac") === 1.0)
    assert(agreeFull.getAs[Double]("avg_routed_ccos")
      === agreeFull.getAs[Double]("avg_exact_ccos"))
    // budget-bounded walk: the routed best cosine can never EXCEED the
    // exact argmax (it optimizes over a visited subset), and the gate
    // budget still lands most vectors in their true cell
    val agree = Similarity.routedAgreement(emb, 16, 4, 4, 3).head()
    assert(agree.getAs[Long]("n_vecs") > 0)
    assert(agree.getAs[Double]("avg_routed_ccos")
      <= agree.getAs[Double]("avg_exact_ccos") + 1e-9)
    assert(agree.getAs[Double]("agree_frac") <= 1.0)
    info(s"gate-budget routed agreement = ${agree.getAs[Double]("agree_frac")}")
  }

  test("routed SemDeDup with a full budget equals the flat face exactly; tight budget keeps the one-row-per-vector contract") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    // full budget: complete centroid graph + beam 16 ≥ k — routing IS
    // the flat argmax (same tie order), so cells AND verdicts match
    val flat = rows(Similarity.semanticDedup(emb, 16, 0.3))
    assert(rows(Similarity.semanticDedupRouted(emb, 16, 15, 16, 1, 0.3)) === flat)
    // gate budget: approximate routing, but the output contract holds
    // — one row per non-null vector, verdicts from the routed cells
    val tight = rows(Similarity.semanticDedupRouted(emb, 16, 4, 4, 3, 0.3))
    assert(tight.length === flat.length)
    assert(tight.map(_._1) === flat.map(_._1))
    // the budget walk must land SOME vectors off their flat cell on
    // this corpus, or the gate would silently test the flat path
    assert(tight !== flat, "tight-budget routing equals flat — budget too loose to distinguish")
  }

  test("routed store: two-batch append equals the one-shot build in nodes, edges AND probes; flat/routed appends cross-refuse") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraphRouted(emb, 16, 4, 4, 4, 3, "graft_knngr_one", 4, 2)
    Similarity.writeKnnGraphRouted(emb.where(col("vec_id") < 250), 16, 4, 4, 4, 3,
      "graft_knngr_two", 4, 2)
    Similarity.appendKnnGraphRouted(emb.where(col("vec_id") >= 250), "graft_knngr_two")
    def nodes(t: String) = spark.table(s"${t}_nodes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).sorted.toSeq
    def edges(t: String) = spark.table(s"${t}_edges").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"), r.getAs[Double]("cos")))
      .sorted.toSeq
    def probes(t: String) = spark.table(s"${t}_probes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("pcell"))).sorted.toSeq
    assert(nodes("graft_knngr_two") === nodes("graft_knngr_one"))
    assert(edges("graft_knngr_two") === edges("graft_knngr_one"))
    assert(probes("graft_knngr_two") === probes("graft_knngr_one"))
    // a flat append on a routed store (and vice versa) is a directed
    // error, never a silent re-clustering
    val e1 = intercept[IllegalArgumentException] {
      Similarity.appendKnnGraph(emb.where(col("vec_id") >= 250), "graft_knngr_one")
    }
    assert(e1.getMessage.contains("appendKnnGraphRouted"))
    Similarity.writeKnnGraph(emb.where(col("vec_id") < 250), 16, 4, "graft_knngr_flat", 4)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendKnnGraphRouted(emb.where(col("vec_id") >= 250), "graft_knngr_flat")
    }
    assert(e2.getMessage.contains("appendKnnGraph"))
  }

  test("graph takedown: tombstoned nodes vanish from walks immediately; compaction equals the survivor one-shot") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val removed = col("vec_id") % 10 === 7 && col("vec_id") >= 16
    Similarity.writeKnnGraphRouted(emb, 16, 4, 4, 4, 3, "graft_knng_tds", 4, 2)
    def walkVids(t: String) = Similarity
      .annGraphSearchStored(spark, t, 5, 8, 2, 5)
      .collect().map(_.getAs[Long]("vid")).toSet
    val before = walkVids("graft_knng_tds")
    assert(before.exists(v => v % 10 == 7 && v >= 16),
      "fixture must serve at least one to-be-removed node before the takedown")
    Similarity.deleteFromKnnGraph(emb.where(removed).select(col("vec_id")),
      "graft_knng_tds")
    val masked = walkVids("graft_knng_tds")
    assert(!masked.exists(v => v % 10 == 7 && v >= 16),
      "no tombstoned node may survive in any walk answer")
    // compaction: byte-equality with the one-shot build over the
    // survivors (the removal spares the codebook ids, so the pinned
    // codebook and a rebuild's coincide)
    Similarity.compactKnnGraphRouted("graft_knng_tds")
    assert(!spark.catalog.tableExists("graft_knng_tds_gtombstones"),
      "compaction must drop the tombstones")
    Similarity.writeKnnGraphRouted(emb.where(!removed), 16, 4, 4, 4, 3,
      "graft_knng_tds_one", 4, 2)
    def nodes(t: String) = spark.table(s"${t}_nodes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).sorted.toSeq
    def edges(t: String) = spark.table(s"${t}_edges").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"), r.getAs[Double]("cos")))
      .sorted.toSeq
    def probes(t: String) = spark.table(s"${t}_probes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("pcell"))).sorted.toSeq
    assert(nodes("graft_knng_tds") === nodes("graft_knng_tds_one"))
    assert(edges("graft_knng_tds") === edges("graft_knng_tds_one"))
    assert(probes("graft_knng_tds") === probes("graft_knng_tds_one"))
    // compacting a flat store is a directed error; a tombstone-free
    // compaction is a no-op
    Similarity.writeKnnGraph(emb, 16, 4, "graft_knng_tds_flat", 4)
    val err = intercept[IllegalArgumentException] {
      Similarity.compactKnnGraphRouted("graft_knng_tds_flat")
    }
    assert(err.getMessage.contains("_probes"))
    val pre = edges("graft_knng_tds")
    Similarity.compactKnnGraphRouted("graft_knng_tds")
    assert(edges("graft_knng_tds") === pre)
  }

  test("hier takedown: one root filing masks every level immediately; per-level filings mask too; compaction equals the survivor one-shot") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val removed = col("vec_id") % 10 === 7 && col("vec_id") >= 16
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_hier_td", 4, 2, 8, 2, nLayers = 3)
    def walkVids(t: String) = Similarity
      .annGraphSearchHierStored(spark, t, 5, 8, 2, 5)
      .collect().map(_.getAs[Long]("vid")).toSet
    val before = walkVids("graft_hier_td")
    assert(before.exists(v => v % 10 == 7 && v >= 16),
      "fixture must serve at least one to-be-removed node before the takedown")
    // ONE filing at the hier root (the deleteFromKnnGraph contract)
    Similarity.deleteFromKnnGraph(emb.where(removed).select(col("vec_id")),
      "graft_hier_td")
    val masked = walkVids("graft_hier_td")
    assert(!masked.exists(v => v % 10 == 7 && v >= 16),
      "no tombstoned node may survive in any level's walk answer")
    // a filing made directly against a LEVEL table (ADVICE r14: these
    // used to be served silently) masks the hier walk as well
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_hier_tdl", 4)
    val lvlVictims = walkVids("graft_hier_tdl").filter(_ >= 16)
    assert(lvlVictims.nonEmpty, "fixture must serve a non-codebook node")
    import spark.implicits._
    Similarity.deleteFromKnnGraph(
      lvlVictims.toSeq.toDF("vec_id"), "graft_hier_tdl_l0")
    val lvlMasked = walkVids("graft_hier_tdl")
    assert(lvlMasked.intersect(lvlVictims).isEmpty,
      "a tombstone filed against a level table must mask the hier walk")
    // compaction folds the root filing into every level, recomputes
    // the entry, and equals the one-shot build over the survivors
    // (the removal spares each level's codebook ids)
    Similarity.compactKnnGraphHier("graft_hier_td")
    assert(!spark.catalog.tableExists("graft_hier_td_gtombstones"),
      "compaction must drop the root tombstones")
    for (l <- 0 to 2)
      assert(!spark.catalog.tableExists(s"graft_hier_td_l${l}_gtombstones"),
        s"compaction must drop level-$l tombstones")
    Similarity.writeKnnGraphHier(emb.where(!removed), 16, 4, "graft_hier_td_one",
      4, 2, 8, 2, nLayers = 3)
    def nodes(t: String, l: String) = spark.table(s"${t}_${l}_nodes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).sorted.toSeq
    def ledges(t: String, l: String) = spark.table(s"${t}_${l}_edges").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"), r.getAs[Double]("cos")))
      .sorted.toSeq
    for (l <- Seq("l0", "l1", "l2")) {
      assert(nodes("graft_hier_td", l) === nodes("graft_hier_td_one", l), s"nodes $l")
      assert(ledges("graft_hier_td", l) === ledges("graft_hier_td_one", l), s"edges $l")
    }
    assert(spark.table("graft_hier_td_hmeta").head().getAs[Long]("entry")
      === spark.table("graft_hier_td_one_hmeta").head().getAs[Long]("entry"))
  }

  test("hier takedown of the ENTRY: the walk re-seeds from the min surviving top-level node; compaction re-pins it") {
    // Controlled corpus, ids chosen by their real md5 coin level (the
    // production sampling rule). Under the first-N codebook convention
    // the pinned entry is ALWAYS a codebook id (each level's quantizer
    // needs a codebook member in its slice, and codebook ids precede
    // every other id — so the top level's min IS one), which means
    // entry removal never spares the codebook and survivor-one-shot
    // byte-parity is out of scope BY CONSTRUCTION: the pins here are
    // the serving behavior (no outage, min-survivor re-seed), the
    // compaction re-pin, and the no-survivor directed error. The
    // store stays self-consistent because the quantizer is PINNED in
    // each level's _meta — centroids are reference points, not
    // members (the writeKnnGraphRouted _cvecs argument).
    import spark.implicits._
    val (keep, nSample) = (2, 8)
    // c = the smallest id whose coin level is >= 1: the codebook
    // member the l1 slice needs, and therefore the pinned entry
    val c = (1L to 19L).find(id => coinLevel(id, keep, nSample) >= 1).get
    val pool = (20L to 400L).map(id => id -> coinLevel(id, keep, nSample))
    val top = pool.collect { case (id, l) if l >= 1 => id }.take(4)
    val base = pool.collect { case (id, l) if l == 0 => id }.take(8)
    assert(top.size == 4 && base.size == 8)
    val ids = Seq(0L, c) ++ top ++ base
    val emb = ids.zipWithIndex.map { case (id, i) =>
      val th = math.toRadians(6.0 * i)
      (id, Seq(math.cos(th), math.sin(th)))
    }.toDF("vec_id", "embedding")
    val nCentroids = (c + 1).toInt
    Similarity.writeKnnGraphHier(emb, nCentroids, 2, "graft_hier_ent", 4, keep, nSample)
    val entry = spark.table("graft_hier_ent_hmeta").head().getAs[Long]("entry")
    assert(entry === c, "the pinned entry must be the min top-level id")
    Similarity.deleteFromKnnGraph(Seq(entry).toDF("vec_id"), "graft_hier_ent")
    // the masked walk serves (no refusal), never returns the entry
    val out = Similarity.annGraphSearchHierStored(spark, "graft_hier_ent", 1, 8, 3, 4)
      .collect().map(_.getAs[Long]("vid"))
    assert(out.nonEmpty, "a tombstoned entry must not be a serving outage")
    assert(!out.contains(entry))
    // compaction re-pins the entry to the min SURVIVING top-level id
    Similarity.compactKnnGraphHier("graft_hier_ent")
    val entry2 = spark.table("graft_hier_ent_hmeta").head().getAs[Long]("entry")
    assert(entry2 === top.min)
    // and the compacted store still serves, still without the entry
    val out2 = Similarity.annGraphSearchHierStored(spark, "graft_hier_ent", 1, 8, 3, 4)
      .collect().map(_.getAs[Long]("vid"))
    assert(out2.nonEmpty && !out2.contains(entry))
    // tombstoning EVERY top-level node is the one case with no entry
    // to serve — a directed error, never an NPE
    Similarity.writeKnnGraphHier(emb, nCentroids, 2, "graft_hier_ent_all", 4,
      keep, nSample)
    Similarity.deleteFromKnnGraph((c +: top).toDF("vec_id"), "graft_hier_ent_all")
    val err = intercept[IllegalArgumentException] {
      Similarity.annGraphSearchHierStored(spark, "graft_hier_ent_all", 1, 8, 3, 4)
    }
    assert(err.getMessage.contains("no surviving entry"))
  }

  test("append with PENDING takedowns: the mask holds over the appended store; compaction equals the survivor one-shot of old ∪ delta") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // removal ⊂ the FIRST batch (filed before the delta arrives — the
    // takedown-then-ingest race a nightly pipeline actually runs)
    val removed = col("vec_id") % 10 === 7 && col("vec_id") >= 16 &&
      col("vec_id") < 250
    Similarity.writeKnnGraphRouted(emb.where(col("vec_id") < 250), 16, 4, 4, 4, 3,
      "graft_knng_pend", 4, 2)
    Similarity.deleteFromKnnGraph(emb.where(removed).select(col("vec_id")),
      "graft_knng_pend")
    Similarity.appendKnnGraphRouted(emb.where(col("vec_id") >= 250),
      "graft_knng_pend")
    // the mask survives the append: no tombstoned node in any answer
    val vids = Similarity.annGraphSearchStored(spark, "graft_knng_pend", 5, 8, 2, 5)
      .collect().map(_.getAs[Long]("vid")).toSet
    assert(!vids.exists(v => v % 10 == 7 && v >= 16 && v < 250))
    // compaction after the append: byte-equal to the one-shot build
    // over old∪delta survivors (the append's merged lists kept
    // removed-nbr edges until now; affected srcs re-rank, unaffected
    // lists are provably already the survivor one-shot's)
    Similarity.compactKnnGraphRouted("graft_knng_pend")
    Similarity.writeKnnGraphRouted(emb.where(!removed), 16, 4, 4, 4, 3,
      "graft_knng_pend_one", 4, 2)
    def tbl(t: String, cols: Seq[String]) = spark.table(t).collect()
      .map(r => cols.map(c => r.get(r.fieldIndex(c))).mkString("|")).sorted.toSeq
    for ((suf, cols) <- Seq(
        ("nodes", Seq("vec_id", "cell")),
        ("edges", Seq("src", "nbr", "cos")),
        ("probes", Seq("vec_id", "pcell"))))
      assert(tbl(s"graft_knng_pend_$suf", cols)
        === tbl(s"graft_knng_pend_one_$suf", cols), suf)
  }

  test("stored graph walk is byte-equal to the recompute path; a missing table fails eagerly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraph(emb, 16, 4, "graft_knng_spec", 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vid"), r.getAs[Double]("cos"))).sorted.toSeq
    val recompute = rows(Similarity.annGraphSearch(emb, 16, 4, 5, 8, 2, 5))
    val stored = rows(Similarity.annGraphSearchStored(emb.sparkSession, "graft_knng_spec", 5, 8, 2, 5))
    assert(stored === recompute)
    val err = intercept[IllegalArgumentException] {
      Similarity.annGraphSearchStored(emb.sparkSession, "graft_knng_missing", 5, 8, 2, 5)
    }
    assert(err.getMessage.contains("writeKnnGraph"))
  }

  test("append maintains the graph exactly: two-batch edges equal the one-shot build") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraph(emb.where(
      org.apache.spark.sql.functions.col("vec_id") < 200), 16, 4, "graft_knng_two", 4)
    Similarity.appendKnnGraph(emb.where(
      org.apache.spark.sql.functions.col("vec_id") >= 200), "graft_knng_two")
    Similarity.writeKnnGraph(emb, 16, 4, "graft_knng_one", 4)
    def edges(t: String) = spark.table(s"${t}_edges").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"),
        r.getAs[Double]("cos"))).sorted.toSeq
    assert(edges("graft_knng_two") === edges("graft_knng_one"))
    // and the nodes tables agree on membership + cells
    def nodes(t: String) = spark.table(s"${t}_nodes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).sorted.toSeq
    assert(nodes("graft_knng_two") === nodes("graft_knng_one"))
  }

  /** Unit vectors by angle; ids 0 and 1 double as the two coarse
    * centroids (0° and 90°, the first-N convention), so the cell
    * boundary sits at 45°.
    */
  private def byAngle(degs: Seq[Int]) = {
    import spark.implicits._
    degs.zipWithIndex.map { case (deg, i) =>
      val th = math.toRadians(deg)
      (i.toLong, Seq(math.cos(th), math.sin(th)))
    }.toDF("vec_id", "embedding")
  }

  test("cross-cell edges: the walk reaches a vector outside the query's top-1 cell; nprobe=1 cannot") {
    // centroids 0°/90°; query = id0 (0°, cell c0). id3 (50°) assigns
    // to c1 (cos 40° > cos 50°) yet is id0's 2nd-true-nearest. With
    // the confined nprobe=1 build the cell subgraphs {0,2} / {1,3}
    // are disjoint — no walk length reaches id3; the default
    // nprobe=2 build carries the cross-cell edge and round 1 returns it.
    val emb = byAngle(Seq(0, 90, 20, 50))
    val confined = Similarity.annGraphSearch(emb, 2, 3, 1, 8, 3, 3, nprobe = 1)
      .collect().map(_.getAs[Long]("vid")).toSet
    assert(confined === Set(2L), "nprobe=1 must stay inside cell c0")
    val crossing = Similarity.annGraphSearch(emb, 2, 3, 1, 8, 1, 3)
      .collect().map(_.getAs[Long]("vid")).toSet
    assert(crossing.contains(3L), "nprobe=2 round 1 must reach the c1 node")
    assert(crossing === Set(1L, 2L, 3L))
  }

  test("clustered corpus: graph walk recall beats IVF nprobe=1 at the same k") {
    // two angle clusters (5°-40°, 50°-85°) + a boundary query at 44°:
    // its true top-5 spans both cells, so single-probe IVF caps at
    // 3/5 while the cross-cell graph walk recovers the far-cell hits
    val emb = byAngle(Seq(0, 90, 44) ++ (5 to 40 by 5) ++ (50 to 85 by 5))
    val k = 5
    val exact = Similarity.cosineTopK(emb, 3, k).select("qid", "vid")
    def recall(a: org.apache.spark.sql.DataFrame): Double =
      exact.join(a.select("qid", "vid"), Seq("qid", "vid")).count().toDouble /
        exact.count()
    val rIvf = recall(Similarity.annIvfTopK(emb, 2, 3, k))
    val rGraph = recall(Similarity.annGraphSearch(emb, 2, 4, 3, 8, 2, k))
    info(s"ivf nprobe=1 recall = $rIvf, graph walk recall = $rGraph")
    assert(rGraph > rIvf)
  }

  test("hier walk: a query far from the global entry reaches its true neighbourhood via layer-1 routing; too few rounds cannot") {
    // angle chain 0°..90° in 15° steps, kGraph=2 (edges = adjacent
    // angles), keep=nBuckets so layer 1 = the corpus and the test
    // controls the structure. Entry = id0 (0°); query 1 sits at 90°,
    // SIX hops away. rounds=3: the layer-1 walk routes to 60° and the
    // layer-0 walk finishes — answer is the true top-2 {75°, 60°}.
    // rounds=1 strands the walk at 45° — the reach IS the layered
    // walk, not an accident of the build.
    val emb = byAngle(Seq(0, 90, 15, 30, 45, 60, 75))
    val far = Similarity.annGraphSearchHier(emb, 2, 2, 2, 4, 3, 2,
        keep = 8, nBuckets = 8)
      .where(col("qid") === 1).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vid"))).sorted
    assert(far.toSeq === Seq((1L, 6L), (2L, 5L)),
      "rounds=3 must reach the 75°/60° true neighbours")
    val strand = Similarity.annGraphSearchHier(emb, 2, 2, 2, 4, 1, 2,
        keep = 8, nBuckets = 8)
      .where(col("qid") === 1).collect()
      .map(_.getAs[Long]("vid")).toSet
    assert(!strand.contains(6L) && !strand.contains(5L),
      "rounds=1 must NOT reach the far neighbourhood")
  }

  /** HNSW level of an id under the nested md5 coin draws of
    * Similarity.layerPred (coin 1 unsalted, coin j ≥ 2 salted `#j`):
    * the number of consecutive coins that land in `keep` of `nSample`
    * buckets — recomputed here independently so the test can CHOOSE
    * ids of known level when building a controlled corpus.
    */
  private def coinLevel(id: Long, keep: Int, nSample: Int): Int = {
    def bucket(s: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      Integer.parseInt(hex, 16) % nSample
    }
    var lvl = 0
    var j = 1
    while (bucket(if (j == 1) id.toString else s"$id#$j") < keep) {
      lvl += 1; j += 1
    }
    lvl
  }

  test("geometric hierarchy: the 3-layer walk reaches a far query in strictly fewer rounds than the 2-layer build at the same beam") {
    // The hop-bound argument made testable (Malkov-Yashunin 2016
    // §4.1): an angle chain of 22 positions (4° apart), with level-2
    // nodes every 16 positions, level-1 every 4, query (id 0, level
    // 0) at the FAR end, entry at position 0. Per round a level's
    // walk advances ~1 hop in that level's chain, so the per-level
    // round budget r must cover ~21 positions: the 2-layer build has
    // only 4-position level-1 hops (≈ 5 positions/round combined),
    // while the 3-layer build's 16-position level-2 hops route in one
    // round. Ids are CHOSEN by their real md5 coin level, so the
    // build under test is exactly the production sampling rule.
    import spark.implicits._
    val (keep, nSample) = (2, 8)
    assert(coinLevel(0L, keep, nSample) == 0, "id 0 must be level 0 (the query)")
    val pool = (1L to 2000L).map(id => id -> coinLevel(id, keep, nSample))
    val lvl2 = pool.collect { case (id, l) if l >= 2 => id }
    // non-top ids all EXCEED the min level-2 id, so both builds put
    // their global entry at position 0, and the only ids under the
    // nCentroids=11 cut are the query (id 0) and that entry (id 10):
    // every layer's quantizer has exactly 1-2 centroids, and with
    // nprobe=2 the probe set covers all cells — each layer's graph is
    // its exact kNN chain, the structure the hop count argument needs
    val lvl1 = pool.collect { case (id, l) if l == 1 => id }
      .filter(_ > lvl2.head)
    val lvl0 = pool.collect { case (id, l) if l == 0 => id }
      .filter(_ > lvl2.head)
    // position p (0..21) at angle 4p°; query at position 21
    var (i2, i1, i0) = (0, 0, 0)
    val ids = (0 to 21).map { p =>
      if (p == 21) 0L
      else if (p % 16 == 0) { i2 += 1; lvl2(i2 - 1) }
      else if (p % 4 == 0) { i1 += 1; lvl1(i1 - 1) }
      else { i0 += 1; lvl0(i0 - 1) }
    }
    val emb = ids.zipWithIndex.map { case (id, p) =>
      val th = math.toRadians(4.0 * p)
      (id, Seq(math.cos(th), math.sin(th)))
    }.toDF("vec_id", "embedding")
    val trueNn = ids(20) // the position-20 node is the query's true NN
    def minRounds(nLayers: Int): Option[Int] = (1 to 8).find { r =>
      val top = Similarity.annGraphSearchHier(emb, 11, 2, 1, 8, r, 1,
          keep, nSample, 2, nLayers)
        .collect()
      top.nonEmpty && top.head.getAs[Long]("vid") == trueNn
    }
    val (r3, r2) = (minRounds(3), minRounds(2))
    info(s"min rounds to reach the far query: 3-layer = $r3, 2-layer = $r2")
    assert(r3.isDefined && r2.isDefined, "both builds must eventually reach")
    assert(r3.get < r2.get,
      "the 3-layer walk must need strictly fewer rounds at the same beam")
  }

  test("3-layer stored walk is byte-equal to the recompute path; empty top layer fails with a directed error") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_knng_h3_spec", 4, 2, 8, 2,
      nLayers = 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vid"), r.getAs[Double]("cos"))).sorted.toSeq
    val recompute = rows(
      Similarity.annGraphSearchHier(emb, 16, 4, 5, 8, 2, 5, 2, 8, 2, nLayers = 3))
    val stored = rows(Similarity.annGraphSearchHierStored(
      emb.sparkSession, "graft_knng_h3_spec", 5, 8, 2, 5))
    assert(stored === recompute)
    // 5 layers over 500 vectors: the (2/8)^4 top sample is empty —
    // the build must fail with the directed message, not an NPE
    val err = intercept[IllegalArgumentException] {
      Similarity.annGraphSearchHier(emb, 16, 4, 5, 8, 2, 5, 1, 8, 2, nLayers = 5)
    }
    assert(err.getMessage.contains("sample is empty"))
  }

  test("3-layer append maintains every level and the entry: two-batch equals one-shot") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_h3_one", 4, 2, 8, 2, nLayers = 3)
    Similarity.writeKnnGraphHier(emb.where(col("vec_id") < 250), 16, 4,
      "graft_h3_two", 4, 2, 8, 2, nLayers = 3)
    Similarity.appendKnnGraphHier(emb.where(col("vec_id") >= 250), "graft_h3_two")
    def edges(t: String, layer: String) = spark.table(s"${t}_${layer}_edges")
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"),
        r.getAs[Double]("cos"))).sorted.toSeq
    for (l <- Seq("l0", "l1", "l2"))
      assert(edges("graft_h3_two", l) === edges("graft_h3_one", l), s"layer $l")
    val hm2 = spark.table("graft_h3_two_hmeta").head()
    val hm1 = spark.table("graft_h3_one_hmeta").head()
    assert(hm2.getAs[Long]("entry") === hm1.getAs[Long]("entry"))
    assert(hm2.getAs[Int]("n_layers") === 3)
  }

  test("routed hierarchy: full budget equals the flat hierarchy per level and end-to-end; stored walk and append keep parity at the gate budget") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vid"), r.getAs[Double]("cos"))).sorted.toSeq
    // FULL budget (complete centroid graph, beam >= nCentroids, one
    // round visits every cell): routing IS the flat argmax, so the
    // whole hierarchy is byte-equal to the flat build — the 28e''
    // contract composed through every level
    val flat = rows(Similarity.annGraphSearchHier(emb, 16, 4, 5, 8, 2, 5,
      2, 8, 2, nLayers = 3))
    val routedFull = rows(Similarity.annGraphSearchHier(emb, 16, 4, 5, 8, 2, 5,
      2, 8, 2, nLayers = 3, route = Some((15, 16, 1))))
    assert(routedFull === flat)
    // stored parity per LEVEL at full budget: the routed store's
    // nodes/edges equal the flat store's
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_hierr_full", 4, 2, 8, 2,
      nLayers = 2, route = Some((15, 16, 1)))
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_hierr_flt", 4, 2, 8, 2,
      nLayers = 2)
    def nodes(t: String, l: String) = spark.table(s"${t}_${l}_nodes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).sorted.toSeq
    def ledges(t: String, l: String) = spark.table(s"${t}_${l}_edges").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"), r.getAs[Double]("cos")))
      .sorted.toSeq
    for (l <- Seq("l0", "l1")) {
      assert(nodes("graft_hierr_full", l) === nodes("graft_hierr_flt", l), s"nodes $l")
      assert(ledges("graft_hierr_full", l) === ledges("graft_hierr_flt", l), s"edges $l")
    }
    // gate budget: stored walk byte-equal to the routed recompute
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_hierr_gate", 4, 2, 8, 2,
      nLayers = 2, route = Some((4, 4, 3)))
    val stored = rows(Similarity.annGraphSearchHierStored(
      spark, "graft_hierr_gate", 5, 8, 2, 5))
    val recompute = rows(Similarity.annGraphSearchHier(emb, 16, 4, 5, 8, 2, 5,
      2, 8, 2, nLayers = 2, route = Some((4, 4, 3))))
    assert(stored === recompute)
    // two-batch routed append == one-shot per level (probes included —
    // the appended delta routes under the PINNED per-level state), and
    // _hmeta keeps the routed budget across the append rewrite
    Similarity.writeKnnGraphHier(emb.where(col("vec_id") < 250), 16, 4,
      "graft_hierr_two", 4, 2, 8, 2, nLayers = 2, route = Some((4, 4, 3)))
    Similarity.appendKnnGraphHier(emb.where(col("vec_id") >= 250), "graft_hierr_two")
    def probes(t: String, l: String) = spark.table(s"${t}_${l}_probes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("pcell"))).sorted.toSeq
    for (l <- Seq("l0", "l1")) {
      assert(nodes("graft_hierr_two", l) === nodes("graft_hierr_gate", l), s"nodes $l")
      assert(ledges("graft_hierr_two", l) === ledges("graft_hierr_gate", l), s"edges $l")
      assert(probes("graft_hierr_two", l) === probes("graft_hierr_gate", l), s"probes $l")
    }
    val hm = spark.table("graft_hierr_two_hmeta").head()
    assert(hm.getAs[Boolean]("routed") && hm.getAs[Int]("k_cent_graph") == 4
      && hm.getAs[Int]("beam_route") == 4 && hm.getAs[Int]("rounds_route") == 3)
  }

  test("filtered graph walk: answers match the label; reachability flows THROUGH non-matching nodes (pre-filtering would strand the query)") {
    import spark.implicits._
    // angle chain 0°,30°,…,150°, kGraph=2 → edges = ±30° neighbours.
    // Query id0 (label 0, nLabels=1 ⇒ predicate label=0); the ONLY
    // matching candidate (id5 at 150°) sits 5 hops away with
    // non-matching (label 1) nodes in between: a label-pre-filtered
    // graph has zero edges out of the query — the walk must reach it
    // THROUGH the label-1 intermediates (each round covers up to two
    // hops: the edge expansion plus the ACORN bridge hop through
    // filtered-out candidates) and answer only the match
    val emb = Seq((0, 0), (30, 1), (60, 1), (90, 1), (120, 1), (150, 0))
      .zipWithIndex
      .map { case ((deg, label), i) =>
        val th = math.toRadians(deg.toDouble)
        (i.toLong, label, Seq(math.cos(th), math.sin(th)))
      }.toDF("vec_id", "label", "embedding")
    val reached = Similarity.annGraphSearchFiltered(emb, 1, 2, 1, 8, 2, 3, 1)
      .collect().map(r => (r.getAs[Long]("vid"), r.getAs[Double]("cos")))
    assert(reached.toSeq === Seq((5L, -0.866)),
      "the far label-0 node is the ONLY legal answer")
    // one round (edge hop + bridge hop from the seed's ≤2-position
    // out-edges → the {30°,60°,90°} ball) cannot reach it:
    // underfilled (empty) is the honest answer, never a non-matching
    // substitute
    val short = Similarity.annGraphSearchFiltered(emb, 1, 2, 1, 8, 1, 3, 1)
      .collect()
    assert(short.isEmpty, "rounds=1 must not reach the far label-0 node")
    // gate-shape sanity on the driver corpus: recall well-defined,
    // every answer obeys the predicate
    val embD = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.annGraphSearchFiltered(embD, 16, 4, 5, 16, 6, 4, 4)
      .collect()
    assert(out.nonEmpty)
    val labels = embD.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    for (r <- out)
      assert(labels(r.getAs[Long]("vid")) === (r.getAs[Long]("qid") % 4).toInt)
    val rec = Similarity.annGraphSearchFilteredRecall(embD, 16, 4, 5, 16, 6, 4, 4)
      .select(org.apache.spark.sql.functions.avg(col("recall"))).head().getDouble(0)
    info(s"filtered-walk avg recall = $rec")
    // the production bar: the undirected walk + bridge expansion
    // clears 0.9 at the GATE budget (beam=16, rounds=6) on the
    // low-selectivity fixture — before them the mixed beam ceilinged
    // at 0.6-0.75 (directed-unreachable answers + dammed frontiers)
    assert(rec >= 0.9 && rec <= 1.0,
      s"filtered recall at the gate budget must clear 0.9, got $rec")
    // the sweep's claim: recall is monotone in the budget (beam
    // dominance keeps each round's frontier a superset, rounds
    // dominance keeps visited growing — so (16,6) visits a superset
    // of (8,2) by induction and can only add hits)
    val sw = Similarity.annGraphFilteredSweep(embD, 16, 4, 5, 4, 4,
        Seq((8, 2), (16, 6)))
      .groupBy(col("beam"), col("rounds"))
      .agg(org.apache.spark.sql.functions.avg(col("recall")).as("r"))
      .collect().map(x => ((x.getAs[Long]("beam"), x.getAs[Long]("rounds")),
        x.getAs[Double]("r"))).toMap
    info(s"filtered sweep: $sw")
    assert(sw((16L, 6L)) >= sw((8L, 2L)),
      "a dominating budget must never lose filtered recall")
  }

  test("filtered walk from the store: byte parity with the recompute, sidecar required, takedown masks immediately") {
    import spark.implicits._
    val embD = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraph(embD, 16, 4, "graft_knngf_spec", 4, 2)
    // filtered serving needs the metadata sidecar — directed error
    val err = intercept[IllegalArgumentException] {
      Similarity.annGraphSearchFilteredStored(spark, "graft_knngf_spec", 5, 16, 6, 4, 4)
    }
    assert(err.getMessage.contains("writeGraphNodeLabels"))
    Similarity.writeGraphNodeLabels(embD, "graft_knngf_spec")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vid"), r.getAs[Double]("cos"))).sorted.toSeq
    val stored = rows(Similarity.annGraphSearchFilteredStored(
      spark, "graft_knngf_spec", 5, 16, 6, 4, 4))
    assert(stored === rows(Similarity.annGraphSearchFiltered(
      embD, 16, 4, 5, 16, 6, 4, 4)), "stored walk must be byte-equal to the recompute")
    assert(stored.nonEmpty)
    // takedown masking on the 5-node angle chain (the filtered-walk
    // fixture): the 90° node is the only label-0 match, reachable only
    // THROUGH the 60° bridge — tombstoning the bridge must strand the
    // query immediately (masked edges, no rebuild), and the honest
    // answer is empty, never a non-matching substitute
    val emb = Seq((0, 0), (30, 1), (60, 1), (90, 0), (120, 1)).zipWithIndex
      .map { case ((deg, label), i) =>
        val th = math.toRadians(deg.toDouble)
        (i.toLong, label, Seq(math.cos(th), math.sin(th)))
      }.toDF("vec_id", "label", "embedding")
    Similarity.writeKnnGraph(emb, 1, 2, "graft_knngf_chain", 2, 2)
    Similarity.writeGraphNodeLabels(emb, "graft_knngf_chain")
    assert(rows(Similarity.annGraphSearchFilteredStored(
      spark, "graft_knngf_chain", 1, 8, 2, 3, 1)).map(_._3) === Seq(3L))
    Similarity.deleteFromKnnGraph(
      emb.where(col("vec_id") === 2).select(col("vec_id")), "graft_knngf_chain")
    assert(Similarity.annGraphSearchFilteredStored(
      spark, "graft_knngf_chain", 1, 8, 2, 3, 1).collect().isEmpty,
      "tombstoning the bridge must mask the only route to the match")
  }

  test("label sidecar append: paired two-batch store equals the one-shot; overlap is a directed error") {
    val embD = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraph(embD, 16, 4, "graft_knngf_one", 4, 2)
    Similarity.writeGraphNodeLabels(embD, "graft_knngf_one")
    Similarity.writeKnnGraph(embD.where(col("vec_id") < 200), 16, 4,
      "graft_knngf_two", 4, 2)
    Similarity.writeGraphNodeLabels(embD.where(col("vec_id") < 200), "graft_knngf_two")
    Similarity.appendKnnGraph(embD.where(col("vec_id") >= 200), "graft_knngf_two")
    Similarity.appendGraphNodeLabels(embD.where(col("vec_id") >= 200), "graft_knngf_two")
    def rows(t: String) = Similarity.annGraphSearchFilteredStored(
        spark, t, 5, 16, 6, 4, 4).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vid"), r.getAs[Double]("cos"))).sorted.toSeq
    assert(rows("graft_knngf_two") === rows("graft_knngf_one"))
    // a doubled label row would duplicate scored candidates — rejected
    val err = intercept[IllegalArgumentException] {
      Similarity.appendGraphNodeLabels(embD.where(col("vec_id") === 3),
        "graft_knngf_two")
    }
    assert(err.getMessage.contains("already labeled"))
  }

  test("hier filtered serving: answers obey the predicate, sidecar required, root takedown masks filtered answers") {
    val embD = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraphHier(embD, 16, 4, "graft_hierf_spec", 4)
    val err = intercept[IllegalArgumentException] {
      Similarity.annGraphSearchHierFilteredStored(spark, "graft_hierf_spec",
        5, 16, 4, 4, 4)
    }
    assert(err.getMessage.contains("writeGraphNodeLabels"))
    Similarity.writeGraphNodeLabels(embD, "graft_hierf_spec_l0")
    val out = Similarity.annGraphSearchHierFilteredStored(spark, "graft_hierf_spec",
      5, 16, 4, 4, 4).collect()
    assert(out.nonEmpty)
    val labels = embD.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    for (r <- out)
      assert(labels(r.getAs[Long]("vid")) === (r.getAs[Long]("qid") % 4).toInt,
        "every hier-filtered answer must match its query's label")
    // a root filing masks filtered answers immediately: tombstone
    // every vector the first query answered with — none may return
    val q0 = out.filter(_.getAs[Long]("qid") == out.head.getAs[Long]("qid"))
      .map(_.getAs[Long]("vid")).toSet
    import spark.implicits._
    Similarity.deleteFromKnnGraph(q0.toSeq.toDF("vec_id"), "graft_hierf_spec")
    val after = Similarity.annGraphSearchHierFilteredStored(spark, "graft_hierf_spec",
      5, 16, 4, 4, 4).collect().map(_.getAs[Long]("vid")).toSet
    assert(after.intersect(q0).isEmpty,
      "tombstoned vectors must vanish from hier-filtered answers")
  }

  test("hard negatives: the probable-positive head is excluded, neg_rank is contiguous") {
    // query 0 at 0°; nearest two (10°, 20°) are the head m=2 —
    // excluded; negatives = the next two by cosine, re-ranked 1..k
    val emb = byAngle(Seq(0, 10, 20, 30, 40, 50))
    val out = Similarity.hardNegatives(emb, 1, 2, 2).collect()
      .map(r => (r.getAs[Long]("neg_rank"), r.getAs[Long]("vid"))).sorted
    assert(out.toSeq === Seq((1L, 3L), (2L, 4L)))
  }

  test("stored hier walk is byte-equal to the recompute path; missing meta fails eagerly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_knng_hier_spec", 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vid"), r.getAs[Double]("cos"))).sorted.toSeq
    val recompute = rows(Similarity.annGraphSearchHier(emb, 16, 4, 5, 8, 2, 5))
    val stored = rows(Similarity.annGraphSearchHierStored(
      emb.sparkSession, "graft_knng_hier_spec", 5, 8, 2, 5))
    assert(stored === recompute)
    val err = intercept[IllegalArgumentException] {
      Similarity.annGraphSearchHierStored(emb.sparkSession, "graft_missing_hier", 5, 8, 2, 5)
    }
    assert(err.getMessage.contains("writeKnnGraphHier"))
  }

  test("hier append maintains both layers and the entry: two-batch equals one-shot") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_hier_one", 4)
    Similarity.writeKnnGraphHier(emb.where(col("vec_id") < 250), 16, 4, "graft_hier_two", 4)
    Similarity.appendKnnGraphHier(emb.where(col("vec_id") >= 250), "graft_hier_two")
    def edges(t: String, layer: String) = spark.table(s"${t}_${layer}_edges")
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"),
        r.getAs[Double]("cos"))).sorted.toSeq
    assert(edges("graft_hier_two", "l0") === edges("graft_hier_one", "l0"))
    assert(edges("graft_hier_two", "l1") === edges("graft_hier_one", "l1"))
    def entry(t: String) = spark.table(s"${t}_hmeta").head().getAs[Long]("entry")
    assert(entry("graft_hier_two") === entry("graft_hier_one"))
  }

  test("embedding outliers: the corrupt far-from-centroid vector flags, tight cluster members do not") {
    // two tight clusters around the 0°/90° centroids (ids 0, 1);
    // id12 at 45° is the corrupt vector — equidistant from both,
    // ~0.29 below its cell median while the cluster MAD is ~0.001
    val emb = byAngle(Seq(0, 90, 1, 2, 3, 4, 5, 89, 88, 87, 86, 85, 45))
    val out = Similarity.embeddingOutliers(emb, 2, 3.0).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell")))
    assert(out.toSeq === Seq((12L, 0L)))
  }

  test("reachability audit: an in-edge-less outlier is directed-unreachable; the undirected closure restores it") {
    // tight cluster 0°..4° (ids 0-4) + an outlier at 180° (id 5):
    // every cluster member's top-2 edges stay inside the cluster, the
    // outlier's top-2 point INTO the cluster — so id5 emits edges but
    // receives none, and the directed closure from the entry (id 0)
    // never reaches it; flipping edges at serve time does
    val emb = byAngle(Seq(0, 1, 2, 3, 4, 180))
    val out = Similarity.annGraphReachability(emb, 1, 2, 1).head()
    assert(out.getAs[Long]("n_nodes") === 6L)
    assert(out.getAs[Long]("n_reach_directed") === 5L,
      "the outlier must read directed-unreachable")
    assert(out.getAs[Long]("n_reach_undirected") === 6L,
      "the flipped edges must restore it")
    assert(out.getAs[Double]("frac_directed") === 0.833)
    assert(out.getAs[Double]("frac_undirected") === 1.0)
    // the gate corpus reading that motivated undirected filtered
    // serving: directed closure strictly below the node count,
    // undirected complete
    val gate = Similarity.annGraphReachability(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), 16, 4).head()
    assert(gate.getAs[Long]("n_reach_directed") < gate.getAs[Long]("n_nodes"))
    assert(gate.getAs[Long]("n_reach_undirected")
      >= gate.getAs[Long]("n_reach_directed"))
  }

  test("gate-shape recall on the driver corpus is recorded") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rec = Similarity.annGraphSearchRecall(emb, 16, 4, 5, 8, 2, 5)
      .select(org.apache.spark.sql.functions.avg(
        org.apache.spark.sql.functions.col("recall"))).head().getDouble(0)
    info(s"graph-search avg recall = $rec")
    assert(rec > 0.0 && rec <= 1.0)
  }

  private def jobsOf[T](body: => T): (T, Seq[String]) = SpecJobs.jobsOf(spark)(body)

  /** A walk's outcome: its schema and rows (sorted by their string
    * form), or the error conditions and `IllegalArgumentException`
    * messages (a driver-side `require`) along the failure's cause chain.
    */
  private def outcome(walk: => org.apache.spark.sql.DataFrame)
      : Either[Seq[String], (org.apache.spark.sql.types.StructType, Seq[Seq[Any]])] =
    try {
      val df = walk
      Right((df.schema, df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq))
    } catch {
      case t: Throwable => Left(Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .collect {
          case st: org.apache.spark.SparkThrowable if st.getCondition != null => st.getCondition
          case ia: IllegalArgumentException => ia.getMessage
        }.toSeq.distinct)
    }

  /** `walk` on both graph-walk paths: in-task under the session's
    * broadcast budget, then the round loop with the existing
    * `spark.sql.autoBroadcastJoinThreshold` scoped to -1. Asserts that
    * each side that walked (it answered, or ran a walk job before it
    * failed) really took its path, by its job descriptions, and that
    * the two outcomes are equal; returns the in-task outcome. A walk
    * refused before its first walk job took no path: at most a
    * metadata read ran.
    */
  private def bothPaths(walk: => org.apache.spark.sql.DataFrame) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val conf = spark.conf
    val (inTask, taskJobs) = jobsOf(outcome(walk))
    val prev = conf.getOption(key)
    conf.set(key, "-1")
    val (loop, loopJobs) = try jobsOf(outcome(walk))
      finally prev.fold(conf.unset(key))(conf.set(key, _))
    def walked(out: Either[_, _], jobs: Seq[String]) =
      out.isRight || jobs.exists(_.startsWith("graphWalk:"))
    if (walked(inTask, taskJobs))
      assert(taskJobs.contains("graphWalk:collect") && !taskJobs.exists(_.startsWith("graphWalk:round")),
        s"in-task side ran ${taskJobs.mkString(", ")}")
    if (walked(loop, loopJobs))
      assert(!loopJobs.exists(_.startsWith("graphWalk:collect")),
        s"loop side ran ${loopJobs.mkString(", ")}")
    assert(inTask === loop)
    inTask
  }

  /** A hand-written graph store — the tables a stored walk reads:
    * `<t>_nodes` (vec_id, v), `<t>_edges` (src, nbr) and, when `tombs`
    * is non-empty, `<t>_gtombstones`.
    */
  private def handStore(t: String, nodes: Seq[(Long, Seq[java.lang.Float])],
                        edges: Seq[(Long, Long)], tombs: Seq[Long] = Nil): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def save(name: String, rows: Seq[Row], fields: (String, DataType)*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(fields.map { case (n, dt) => StructField(n, dt) }))
        .write.mode("overwrite").format("parquet").saveAsTable(s"${t}_$name")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_gtombstones")
    save("nodes", nodes.map { case (id, v) => Row(id, v) },
      "vec_id" -> LongType, "v" -> ArrayType(FloatType))
    save("edges", edges.map { case (a, b) => Row(a, b) }, "src" -> LongType, "nbr" -> LongType)
    if (tombs.nonEmpty) save("gtombstones", tombs.map(Row(_)), "vec_id" -> LongType)
  }

  private def unit(deg: Double): Seq[java.lang.Float] = {
    val th = math.toRadians(deg)
    Seq(math.cos(th).toFloat, math.sin(th).toFloat).map(java.lang.Float.valueOf)
  }

  test("in-task walk is byte-equal to the round loop: ties, a null element, duplicate and dangling edges, tombstones, k < beam") {
    val f: Float => java.lang.Float = java.lang.Float.valueOf
    // query 0 at 0°: 1/2 tie at ±53°, 3/4 tie at ±37°; 5 sits two hops
    // out; 6 carries a null element (the dot skips it); 9 has no node
    // row (a dangling edge); 10 repeats an id with a different vector
    val nodes = Seq(0L -> unit(0), 1L -> unit(53.13), 2L -> unit(-53.13),
      3L -> unit(36.87), 4L -> unit(-36.87), 5L -> unit(90), 6L -> Seq(null, f(1f)),
      7L -> unit(10), 8L -> unit(170), 10L -> unit(20), 10L -> unit(25))
    val edges = Seq(0L -> 1L, 0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 1L -> 5L, 1L -> 9L,
      3L -> 5L, 3L -> 5L, 3L -> 6L, 2L -> 0L, 5L -> 8L, 5L -> 7L, 7L -> 0L, 7L -> 3L,
      4L -> 10L, 10L -> 8L, 6L -> 7L)
    handStore("graft_walk_parity", nodes, edges)
    for ((beam, rounds, k) <- Seq((4, 3, 2), (8, 1, 8), (2, 4, 2), (16, 4, 5))) {
      val out = bothPaths(Similarity.annGraphSearchStored(spark, "graft_walk_parity", 11,
        beam, rounds, k))
      assert(out.isRight && out.toOption.get._2.nonEmpty, s"($beam, $rounds, $k)")
    }
    // ties rank by vid: 1 before 2, 3 before 4
    val top = Similarity.annGraphSearchStored(spark, "graft_walk_parity", 1, 8, 1, 4)
      .collect().sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vid")).toSeq
    assert(top === Seq(3L, 4L, 1L, 2L))
    // a tombstoned query (7) and a tombstoned neighbour (3)
    handStore("graft_walk_parity", nodes, edges, tombs = Seq(3L, 7L))
    val masked = bothPaths(Similarity.annGraphSearchStored(spark, "graft_walk_parity", 11, 4, 3, 3))
    val rows = masked.toOption.get._2
    assert(rows.nonEmpty && !rows.exists(r => Set(3L, 7L)(r(0).asInstanceOf[Long]) ||
      Set(3L, 7L)(r(1).asInstanceOf[Long])))
  }

  test("in-task walk masks tombstones on the driver as the loop's anti-joins do: duplicate, absent, repeated-id, sole-neighbour and query tombstones") {
    // 10 is stored twice; 11's only neighbour is 8; 7 is a query; 8 is
    // filed twice and 42 is not in the store. Query 6, stored twice and
    // kept, scores 0 lowest from its 40° row and 3 from its -20° row,
    // so it must seed with both
    val nodes = Seq(0L -> unit(0), 1L -> unit(53.13), 2L -> unit(-53.13),
      3L -> unit(36.87), 4L -> unit(-36.87), 5L -> unit(90), 6L -> unit(-20), 6L -> unit(40),
      7L -> unit(10), 8L -> unit(170), 10L -> unit(20), 10L -> unit(25), 11L -> unit(5))
    val edges = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 1L -> 5L, 3L -> 5L,
      2L -> 0L, 5L -> 8L, 5L -> 7L, 7L -> 0L, 7L -> 3L, 4L -> 10L, 10L -> 8L,
      10L -> 4L, 11L -> 8L, 0L -> 11L, 8L -> 1L, 6L -> 0L, 6L -> 3L)
    val tombs = Seq(8L, 8L, 42L, 10L, 7L)
    val gone = tombs.toSet
    def walk(t: String) = Similarity.annGraphSearchStored(spark, t, 12, 4, 3, 3)
    handStore("graft_walk_mask", nodes, edges, tombs)
    val rows = bothPaths(walk("graft_walk_mask")).toOption.get._2
    assert(rows.nonEmpty)
    assert(!rows.exists(r => gone(r(0).asInstanceOf[Long]) || gone(r(1).asInstanceOf[Long])), rows)
    assert(!rows.exists(_(0) == 11L), "11 reaches nothing past its tombstoned neighbour")
    // the mask equals a store that never held the tombstoned rows
    handStore("graft_walk_unmasked", nodes.filterNot(n => gone(n._1)),
      edges.filterNot { case (a, b) => gone(a) || gone(b) })
    assert(bothPaths(walk("graft_walk_unmasked")).toOption.get._2 === rows)
  }

  test("the tombstone scan counts against the broadcast budget: a store that fits only without it walks the loop") {
    val t = "graft_walk_budget"
    handStore(t, Seq(0L -> unit(0), 1L -> unit(30), 2L -> unit(60), 3L -> unit(90)),
      Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L, 0L -> 2L), tombs = Seq(3L))
    def walkJobs() = jobsOf(Similarity.annGraphSearchStored(spark, t, 4, 4, 3, 3).collect())._2
    def size(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    walkJobs() // registers graft_vec_dot
    val nodes = spark.table(s"${t}_nodes").select(col("vec_id"), col("v"))
      .withColumn("norm", org.apache.spark.sql.functions.sqrt(
        org.apache.spark.sql.functions.expr("graft_vec_dot(v, v)")))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, (size(nodes) + size(spark.table(s"${t}_edges"))).toString)
      val pending = walkJobs()
      assert(pending.exists(_.startsWith("graphWalk:round")) && !pending.contains("graphWalk:collect"),
        pending)
      spark.sql(s"DROP TABLE ${t}_gtombstones")
      val clean = walkJobs()
      assert(clean.contains("graphWalk:collect") && !clean.exists(_.startsWith("graphWalk:round")),
        clean)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("in-task walk and round loop agree on a zero-norm vector: NULL cos without ANSI, DIVIDE_BY_ZERO with it") {
    handStore("graft_walk_zero", Seq(0L -> unit(0), 1L -> unit(30), 2L -> unit(60),
      3L -> Seq(0f, 0f).map(java.lang.Float.valueOf)),
      Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 0L -> 3L, 3L -> 1L))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      val off = bothPaths(Similarity.annGraphSearchStored(spark, "graft_walk_zero", 4, 4, 3, 3))
      assert(off.toOption.get._2.exists(_(2) == null), "a zero-norm pair scores NULL")
      spark.conf.set(key, "true")
      val on = bothPaths(Similarity.annGraphSearchStored(spark, "graft_walk_zero", 4, 4, 3, 3))
      assert(on.left.toOption.exists(_.contains("DIVIDE_BY_ZERO")), on.toString)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("walk arguments are checked before a path is picked: rounds = 0 and k > beam fail on both paths") {
    val t = "graft_walk_args"
    handStore(t, Seq(0L -> unit(0), 1L -> unit(30), 2L -> unit(60)), Seq(0L -> 1L, 1L -> 2L, 2L -> 0L))
    def walk(beam: Int, rounds: Int, k: Int) =
      Similarity.annGraphSearchStored(spark, t, 3, beam, rounds, k)
    // the store walks on both paths with valid arguments
    bothPaths(walk(4, 1, 2))
    // the filtered walks, flat and hier, over stores with label sidecars
    val emb = corpus().withColumn("label", (col("vec_id") % 4).cast("int"))
    Similarity.writeKnnGraph(emb, 16, 4, "graft_walk_args_f", 4)
    Similarity.writeGraphNodeLabels(emb, "graft_walk_args_f")
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_walk_args_h", 4)
    Similarity.writeGraphNodeLabels(emb, "graft_walk_args_h_l0")
    val filtered = Seq[(Int, Int, Int) => org.apache.spark.sql.DataFrame](
      Similarity.annGraphSearchFilteredStored(spark, "graft_walk_args_f", 3, _, _, _, 4),
      Similarity.annGraphSearchHierFilteredStored(spark, "graft_walk_args_h", 3, _, _, _, 4))
    for (w <- filtered) assert(w(4, 1, 2).collect().nonEmpty)
    // both paths refuse with the same message (bothPaths compares them)
    def refused(out: Either[Seq[String], _], msg: String) =
      assert(out.left.toOption.exists(_.exists(_.contains(msg))), out.toString)
    for (w <- walk _ +: filtered) {
      refused(bothPaths(w(4, 0, 2)), "rounds must be >= 1")
      refused(bothPaths(w(2, 1, 3)), "k=3 must be <= beam=2")
    }
  }

  test("the filtered walk labels its checkpointed rounds filteredWalk:round<r>") {
    val emb = corpus().withColumn("label", (col("vec_id") % 4).cast("int"))
    Similarity.writeKnnGraph(emb, 16, 4, "graft_walk_flabels", 4)
    Similarity.writeGraphNodeLabels(emb, "graft_walk_flabels")
    val (rows, jobs) = jobsOf(
      Similarity.annGraphSearchFilteredStored(spark, "graft_walk_flabels", 3, 4, 4, 2, 4).collect())
    assert(rows.nonEmpty)
    // rounds 1-3 checkpoint; the last round feeds the answer unlabelled
    assert(jobs.filter(_.startsWith("filteredWalk:")).distinct === (1 to 3).map(r => s"filteredWalk:round$r"),
      jobs)
  }

  /** 400 deterministic 8-d vectors for the store-scale walk specs. */
  private def corpus() = spark.range(400).select(col("id").as("vec_id"),
    org.apache.spark.sql.functions.array((0 until 8).map(d =>
      org.apache.spark.sql.functions.sin(col("id") * (0.37 * (d + 1)) + d).cast("float")): _*)
      .as("embedding"))

  test("in-task walk is byte-equal to the round loop on a generated corpus: flat and hier chained seeds, with pending takedowns") {
    val emb = corpus()
    Similarity.writeKnnGraph(emb, 16, 4, "graft_walk_corpus", 4)
    Similarity.deleteFromKnnGraph(emb.where(col("vec_id") % 10 === 7 && col("vec_id") >= 16)
      .select(col("vec_id")), "graft_walk_corpus")
    bothPaths(Similarity.annGraphSearchStored(spark, "graft_walk_corpus", 20, 8, 4, 5))
    // hier: every level walk seeds the next one, on either path
    Similarity.writeKnnGraphHier(emb, 16, 4, "graft_walk_hier", 4)
    Similarity.deleteFromKnnGraph(emb.where(col("vec_id") % 10 === 3 && col("vec_id") >= 16)
      .select(col("vec_id")), "graft_walk_hier")
    bothPaths(Similarity.annGraphSearchHierStored(spark, "graft_walk_hier", 20, 8, 3, 5))
  }

  test("a stored walk under the broadcast budget runs in a handful of jobs, with or without pending tombstones") {
    val emb = corpus()
    val t = "graft_walk_jobs"
    Similarity.writeKnnGraph(emb, 16, 4, t, 4)
    Similarity.deleteFromKnnGraph(emb.where(col("vec_id") % 10 === 7 && col("vec_id") >= 16)
      .select(col("vec_id")), t)
    def walkJobs() = jobsOf(Similarity.annGraphSearchStored(spark, t, 20, 16, 4, 10).collect())._2
    walkJobs() // warm
    val pending = walkJobs()
    Similarity.compactKnnGraph(t)
    val compacted = walkJobs()
    info(s"jobs with pending tombstones: ${pending.mkString(", ")}")
    info(s"jobs after compaction: ${compacted.mkString(", ")}")
    // the collect and the consumer's own job
    for (jobs <- Seq(pending, compacted)) {
      assert(jobs.count(_ == "graphWalk:collect") == 1, jobs)
      assert(jobs.length <= 2, jobs)
    }
  }
}
