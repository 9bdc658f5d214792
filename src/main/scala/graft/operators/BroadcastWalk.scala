package graft.operators

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** The in-task path of the graph walk (`Similarity.graphWalk` and
  * `Similarity.graphWalkScored`): while a kNN graph fits under the
  * broadcast budget, it is collected in one query, masked and
  * broadcast, and every query's whole `rounds`-round
  * beam walk runs inside one task — Odyssey's (VLDB 2023) shape: the
  * index copied to every worker, the queries split among them, each
  * answered locally. A walk's job count no longer grows with `rounds`.
  *
  * Output is byte-equal to the round loop's on the same inputs:
  *   - a pair's cos is the loop's own bound score expression, evaluated
  *     per (node row, query row) — the same `VecDot.nullSafeEval`
  *     kernel, the same `Divide` (NULL or DIVIDE_BY_ZERO per the
  *     session's ANSI mode) and the same r3 rounding;
  *   - each visited (qid, vid) keeps max(qv), max(qn) and min(cos) over
  *     every row that reached it, nulls ignored, under Spark's
  *     interpreted orderings — the loop's dedup aggregate;
  *   - ranks follow (cos desc nulls last, vid asc) under Spark's double
  *     ordering (NaN highest, -0.0 = 0.0);
  *   - round 1 scores and expands every seed (a seed without a node
  *     row is expanded but never visited); later rounds expand the
  *     top-`beam` visited, the query itself included; the query is
  *     dropped only from the final top-k.
  */
private[operators] object BroadcastWalk {

  /** Node rows `(v, norm)` by vec_id (several when an id repeats, as
    * the loop's join would score each) and adjacency lists by src.
    */
  private final class Graph(val nodes: Map[Long, Array[InternalRow]],
                            val adj: Map[Long, Array[Long]]) extends Serializable

  // the row kinds of the graph collect
  private val Node = 0
  private val Edge = 1
  private val Tomb = 2

  private def typed(t: DataType, df: DataFrame, cs: String*) =
    cs.forall(df.schema(_).dataType == t)

  /** True when the walk over nodes `e`, edges `adj` and tombstones
    * `tombs` can run in-task: ids are longs, norms are doubles, and the
    * optimized plans of the three scans are estimated (no job runs) to
    * fit together under `spark.sql.autoBroadcastJoinThreshold`. An
    * unknown size estimates as `spark.sql.defaultSizeInBytes` and fails
    * the test, so the round loop serves it.
    */
  def fits(e: DataFrame, adj: DataFrame, tombs: Option[DataFrame]): Boolean = {
    val budget = e.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    typed(LongType, e, "vec_id") && typed(LongType, adj, "src", "nbr") &&
      typed(DoubleType, e, "norm") && tombs.forall(typed(LongType, _, "vec_id")) &&
      budget >= 0 &&
      (Seq(e, adj) ++ tombs).map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <= budget
  }

  /** [[fits]] for a walk of `seeds` (qid, qv, qn, vid) over an already
    * masked graph: the seeds' ids are longs and `qn` a double too.
    */
  def fits(e: DataFrame, adj: DataFrame, seeds: DataFrame): Boolean =
    typed(LongType, seeds, "qid", "vid") && typed(DoubleType, seeds, "qn") &&
      fits(e, adj, None)

  /** The walk of every query `vec_id < nQueries` over nodes `e`
    * (vec_id, v, norm), edges `adj` (src, nbr) and tombstones `tombs`
    * (vec_id): `cos` scores a pair from (v, norm, qv, qn). One query
    * runs now (job description `graphWalk:collect`): the union of the
    * three scans.
    * The tombstone mask applies here, on the collected rows, and the
    * seeds are the surviving node rows below `nQueries`, one seed
    * (vec_id, v, norm, vec_id) per row, so a repeated id seeds with
    * each of its rows, as the loop's query frame does. The query groups
    * spread over `defaultParallelism` slices, and the walk itself runs
    * in the consumer's job, as the loop's lazy last round does.
    */
  def ofQueries(e: DataFrame, adj: DataFrame, tombs: Option[DataFrame], nQueries: Int,
                cos: Column, beam: Int, rounds: Int, k: Int): DataFrame = {
    val spark = e.sparkSession
    val (graph, nodeRows) = collectGraph(e, adj, tombs)
    val groups = nodeRows.filter(_.getLong(1) < nQueries)
      .groupBy(_.getLong(1)).toSeq.sortBy(_._1)
      .map { case (qid, rs) => (qid: Any, rs.toSeq.map(r => Row(qid, r.get(2), r.get(3), qid))) }
    val vT = e.schema("v").dataType
    val score = boundScore(e, cos, vT)
    val walker = () => new Walker(graph.value, score, vT, beam, rounds, k)
    val walked = spark.sparkContext.parallelize(groups, spark.sparkContext.defaultParallelism)
      .mapPartitions(it => walker().walkGroups(it))
    val qid = e.schema("vec_id").nullable
    spark.createDataFrame(walked, loopSchema(qid, vT, qid, adj, score))
  }

  /** The walk of `seeds` (qid, qv, qn, vid) over nodes `e` (vec_id, v,
    * norm) and edges `adj` (src, nbr), both already masked: `cos` as in
    * [[ofQueries]]. The graph collect runs now (job
    * description `graphWalk:collect`), as does the seeds' exchange by
    * qid (`graphWalk:in-task`); the walk itself runs in the consumer's
    * job.
    */
  def apply(e: DataFrame, adj: DataFrame, seeds: DataFrame, cos: Column,
            beam: Int, rounds: Int, k: Int): DataFrame = {
    val spark = e.sparkSession
    val s = seeds.select(col("qid"), col("qv"), col("qn"), col("vid"))
    val (graph, _) = collectGraph(e, adj, None)
    val qvT = s.schema("qv").dataType
    val score = boundScore(e, cos, qvT)
    val walker = () => new Walker(graph.value, score, qvT, beam, rounds, k)
    val walked = Par.labelled(spark, "graphWalk:in-task") {
      s.repartition(spark.sparkContext.defaultParallelism, col("qid")).rdd
        .mapPartitions(it => walker().walkAll(it))
    }
    spark.createDataFrame(walked,
      loopSchema(s.schema("qid").nullable, qvT, s.schema("vid").nullable, adj, score))
  }

  /** The round loop's output schema (qid, qv, qn, vid, cos, rank), read
    * off its inputs rather than analysed from a loop: its dedup's
    * max/min columns are nullable, a vid comes from a seed or an edge's
    * nbr, and rank is a row number.
    */
  private def loopSchema(qidNull: Boolean, qvT: DataType, vidNull: Boolean,
                         adj: DataFrame, score: Expression): StructType =
    StructType(Seq(
      StructField("qid", LongType, qidNull),
      StructField("qv", qvT),
      StructField("qn", DoubleType),
      StructField("vid", LongType, vidNull || adj.schema("nbr").nullable),
      StructField("cos", score.dataType),
      StructField("rank", LongType, nullable = false)))

  /** Nodes, edges and tombstones in ONE query (job description
    * `graphWalk:collect`): a union of the three scans, with no join.
    * The mask applies on the collected rows, as the loop's anti-joins
    * would: a tombstoned node row goes, and so does an edge whose src
    * or nbr is tombstoned. A null id can match nothing, so its rows go
    * too. Returns the broadcast graph and the surviving node rows
    * (kind, id, v, norm, nbr).
    */
  private def collectGraph(e: DataFrame, adj: DataFrame, tombs: Option[DataFrame])
      : (Broadcast[Graph], Array[Row]) = {
    val spark = e.sparkSession
    val vT = e.schema("v").dataType
    val (noV, noNorm, noId) = (lit(null).cast(vT), lit(null).cast(DoubleType), lit(null).cast(LongType))
    def scan(kind: Int, df: DataFrame, id: String, v: Column, norm: Column, nbr: Column) =
      df.select(lit(kind).as("kind"), col(id).as("id"), v.as("v"), norm.as("norm"), nbr.as("nbr"))
    val scans = Seq(scan(Node, e, "vec_id", col("v"), col("norm"), noId),
        scan(Edge, adj, "src", noV, noNorm, col("nbr"))) ++
      tombs.map(scan(Tomb, _, "vec_id", noV, noNorm, noId))
    val rows = Par.labelled(spark, "graphWalk:collect") {
      scans.reduce(_ unionByName _).collect()
    }.filter(!_.isNullAt(1)).groupBy(_.getInt(0))
    def of(kind: Int) = rows.getOrElse(kind, Array.empty[Row])
    val dead = of(Tomb).map(_.getLong(1)).toSet
    val nodeRows = of(Node).filter(r => !dead(r.getLong(1)))
    val edgeRows = of(Edge).filter(r => !r.isNullAt(4) && !dead(r.getLong(1)) && !dead(r.getLong(4)))
    val toV = CatalystTypeConverters.createToCatalystConverter(vT)
    val graph = spark.sparkContext.broadcast(new Graph(
      nodeRows.groupMap(_.getLong(1))(r =>
        new GenericInternalRow(Array[Any](toV(r.get(2)), r.get(3))): InternalRow),
      edgeRows.groupMap(_.getLong(1))(_.getLong(4))))
    (graph, nodeRows)
  }

  /** `cos` analysed over (v, norm, qv, qn), for query vectors of type
    * `qvT`, and bound to that row order — the expression the loop's
    * scoring join evaluates, to be evaluated on a [[JoinedRow]] of a
    * node row and a query row.
    */
  private def boundScore(e: DataFrame, cos: Column, qvT: DataType): Expression = {
    val cols = Seq("v" -> e.schema("v").dataType, "norm" -> DoubleType, "qv" -> qvT, "qn" -> DoubleType)
    val proto = e.sparkSession.createDataFrame(java.util.List.of[Row](),
        StructType(cols.map { case (n, t) => StructField(n, t) }))
      .select(cos.as("cos"))
    proto.queryExecution.analyzed match {
      case Project(Seq(Alias(c, _)), child) => BindReferences.bindReference(c, child.output)
      case p => throw new IllegalStateException(s"graph walk: unexpected score plan $p")
    }
  }

  /** The per-task walker: one query group's walk at a time. */
  private final class Walker(g: Graph, score: Expression, qvT: DataType,
                             beam: Int, rounds: Int, k: Int) {
    private val toQv = CatalystTypeConverters.createToCatalystConverter(qvT)
    private val qvOrd = TypeUtils.getInterpretedOrdering(qvT)
    private val qnOrd = TypeUtils.getInterpretedOrdering(DoubleType)
    private val cosOrd = TypeUtils.getInterpretedOrdering(score.dataType)
    private val noEdges = Array.empty[Long]

    /** A query vector in both forms: as the seed row carries it, and as
      * the score expression reads it.
      */
    private final class Qv(val ext: Any, val cat: Any)

    /** One visited (qid, vid): the loop's max(qv), max(qn), min(cos). */
    private final class Visit(val vid: Long, var qv: Qv, var qn: Any, var cos: Any)

    /** Whether `b` replaces `a` in the loop's max (`sign` 1) or min
      * (`sign` -1) aggregate: a null never replaces, and is replaced.
      */
    private def wins(ord: Ordering[Any], sign: Int)(a: Any, b: Any): Boolean =
      b != null && (a == null || sign * ord.compare(b, a) > 0)

    /** (cos desc nulls last, vid asc) — the loop's window order. */
    private def ranked(vs: Iterable[Visit]): Seq[Visit] = vs.toSeq.sortWith { (a, b) =>
      val c = if (a.cos == null) { if (b.cos == null) 0 else 1 }
        else if (b.cos == null) -1 else cosOrd.compare(b.cos, a.cos)
      if (c != 0) c < 0 else a.vid < b.vid
    }

    /** The walks of seed rows in any order: grouped by qid here. */
    def walkAll(seeds: Iterator[Row]): Iterator[Row] = {
      val byQid = mutable.LinkedHashMap.empty[Any, mutable.ArrayBuffer[Row]]
      seeds.foreach(r => byQid.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty) += r)
      walkGroups(byQid.iterator.map { case (qid, rs) => (qid, rs.toSeq) })
    }

    /** The walks of seed rows already grouped by qid. */
    def walkGroups(groups: Iterator[(Any, Seq[Row])]): Iterator[Row] =
      groups.flatMap { case (qid, rs) => walk(qid, rs) }

    /** One query's walk. A null qid still walks (its pairs score, and
      * may fail, as in the loop) but answers nothing: the loop's final
      * `vid != qid` filter drops it.
      */
    private def walk(qid: Any, seeds: Seq[Row]): Seq[Row] = {
      val visited = mutable.HashMap.empty[Long, Visit]
      // when every seed row carries the same (qv, qn) — any query
      // frame with one row per qid — each pair's score is a pure
      // function of vid, so a revisit cannot change it and is skipped
      val pure = seeds.forall(r => r.get(1) == seeds.head.get(1) && r.get(2) == seeds.head.get(2))
      def offer(vid: Long, qv: Qv, qn: Any): Unit = {
        val ns = g.nodes.getOrElse(vid, null)
        if (ns != null && !(pure && visited.contains(vid))) {
          val q = new GenericInternalRow(Array[Any](qv.cat, qn))
          for (n <- ns) {
            val c = score.eval(new JoinedRow(n, q))
            visited.get(vid) match {
              case None => visited(vid) = new Visit(vid, qv, qn, c)
              case Some(v) =>
                if (wins(qvOrd, 1)(v.qv.cat, qv.cat)) v.qv = qv
                if (wins(qnOrd, 1)(v.qn, qn)) v.qn = qn
                if (wins(cosOrd, -1)(v.cos, c)) v.cos = c
            }
          }
        }
      }
      def edges(vid: Long) = g.adj.getOrElse(vid, noEdges)
      for (r <- seeds if !r.isNullAt(3)) {
        val (qv, qn, vid) = (new Qv(r.get(1), toQv(r.get(1))), r.get(2), r.getLong(3))
        offer(vid, qv, qn)
        edges(vid).foreach(offer(_, qv, qn))
      }
      for (_ <- 2 to rounds) {
        // the frontier is a snapshot: this round's offers must not
        // move the (qv, qn) it expands with
        val frontier = ranked(visited.values).take(beam).map(v => (v.vid, v.qv, v.qn))
        for ((vid, qv, qn) <- frontier) edges(vid).foreach(offer(_, qv, qn))
      }
      if (qid == null) Nil
      else ranked(visited.values.filter(_.vid != qid)).take(k).zipWithIndex.map {
        case (v, i) => Row(qid, v.qv.ext, v.qn, v.vid, v.cos, (i + 1).toLong)
      }
    }
  }
}
