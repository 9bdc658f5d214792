package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** The in-task path of the graph walk (`Similarity.graphWalkScored`):
  * while a kNN graph fits under the broadcast budget, it is collected
  * in one query, broadcast, and every query's whole `rounds`-round
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

  /** True when the walk can run in-task: ids are longs, norms are
    * doubles, and the optimized plans of `e` and `adj` are estimated
    * (no job runs) to fit under `spark.sql.autoBroadcastJoinThreshold`.
    * An unknown size estimates as `spark.sql.defaultSizeInBytes` and
    * fails the test, so the round loop serves it.
    */
  def fits(e: DataFrame, adj: DataFrame, seeds: DataFrame): Boolean = {
    def typed(t: DataType, df: DataFrame, cs: String*) = cs.forall(df.schema(_).dataType == t)
    val budget = e.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    typed(LongType, e, "vec_id") && typed(LongType, adj, "src", "nbr") &&
      typed(LongType, seeds, "qid", "vid") &&
      typed(DoubleType, e, "norm") && typed(DoubleType, seeds, "qn") && budget >= 0 &&
      Seq(e, adj).map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <= budget
  }

  /** The walk of `seeds` (qid, qv, qn, vid) over nodes `e` (vec_id, v,
    * norm) and edges `adj` (src, nbr): `cos` scores a pair from (v,
    * norm, qv, qn); `schema` is the round loop's output schema. The
    * graph collect runs now (job description `graphWalk:collect`), as
    * does the seeds' exchange by qid (`graphWalk:in-task`); the walk
    * itself runs in the consumer's job, as the loop's lazy last round
    * does.
    */
  def apply(e: DataFrame, adj: DataFrame, seeds: DataFrame, cos: Column,
            schema: StructType, beam: Int, rounds: Int, k: Int): DataFrame = {
    val spark = e.sparkSession
    val s = seeds.select(col("qid"), col("qv"), col("qn"), col("vid"))
    val vT = e.schema("v").dataType
    val qvT = s.schema("qv").dataType
    val score = boundScore(e, cos,
      Seq("v" -> vT, "norm" -> DoubleType, "qv" -> qvT, "qn" -> DoubleType))
    // nodes and edges in ONE query: a union of the two scans, no join
    val rows = Par.labelled(spark, "graphWalk:collect") {
      e.select(lit(true).as("node"), col("vec_id").as("id"), col("v"), col("norm"),
          lit(null).cast(LongType).as("nbr"))
        .unionByName(adj.select(lit(false).as("node"), col("src").as("id"),
          lit(null).cast(vT).as("v"), lit(null).cast(DoubleType).as("norm"), col("nbr")))
        .collect()
    }
    val toV = CatalystTypeConverters.createToCatalystConverter(vT)
    val (nodeRows, edgeRows) = rows.filter(!_.isNullAt(1)).partition(_.getBoolean(0))
    val graph = spark.sparkContext.broadcast(new Graph(
      nodeRows.groupMap(_.getLong(1))(r =>
        new GenericInternalRow(Array[Any](toV(r.get(2)), r.get(3))): InternalRow),
      edgeRows.filter(!_.isNullAt(4)).groupMap(_.getLong(1))(_.getLong(4))))
    val walked = Par.labelled(spark, "graphWalk:in-task") {
      s.repartition(spark.sparkContext.defaultParallelism, col("qid")).rdd
        .mapPartitions(it => new Walker(graph.value, score, qvT, beam, rounds, k)
          .walkAll(it))
    }
    spark.createDataFrame(walked, schema)
  }

  /** `cos` analysed over (v, norm, qv, qn) and bound to that row order
    * — the expression the loop's scoring join evaluates, to be
    * evaluated on a [[JoinedRow]] of a node row and a query row.
    */
  private def boundScore(e: DataFrame, cos: Column, cols: Seq[(String, DataType)]): Expression = {
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

    def walkAll(seeds: Iterator[Row]): Iterator[Row] = {
      val byQid = mutable.LinkedHashMap.empty[Any, mutable.ArrayBuffer[Row]]
      seeds.foreach(r => byQid.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty) += r)
      byQid.iterator.flatMap { case (qid, rs) => walk(qid, rs.toSeq) }
    }

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
