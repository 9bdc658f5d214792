package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.Base64

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

import graft.Rounding.r3d

/** IVF coarse-quantizer cell assignment as a pure projection: returns
  * the centroid id with the highest rounded cosine similarity to the
  * input vector (ties → smallest cid, matching
  * `ORDER BY ccos DESC, cid` / `row_number = 1`).
  *
  * The centroid set rides INSIDE the expression (serialized with the
  * task binary — the same O(nCentroids·dim) footprint a `broadcast()`
  * would ship), so assignment needs ZERO exchanges: the round-3
  * formulation joined corpus × nCentroids rows and sorted them through
  * a `row_number` window — a 16×-amplified shuffle that at 100 TB
  * moves petabytes to compute what is a per-row argmax.
  *
  * Arithmetic is bit-identical to the join formulation it replaces:
  * dot products accumulate left-to-right with floats widened per
  * element (see [[VecDot]]), vector norm = sqrt of the same
  * self-dot, cosine rounded by the canonical `floor(x·1000 + 0.5001)
  * / 1000` before the argmax.
  *
  * Centroids are passed as a base64 payload built by [[IvfCell.encode]]
  * — a self-contained string literal, so the expression reconstructs
  * from pure SQL text with no session-side registry.
  */
case class IvfCell(child: Expression, encoded: String) extends UnaryExpression {

  override def dataType: DataType = LongType

  @transient private lazy val decoded: (Array[Long], Array[Array[Double]], Array[Double]) =
    IvfCell.decode(encoded)

  private def cids = decoded._1
  private def cents = decoded._2
  private def cnorms = decoded._3

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = VectorExprs.elemAt(child, arr, i)
        ss += x * x
      }
      i += 1
    }
    val vnorm = math.sqrt(ss)
    var best = Double.NegativeInfinity
    var bestCid = -1L
    var c = 0
    while (c < cids.length) {
      val cv = cents(c)
      val m = math.min(n, cv.length)
      var dot = 0.0
      var d = 0
      while (d < m) {
        if (!arr.isNullAt(d)) dot += VectorExprs.elemAt(child, arr, d) * cv(d)
        d += 1
      }
      val ccos = r3d(dot / (vnorm * cnorms(c)))
      // strict > + ascending-cid iteration = smallest cid wins ties
      if (ccos > best) { best = ccos; bestCid = cids(c) }
      c += 1
    }
    java.lang.Long.valueOf(bestCid)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cidsRef = ctx.addReferenceObj("ivfCids", cids, "long[]")
      val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
      val normsRef = ctx.addReferenceObj("ivfNorms", cnorms, "double[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ss = ctx.freshName("ss")
      val x = ctx.freshName("x")
      val vnorm = ctx.freshName("vnorm")
      val best = ctx.freshName("best")
      val bestCid = ctx.freshName("bestCid")
      val c = ctx.freshName("c")
      val cv = ctx.freshName("cv")
      val m = ctx.freshName("m")
      val dot = ctx.freshName("dot")
      val d = ctx.freshName("d")
      val ccos = ctx.freshName("ccos")
      s"""
         |int $n = $a.numElements();
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $x = ${VectorExprs.elemGetter(child, a, i)};
         |    $ss += $x * $x;
         |  }
         |}
         |double $vnorm = java.lang.Math.sqrt($ss);
         |double $best = java.lang.Double.NEGATIVE_INFINITY;
         |long $bestCid = -1L;
         |for (int $c = 0; $c < $cidsRef.length; $c++) {
         |  double[] $cv = $centsRef[$c];
         |  int $m = java.lang.Math.min($n, $cv.length);
         |  double $dot = 0.0;
         |  for (int $d = 0; $d < $m; $d++) {
         |    if (!$a.isNullAt($d)) {
         |      $dot += ${VectorExprs.elemGetter(child, a, d)} * $cv[$d];
         |    }
         |  }
         |  double $ccos = java.lang.Math.floor($dot / ($vnorm * $normsRef[$c]) * 1000.0 + 0.5001) / 1000.0;
         |  if ($ccos > $best) { $best = $ccos; $bestCid = $cidsRef[$c]; }
         |}
         |${ev.value} = $bestCid;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IvfCell =
    copy(child = newChild)

  // the default Product toString would dump the multi-KB base64
  // payload into every plan/explain line; summarize instead
  override def toString: String =
    s"ivfcell($child, ${IvfCell.describe(encoded)})"
  override def sql: String =
    s"graft_ivf_cell(${child.sql}, ${IvfCell.describe(encoded)})"
}

/** Multi-probe variant of [[IvfCell]]: the top-`nprobe` centroid ids
  * by the same rounded-cosine / ascending-cid ordering, as
  * `array<long>` (element 0 always equals [[IvfCell]]'s answer —
  * parity spec in HardeningSpec). Used on the QUERY side of
  * `annIvfTopKProbe`, where probing the `nprobe` nearest cells trades
  * a linear search-cost factor for recall — the standard IVF knob.
  *
  * Interpreted-only (CodegenFallback): it evaluates once per QUERY
  * vector — a broadcast-sized side — so codegen would buy nothing;
  * the corpus-side hot path stays on the codegen'd [[IvfCell]].
  */
case class IvfCells(child: Expression, encoded: String, nprobe: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(nprobe >= 1, s"graft_ivf_cells: nprobe must be >= 1, got $nprobe")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  @transient private lazy val decoded: (Array[Long], Array[Array[Double]], Array[Double]) =
    IvfCell.decode(encoded)

  override def nullSafeEval(input: Any): Any = {
    val (cids, cents, cnorms) = decoded
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = VectorExprs.elemAt(child, arr, i)
        ss += x * x
      }
      i += 1
    }
    val vnorm = math.sqrt(ss)
    val scores = new Array[Double](cids.length)
    var c = 0
    while (c < cids.length) {
      val cv = cents(c)
      val m = math.min(n, cv.length)
      var dot = 0.0
      var d = 0
      while (d < m) {
        if (!arr.isNullAt(d)) dot += VectorExprs.elemAt(child, arr, d) * cv(d)
        d += 1
      }
      scores(c) = r3d(dot / (vnorm * cnorms(c)))
      c += 1
    }
    // selection of the top nprobe by (score desc, cid asc): strict >
    // over ascending cids reproduces IvfCell's tie-break at each pick
    val k = math.min(nprobe, cids.length)
    val out = new Array[Long](k)
    val used = new Array[Boolean](cids.length)
    var p = 0
    while (p < k) {
      var best = Double.NegativeInfinity
      var bi = -1
      var j = 0
      while (j < cids.length) {
        if (!used(j) && scores(j) > best) { best = scores(j); bi = j }
        j += 1
      }
      used(bi) = true
      out(p) = cids(bi)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)

  override def toString: String =
    s"ivfcells($child, ${IvfCell.describe(encoded)}, $nprobe)"
  override def sql: String =
    s"graft_ivf_cells(${child.sql}, ${IvfCell.describe(encoded)}, $nprobe)"
}

object IvfCell {

  /** Short human-readable summary of an encoded quantizer for plan
    * output: "<quantizer: 16 centroids x 64 dims>".
    */
  def describe(encoded: String): String = {
    val (cids, cents, _) = decode(encoded)
    val dim = if (cents.nonEmpty) cents.head.length else 0
    s"<quantizer: ${cids.length} centroids x $dim dims>"
  }

  /** Serialize the quantizer: cids MUST be sorted ascending (the
    * argmax tie-break relies on iteration order).
    */
  def encode(cids: Array[Long], cents: Array[Array[Double]]): String = {
    require(cids.nonEmpty, "graft_ivf_cell: centroid set must be non-empty")
    require(cids.length == cents.length,
      s"graft_ivf_cell: ${cids.length} cids vs ${cents.length} centroid vectors")
    require(cids.sameElements(cids.sorted),
      "graft_ivf_cell: cids must be sorted ascending (argmax tie-break)")
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(cids.length)
    var i = 0
    while (i < cids.length) {
      out.writeLong(cids(i))
      out.writeInt(cents(i).length)
      cents(i).foreach(out.writeDouble)
      i += 1
    }
    out.flush()
    Base64.getEncoder.encodeToString(bytes.toByteArray)
  }

  /** Decode to (cids, centroid vectors, centroid norms). Norms are
    * recomputed here with the same left-to-right accumulation as
    * `sqrt(graft_vec_dot(cv, cv))` — not stored, so encode/decode
    * cannot drift from the scoring arithmetic.
    */
  def decode(s: String): (Array[Long], Array[Array[Double]], Array[Double]) = {
    val in = new DataInputStream(new ByteArrayInputStream(Base64.getDecoder.decode(s)))
    val nc = in.readInt()
    val cids = new Array[Long](nc)
    val cents = new Array[Array[Double]](nc)
    val norms = new Array[Double](nc)
    var i = 0
    while (i < nc) {
      cids(i) = in.readLong()
      val dim = in.readInt()
      val v = new Array[Double](dim)
      var d = 0
      var ss = 0.0
      while (d < dim) {
        v(d) = in.readDouble()
        ss += v(d) * v(d)
        d += 1
      }
      cents(i) = v
      norms(i) = math.sqrt(ss)
      i += 1
    }
    (cids, cents, norms)
  }
}
