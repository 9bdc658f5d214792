package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.Base64

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.Rounding.r3d

/** Product-quantization code assignment as a pure projection: for each
  * of the codebook's `m` subspaces, the codeword id with the smallest
  * ROUNDED squared L2 distance to the input vector's sub-slice (ties →
  * smallest cid, matching `ORDER BY d2 ASC, c` / `row_number = 1`).
  * Returns `array<long>[m]`.
  *
  * Like [[IvfCell]], the codebook rides INSIDE the expression as a
  * base64 literal (the footprint a broadcast would ship), so corpus
  * encoding is ZERO exchanges — scan → project. Distances accumulate
  * left-to-right over the sub-dimension (the same element order as the
  * DuckDB oracle's `list_sum(list_transform(...))`), and each
  * subspace's d² is rounded by the canonical `floor(x·1000 + 0.5001)
  * / 1000` BEFORE the argmin, so code assignment is bit-identical in
  * any engine.
  *
  * A vector SHORTER than the codebook's total dimension is rejected
  * with a named error (the repo's eager-guard convention, ADVICE r8):
  * silently padding with 0.0 here while the SQL oracle's out-of-range
  * list index yields NULL terms (skipped by `list_sum`) would assign
  * DIVERGENT codes on non-uniform-dim corpora — a latent gate split
  * better surfaced as a failure than absorbed.
  *
  * CodegenFallback like [[SimHash64]]/[[NgramStats]]: the win is the
  * single primitive loop per row (m·k·subDim flops), not codegen
  * fusion.
  */
case class PqCodes(child: Expression, encoded: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // (per-subspace codeword ids, per-subspace codeword sub-vectors)
  @transient private lazy val decoded: (Array[Array[Long]], Array[Array[Array[Double]]]) =
    PqCodes.decode(encoded)

  override def nullSafeEval(input: Any): Any = {
    val (cids, books) = decoded
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = books.length
    val totalDim = {
      var t = 0; var i = 0
      while (i < m) { t += (if (books(i).nonEmpty) books(i)(0).length else 0); i += 1 }
      t
    }
    if (n < totalDim)
      throw new IllegalArgumentException(
        s"graft_pq_codes: input vector has $n elements but the codebook " +
          s"spans $totalDim dimensions — PQ codes for short vectors are " +
          "engine-ambiguous (pad or reject upstream)")
    val out = new Array[Long](m)
    var s = 0
    var offset = 0
    while (s < m) {
      val book = books(s)
      val subDim = if (book.nonEmpty) book(0).length else 0
      var best = Double.PositiveInfinity
      var bestCid = -1L
      var c = 0
      while (c < book.length) {
        val w = book(c)
        var d2 = 0.0
        var d = 0
        while (d < subDim) {
          val idx = offset + d
          val x =
            if (idx < n && !arr.isNullAt(idx)) VectorExprs.elemAt(child, arr, idx)
            else 0.0
          val diff = x - w(d)
          d2 += diff * diff
          d += 1
        }
        val d2r = r3d(d2)
        // strict < + ascending-cid iteration = smallest cid wins ties
        if (d2r < best) { best = d2r; bestCid = cids(s)(c) }
        c += 1
      }
      out(s) = bestCid
      offset += subDim
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  // keep the multi-KB payload out of plan/explain output
  override def toString: String = s"pqcodes($child, ${PqCodes.describe(encoded)})"
  override def sql: String = s"graft_pq_codes(${child.sql}, ${PqCodes.describe(encoded)})"
}

object PqCodes {

  def describe(encoded: String): String = {
    val (cids, books) = decode(encoded)
    val subDim = if (books.nonEmpty && books(0).nonEmpty) books(0)(0).length else 0
    s"<codebook: ${books.length} subspaces x ${if (cids.nonEmpty) cids(0).length else 0} codewords x $subDim dims>"
  }

  /** Serialize a codebook: for each subspace, (codeword ids, codeword
    * sub-vectors). cids must be sorted ascending per subspace (the
    * argmin tie-break relies on iteration order) and all sub-vectors
    * of a subspace must share one dimension.
    */
  def encode(cids: Array[Array[Long]], books: Array[Array[Array[Double]]]): String = {
    require(books.nonEmpty, "graft_pq_codes: codebook must be non-empty")
    require(cids.length == books.length,
      s"graft_pq_codes: ${cids.length} cid groups vs ${books.length} subspace books")
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(books.length)
    var s = 0
    while (s < books.length) {
      val book = books(s)
      require(book.nonEmpty, s"graft_pq_codes: subspace $s has no codewords")
      require(cids(s).length == book.length,
        s"graft_pq_codes: subspace $s: ${cids(s).length} cids vs ${book.length} codewords")
      require(cids(s).sameElements(cids(s).sorted),
        s"graft_pq_codes: subspace $s cids must be sorted ascending (argmin tie-break)")
      require(book.forall(_.length == book(0).length),
        s"graft_pq_codes: subspace $s codewords have mixed dimensions")
      out.writeInt(book.length)
      out.writeInt(book(0).length)
      var c = 0
      while (c < book.length) {
        out.writeLong(cids(s)(c))
        book(c).foreach(out.writeDouble)
        c += 1
      }
      s += 1
    }
    out.flush()
    Base64.getEncoder.encodeToString(bytes.toByteArray)
  }

  def decode(str: String): (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val in = new DataInputStream(new ByteArrayInputStream(Base64.getDecoder.decode(str)))
    val m = in.readInt()
    val cids = new Array[Array[Long]](m)
    val books = new Array[Array[Array[Double]]](m)
    var s = 0
    while (s < m) {
      val k = in.readInt()
      val subDim = in.readInt()
      cids(s) = new Array[Long](k)
      books(s) = new Array[Array[Double]](k)
      var c = 0
      while (c < k) {
        cids(s)(c) = in.readLong()
        val w = new Array[Double](subDim)
        var d = 0
        while (d < subDim) { w(d) = in.readDouble(); d += 1 }
        books(s)(c) = w
        c += 1
      }
      s += 1
    }
    (cids, books)
  }
}
