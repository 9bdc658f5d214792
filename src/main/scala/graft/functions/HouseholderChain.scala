package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.Rounding.r3d

/** Apply a CHAIN of Householder reflections `x ← r3(x − 2u(r3(uᵀx)))`
  * to a vector, one reflection after another — the learned-rotation
  * map of the OPQ-style trained-PQ tier.
  *
  * Why a native expression and not chained `transform` projections:
  * Catalyst collapses the per-step selects into ONE expression where
  * every element of step c references the step's dr, which references
  * all 64 elements of step c−1 — interpreted evaluation cost grows as
  * dim^p (measured: a single task pinned a core for >25 min at p = 4,
  * dim = 64, 5k rows). Here the whole chain is one O(p·dim) loop per
  * row with a constant-size plan — the [[VectorExprs]] argument.
  *
  * Arithmetic is EXACTLY the oracle's: cast-to-double input, then per
  * reflection a sequential left-to-right dot product rounded r3, and
  * each reflected component rounded r3 (`x − 2.0·u·dr` with that
  * multiplication order). Returns `array<double>`; NULL input stays
  * NULL via the UnaryExpression null contract.
  */
case class HouseholderChain(child: Expression, usEnc: String)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val us: Array[Array[Double]] =
    HouseholderChain.decode(usEnc)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (arr.isNullAt(i)) 0.0 else VectorExprs.elemAt(child, arr, i)
      i += 1
    }
    var c = 0
    while (c < us.length) {
      val u = us(c)
      val d = math.min(n, u.length)
      var dr = 0.0
      var j = 0
      while (j < d) { dr += v(j) * u(j); j += 1 }
      val drR = r3d(dr)
      j = 0
      while (j < d) { v(j) = r3d(v(j) - 2.0 * u(j) * drR); j += 1 }
      c += 1
    }
    new GenericArrayData(v)
  }

  override protected def withNewChildInternal(newChild: Expression): HouseholderChain =
    copy(child = newChild)
}

object HouseholderChain {
  /** Serialize reflection directions (rows ';'-joined, components
    * ','-joined; Double.toString round-trips bit-exact).
    */
  def encode(us: Array[Array[Double]]): String =
    us.map(_.mkString(",")).mkString(";")

  private[functions] def decode(enc: String): Array[Array[Double]] =
    if (enc.isEmpty) Array.empty
    else enc.split(';').map(_.split(',').map(_.toDouble))
}
