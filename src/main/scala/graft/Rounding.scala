package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** README's rounding rule, written once: every float output is
  * floor(x·scale + 0.5001)/scale, scale = 10^p (p = 3 unless a gate
  * says otherwise). The 0.0001 guard keeps a parallel sum's last-bit
  * noise from flipping a value that sits on a half-way point, so
  * engines that sum in different orders still round alike. The SQL
  * oracle's `OracleSql.R` and the Java that `graft.functions` generates
  * spell the same operations as text.
  */
private[graft] object Rounding {

  /** The rule on a Column. */
  def r3(c: Column, scale: Double = 1000.0): Column = floor(c * scale + 0.5001) / scale

  /** The rule on the driver, the same IEEE operations. */
  def r3d(x: Double, scale: Double = 1000.0): Double = math.floor(x * scale + 0.5001) / scale
}
