package graftbench

/** Plain-Scala recomputations of what the workloads ask graft for. They
  * share nothing with graft but the published rounding rule
  * (floor(x * 1000 + 0.5001) / 1000) and the md5 shard rule.
  */
object Ref {
  import Gen.r3

  /** Number of non-zero day-over-day changes. */
  def changes(v: Array[Double]): Int =
    (1 until v.length).count(d => v(d) - v(d - 1) != 0.0)

  /** Centred moving average over +-half rows, edges using the rows they have. */
  def trend(v: Array[Double], half: Int): Array[Double] =
    Array.tabulate(v.length) { d =>
      val lo = math.max(0, d - half)
      val hi = math.min(v.length - 1, d + half)
      var s = 0.0
      var i = lo
      while (i <= hi) { s += v(i); i += 1 }
      r3(s / (hi - lo + 1))
    }

  /** The scaled, detrended series and its (mean, population std). */
  final case class Scaled(scaled: Array[Double], mean: Double, std: Double)

  def scaled(v: Array[Double], half: Int): Scaled = {
    val t = trend(v, half)
    val det = Array.tabulate(v.length)(d => r3(v(d) - t(d)))
    val mean = det.sum / det.length
    val std = math.sqrt(det.map(x => (x - mean) * (x - mean)).sum / det.length)
    val m3 = r3(mean)
    val s3 = r3(std)
    Scaled(det.map(x => r3((x - m3) / s3)), m3, s3)
  }

  /** The training sample of a series: the nX days before the last nY,
    * and the last nY, as the float arrays a feed carries.
    */
  def sample(s: Array[Double], nX: Int, nY: Int): (Array[Float], Array[Float]) = {
    val tail = s.takeRight(nX + nY).map(_.toFloat)
    (tail.take(math.max(0, tail.length - nY)), tail.takeRight(nY))
  }

  /** md5 shard bucket of a key: the first 8 hex digits of md5("shard:" + key), mod n. */
  def shardOf(key: Long, nShards: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(("shard:" + key).getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % nShards).toInt
  }

  /** Lag features of one series: for each day with a full history
    * (day index >= max(lags) and >= ma - 1), (day, v, lag values, ma).
    */
  def lagRows(v: Array[Double], lags: Seq[Int], ma: Int): Seq[(Int, Double, Seq[Double], Double)] =
    (math.max(lags.max, ma - 1) until v.length).map { d =>
      var s = 0.0
      var i = d - ma + 1
      while (i <= d) { s += v(i); i += 1 }
      (d, v(d), lags.map(l => v(d - l)), r3(s / ma))
    }

  /** The kernel graft_vec_dot computes: floats widened to double, summed left to right. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def cos(a: Array[Float], b: Array[Float]): Double =
    r3(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))

  /** Brute-force top-k of a query over the live vectors, ordered (cos desc, id asc). */
  def topK(q: Long, qv: Array[Float], live: collection.Map[Long, Array[Float]], k: Int): Seq[Long] =
    live.iterator.filter(_._1 != q).map { case (id, v) => (id, cos(qv, v)) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
}
