package perfbench

import graft.model.Statistic

/** Plain-Scala reference computations the program's outputs are checked
  * against. They share no code with the program. */
object Ref {
  val WindowMs = 600000L

  /** One window of the trends reference. */
  final case class Win(startMs: Long, min: Double, max: Double, mean: Double,
      median: Double, n: Int)

  /** 10-minute tumbling windows over `times`/`rates` (one pair), both
    * range bounds inclusive: min, max, mean and the exact median
    * (interpolated between the two middle values for an even count). */
  def trends(times: Array[Long], rates: Array[Double], fromMs: Long,
      toMs: Long): Seq[Win] = {
    val byWin = scala.collection.mutable.TreeMap.empty[Long, scala.collection.mutable.ArrayBuffer[Double]]
    var i = 0
    while (i < times.length) {
      val t = times(i)
      if (t >= fromMs && t <= toMs)
        byWin.getOrElseUpdate(Math.floorDiv(t, WindowMs) * WindowMs,
          scala.collection.mutable.ArrayBuffer.empty[Double]) += rates(i)
      i += 1
    }
    byWin.iterator.map { case (w, vs) =>
      val s = vs.toArray.sorted
      val n = s.length
      val pos = 0.5 * (n - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      val med = if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
      Win(w, s.head, s.last, s.sum / n, med, n)
    }.toSeq
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Whether the program's statistics equal the reference: same windows,
    * min and max exact, mean and median equal up to summation order. */
  def same(got: Array[Statistic], want: Seq[Win]): Boolean =
    got.length == want.length && got.iterator.zip(want.iterator).forall {
      case (g, w) => g.window.getTime == w.startMs && g.min == w.min &&
        g.max == w.max && close(g.mean, w.mean) && close(g.median, w.median)
    }

  /** Sliding-window limiter: per user, requests in (ts, id) order; each
    * joins the window of the last `durationUs`, and is denied when the
    * window then holds more than `limit` requests. Returns the denials. */
  def denied(reqs: Seq[(String, Long, Long)], durationUs: Long,
      limit: Int): Long =
    reqs.groupBy(_._1).valuesIterator.map { rs =>
      val q = new java.util.ArrayDeque[Long]()
      rs.sortBy(r => (r._3, r._2)).count { case (_, _, ts) =>
        while (!q.isEmpty && q.peekFirst() <= ts - durationUs) q.pollFirst()
        q.addLast(ts)
        q.size > limit
      }.toLong
    }.sum
}

/** Order statistics over a sample. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.toArray.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
