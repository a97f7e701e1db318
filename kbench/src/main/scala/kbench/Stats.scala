package kbench

/** Order statistics and interval arithmetic shared by the harness and
  * the trace. Every timing the benchmark reports goes through here.
  */
object Stats {

  /** Samples a percentile needs: it is reported only when at least
    * `Beyond` samples lie strictly above its rank, so a p90 needs 100
    * samples and a p50 needs 20.
    */
  val Beyond = 10

  def minSamples(p: Double): Int = math.ceil(Beyond / (1.0 - p / 100.0) - 1e-9).toInt

  /** Nearest-rank percentile (p in (0,100)), or None when fewer than
    * [[minSamples]] values exist.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.size < minSamples(p)) None
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt max 1
      Some(s(rank - 1))
    }

  /** Median with the usual mean-of-middle-pair rule; needs a sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Median of labelled samples with every label weighing the same,
    * however many samples it has: a run that happened to end on an extra
    * script of one variant does not shift the result toward it. With one
    * label this is the plain median.
    */
  def labelMedian(xs: Seq[(String, Double)]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val count = xs.groupMapReduce(_._1)(_ => 1)(_ + _)
    val w = xs.map { case (l, v) => (v, 1.0 / count(l)) }.sortBy(_._1)
    val half = w.map(_._2).sum / 2
    var acc = 0.0
    var i = 0
    while (acc + w(i)._2 < half - 1e-9) { acc += w(i)._2; i += 1 }
    // the half-way point falls exactly on a boundary: mean of both sides
    if (math.abs(acc + w(i)._2 - half) < 1e-9 && i + 1 < w.size) (w(i)._1 + w(i + 1)._1) / 2
    else w(i)._1
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of closed intervals [a, b]. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Length of the part of [a, b] covered by the union of `iv`. */
  def coveredWithin(a: Long, b: Long, iv: Seq[(Long, Long)]): Long =
    unionLength(iv.map { case (x, y) => (x max a, y min b) })
}
