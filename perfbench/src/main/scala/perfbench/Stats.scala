package perfbench

/** One timed operation of a workload: its class (`append`, `lookup`, ...),
  * wall seconds, and whether it succeeded. A failed op keeps its class so
  * it still counts in that class's attempts.
  */
final case class OpSample(cls: String, seconds: Double, ok: Boolean)

object Stats {

  /** Nearest-rank percentile (`p` in (0, 1]) over the samples, with every
    * failed op ranked above every success. A failure's rank value is
    * `failedRank`, which callers set to the run's whole measuring time: no
    * success can take longer than that, so a later fix of a failing op can
    * only lower the percentile, never raise it.
    */
  def percentile(samples: Seq[OpSample], p: Double, failedRank: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    val ranked = samples.map(s => if (s.ok) s.seconds else failedRank).sorted
    ranked(math.max(0, math.ceil(p * ranked.size).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p` percentile: the count a
    * tail percentile rests on, recorded next to it.
    */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** Per-class figures recorded as context: each class's median, its tail
    * percentile `tail`, its sample count, and the samples beyond the tail.
    */
  def classFigures(samples: Seq[OpSample], failedRank: Double,
      tails: Seq[(String, Double)]): Seq[(String, Double)] =
    tails.flatMap { case (cls, tail) =>
      val of = samples.filter(_.cls == cls)
      val q = s"p${math.round(tail * 100)}"
      Seq(s"${cls}_p50_s" -> percentile(of, 0.5, failedRank),
        s"${cls}_${q}_s" -> percentile(of, tail, failedRank),
        s"${cls}_n" -> of.size.toDouble,
        s"${cls}_${q}_samples_beyond" -> beyond(of.size, tail).toDouble)
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Total length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`: the part of a span its children cover, counted once where
    * children overlap. Self time is the span minus this.
    */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
