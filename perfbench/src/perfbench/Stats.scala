package perfbench

/** The benchmark's own arithmetic, kept free of Spark so [[SelfTest]] can
  * pin it on hand-sized cases. */
object Stats {

  /** Percentiles a tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank percentile of `xs` (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest ladder percentile with at least `beyond` samples above
    * its rank — the tail a sample of `n` supports. None below 2·beyond. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      n - rank >= beyond
    }.lastOption

  /** recall@k of one answer against the exact top-k keys. */
  def recallAtK(got: Seq[String], exact: Seq[String], k: Int): Double = {
    val truth = exact.take(k).toSet
    require(truth.nonEmpty, "recall against an empty exact answer")
    got.take(k).count(truth.contains).toDouble / truth.size
  }

  /** Exact top-k keys by squared L2 distance, ties broken by key. */
  def exactTopK(q: Array[Float], rows: Iterable[(String, Array[Float])],
                k: Int): Seq[(String, Double)] = {
    val ord = Ordering.by[(String, Double), (Double, String)](r => (r._2, r._1))
    val heap = scala.collection.mutable.PriorityQueue.empty[(String, Double)](ord)
    rows.foreach { case (key, v) =>
      val d = l2sq(q, v)
      if (heap.size < k) heap.enqueue((key, d))
      else if (ord.lt((key, d), heap.head)) { heap.dequeue(); heap.enqueue((key, d)) }
    }
    heap.dequeueAll[(String, Double)].reverse.map(r => (r._1, math.sqrt(r._2)))
  }

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dimension ${a.length} != ${b.length}")
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Tracing overhead in percent: the median, over operations paired one
    * by one (the same operation untraced and traced), of traced time over
    * untraced time, minus 1. A median, so one slow commit in either pass
    * does not decide it. */
  def overheadPct(untraced: Seq[Double], traced: Seq[Double]): Double = {
    require(untraced.nonEmpty && untraced.size == traced.size,
      s"${untraced.size} untraced and ${traced.size} traced operations do not pair")
    100.0 * (median(untraced.zip(traced).map { case (u, t) => t / u }) - 1)
  }

  /** Failed operations over attempted ones; 0 when nothing was attempted. */
  def failedRatio(attempted: Long, failed: Long): Double = {
    require(failed >= 0 && failed <= attempted,
      s"failed ($failed) must lie in [0, attempted ($attempted)]")
    if (attempted == 0) 0.0 else failed.toDouble / attempted
  }
}
