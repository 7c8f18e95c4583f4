package cdcbench

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  /** Linear-interpolation quantile (`q` in [0,1]) between order statistics
    * (Hyndman-Fan type 7, numpy's default); q = 0.5 equals Python's
    * `statistics.median`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0,1]")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quartiles exactly as Python's `statistics.quantiles(xs, n=4)` (default
    * 'exclusive' method) computes them, so the spread a run prints is the
    * spread the acceptance check computes. Needs at least two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val d = xs.sorted
    val ld = d.size
    val m = ld + 1
    def at(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (at(1), at(2), at(3))
  }

  /** Length of the union of half-open intervals `[start, end)`, each clipped
    * to `[lo, hi)`. Overlapping and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time in `[lo, hi)` covered by none of `intervals`: a span's self time
    * when the intervals are its children, its driver time when they are the
    * Spark stages it issued. */
  def uncovered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(intervals, lo, hi)
}

/** Attempted/failed accounting for the timed operations of one run. A failed
  * operation adds to `failed` and never contributes a timing sample. */
final class OpLog {
  private val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  private var attemptedN = 0L
  private var failedN = 0L
  private val errors = Vector.newBuilder[String]

  def attempted: Long = attemptedN
  def failed: Long = failedN
  def errorRate: Double = OpLog.errorRate(failedN, attemptedN)
  def errorMessages: Seq[String] = errors.result()

  /** Times `op` as one operation of `kind`; returns its result and elapsed
    * milliseconds, or None when it threw. */
  def timed[T](kind: String)(op: => T): Option[(T, Double)] = {
    attemptedN += 1
    val t0 = System.nanoTime()
    try {
      val r = op
      val ms = (System.nanoTime() - t0) / 1e6
      add(kind, ms)
      Some((r, ms))
    } catch {
      case e: Exception =>
        fail(kind, e.toString)
        None
    }
  }

  /** Records an operation that completed but whose result was wrong. */
  def fail(kind: String, why: String): Unit = {
    failedN += 1
    errors += s"$kind: $why"
  }

  def add(kind: String, ms: Double): Unit =
    samples.update(kind, samples.getOrElse(kind, Vector.empty) :+ ms)

  /** Withdraws the last sample of `kind`, for an operation whose timing was
    * recorded before a check of its output failed. */
  def dropLast(kind: String): Unit =
    samples.get(kind).foreach(v => samples.update(kind, v.dropRight(1)))

  def of(kind: String): Vector[Double] = samples.getOrElse(kind, Vector.empty)
  def kinds: Seq[String] = samples.keys.toSeq
}

object OpLog {
  def errorRate(failed: Long, attempted: Long): Double =
    if (attempted == 0) 0.0 else failed.toDouble / attempted
}
