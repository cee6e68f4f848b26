package perfbench

/** Order statistics and interval arithmetic for the benchmark's metrics. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: `value` is the sample at `percentile`, and `samples`
    * is how many samples it was taken from. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that has at least `beyond` samples above it:
    * the (beyond+1)-th largest sample, at percentile 100·(n−beyond)/n.
    * With `beyond` or fewer samples no percentile qualifies, and the
    * maximum is reported at percentile 100 so the record shows it. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - 1 - beyond), 100.0 * (n - beyond) / n, n)
  }

  /** Half-open time interval [start, end) in milliseconds. */
  final case class Iv(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
  }

  /** Sorted, non-overlapping cover of the given intervals. */
  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(_.length > 0).sortBy(_.start).foldLeft(List.empty[Iv]) {
      case (last :: rest, iv) if iv.start <= last.end =>
        Iv(last.start, math.max(last.end, iv.end)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def covered(ivs: Seq[Iv]): Double = union(ivs).map(_.length).sum

  def clip(ivs: Seq[Iv], to: Iv): Seq[Iv] =
    ivs.map(iv => Iv(math.max(iv.start, to.start), math.min(iv.end, to.end)))
      .filter(_.length > 0)

  /** The parts of `a` that no interval of `b` covers. */
  def minus(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = {
    val cut = union(b)
    union(a).flatMap { iv =>
      val (rest, out) = cut.foldLeft((Option(iv), Vector.empty[Iv])) {
        case ((Some(cur), acc), c) if c.end > cur.start && c.start < cur.end =>
          val before = if (c.start > cur.start) acc :+ Iv(cur.start, c.start) else acc
          (if (c.end < cur.end) Some(Iv(c.end, cur.end)) else None, before)
        case (state, _) => state
      }
      out ++ rest
    }
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover, counting time that several children overlap once. */
  def selfTime(parent: Iv, children: Seq[Iv]): Double =
    parent.length - covered(clip(children, parent))
}
