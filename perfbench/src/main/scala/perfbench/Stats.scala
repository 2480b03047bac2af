package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** The benchmark's pure arithmetic: entry order, medians, the tail
  * percentile rule, and interval unions for span self times. Times are
  * plain numbers here; callers choose the unit. */
object Stats {

  /** The order of entries within every pass of one run: a
    * Fisher-Yates shuffle driven only by the run's seed. */
  def seededOrder[A](xs: Seq[A], seed: Long): Seq[A] = {
    val rnd = new java.util.Random(seed)
    val a = ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100 * n - 1e-9).toInt)

  private val tailCandidates = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest of the usual percentiles that still has at least ten
    * samples at or beyond its nearest rank: p90 for 144 or 94 samples,
    * p75 for 41. Below 19 samples no candidate qualifies and the median
    * is used. */
  def tailPercentile(n: Int): Double =
    tailCandidates.find(p => n - rank(n, p) + 1 >= 10).getOrElse(50.0)

  def percentile(xs: Seq[Double], p: Double): Double = xs.sorted.apply(rank(xs.size, p) - 1)

  /** Half-open [start, end) intervals merged where they overlap or touch. */
  def union(xs: Seq[(Long, Long)]): List[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** Length of [lo, hi) that at least one of `xs` covers. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    union(xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }).map { case (a, b) => b - a }.sum

  final case class Node(id: Long, parent: Long, start: Long, end: Long)

  /** Self time of every span: its duration minus the part of it that
    * the union of its children covers. */
  def selfTimes(spans: Seq[Node]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> ((s.end - s.start) - covered(cs, s.start, s.end))
    }.toMap
  }
}
