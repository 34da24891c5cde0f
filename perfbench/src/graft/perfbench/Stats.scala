package graft.perfbench

/** The benchmark's arithmetic: percentiles, and self time over spans. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest percentile of `ladder` that has at least `minBeyond`
    * samples beyond it, or None when even the lowest has too few. */
  def highestSupported(n: Int, ladder: Seq[Double] = Seq(50, 80, 90, 95, 99, 99.9),
                       minBeyond: Int = 10): Option[Double] =
    ladder.filter(p => beyond(n, p) >= minBeyond).lastOption

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: each instant of an entry's wall time goes to
    * the deepest span open at that instant. So a span keeps its duration
    * minus the part of it that its children cover, overlapping children
    * count once, and parallel siblings (concurrent jobs, tasks) are not
    * counted twice; the layers partition the entry's wall time. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = {
      var d = 0
      var p = s.parent
      while (byId.contains(p)) { d += 1; p = byId(p).parent }
      d
    }
    val depthOf = spans.map(s => s.id -> depth(s)).toMap
    val out = scala.collection.mutable.Map.empty[String, Double]
    spans.groupBy(_.entry).values.foreach { es =>
      es.find(s => !byId.contains(s.parent)).foreach { root =>
        val cuts = es.flatMap(s => Seq(s.start, s.end))
          .filter(t => t >= root.start && t <= root.end).distinct.sorted
        cuts.zip(cuts.tail).foreach { case (a, b) =>
          val top = es.filter(s => s.start <= a && s.end >= b).maxBy(s => depthOf(s.id))
          out(top.layer) = out.getOrElse(top.layer, 0.0) + (b - a)
        }
      }
    }
    out.toMap
  }
}

/** One timed interval (epoch milliseconds) at a layer boundary. `entry`
  * is the id every span of one registry entry or operation shares;
  * `parent` is -1 for the entry span itself. */
final case class Span(id: Long, parent: Long, entry: Long, name: String,
                      layer: String, start: Double, end: Double) {
  def duration: Double = end - start
}
