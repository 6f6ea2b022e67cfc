package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be
  * checked on its own (see ArithmeticCheck).
  */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between closest ranks
    * (the default of numpy and of Python's `statistics.quantiles` with
    * `method="inclusive"`).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the `p`th percentile: a percentile is reported
    * only with the number of samples that lie beyond it.
    */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val q = percentile(xs, p)
    xs.count(_ > q)
  }
}

/** One traced interval. Times are nanoseconds on the trace clock.
  * `category` names the layer the span's self time is charged to;
  * `priority` breaks ties between overlapping spans of equal depth.
  */
final case class Span(id: Int, parent: Int, name: String, category: String,
    unit: Int, startNs: Long, endNs: Long, priority: Int = 0,
    tags: Map[String, String] = Map.empty) {
  def durationNs: Long = endNs - startNs
}

object Spans {
  /** Category of time no layer accounts for: the benchmark's own glue. */
  val Unattributed = "unattributed"

  /** Self time per category over `root`'s interval. Each instant is
    * charged to the deepest span active at it (a span's self time is its
    * duration minus what its children cover); among equally deep spans
    * the higher priority wins, then the earlier start. Children are
    * clipped to their parent. The values sum to the root's duration.
    */
  def selfTimes(spans: Seq[Span], rootId: Int): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    val root = byId(rootId)
    val children = spans.filter(_.id != rootId).groupBy(_.parent)
    // clip every descendant to its parent, depth-first from the root
    val clipped = scala.collection.mutable.ArrayBuffer.empty[(Span, Int)]
    def walk(s: Span, depth: Int): Unit = {
      clipped += ((s, depth))
      children.getOrElse(s.id, Nil).foreach { c =>
        val cs = math.max(c.startNs, s.startNs)
        val ce = math.min(c.endNs, s.endNs)
        if (ce > cs) walk(c.copy(startNs = cs, endNs = ce), depth + 1)
      }
    }
    walk(root, 0)
    val bounds = clipped.flatMap { case (s, _) => Seq(s.startNs, s.endNs) }
      .distinct.sorted.toIndexedSeq
    val ord = Ordering.by[(Span, Int), (Int, Int, Long)] {
      case (s, d) => (d, s.priority, -s.startNs)
    }
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var i = 0
    while (i + 1 < bounds.size) {
      val (a, b) = (bounds(i), bounds(i + 1))
      val active = clipped.filter { case (s, _) => s.startNs <= a && s.endNs >= b }
      if (active.nonEmpty) out(active.max(ord)._1.category) += b - a
      i += 1
    }
    out.toMap
  }

  /** Nesting errors: a missing parent, a negative interval, or a child
    * sticking out of its parent by more than `slackNs` (listener job
    * times have millisecond resolution).
    */
  def nestingErrors(spans: Seq[Span], rootId: Int, slackNs: Long): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.flatMap { s =>
      if (s.endNs < s.startNs) Some(s"span ${s.id} ${s.name} ends before it starts")
      else if (s.id == rootId) None
      else byId.get(s.parent) match {
        case None => Some(s"span ${s.id} ${s.name} has no parent ${s.parent}")
        case Some(p) if s.startNs < p.startNs - slackNs || s.endNs > p.endNs + slackNs =>
          Some(s"span ${s.id} ${s.name} [${s.startNs},${s.endNs}] is outside " +
            s"its parent ${p.id} ${p.name} [${p.startNs},${p.endNs}]")
        case _ => None
      }
    }
  }

  /** Innermost span of `calls` containing instant `t`, if any. */
  def innermost(calls: Seq[Span], t: Long): Option[Span] =
    calls.filter(c => c.startNs <= t && t <= c.endNs)
      .maxByOption(c => (c.startNs, -c.endNs))

  /** Source file of a Spark call site such as "count at Pool.scala:263". */
  def callSiteFile(callSite: String): Option[String] =
    """ at ([A-Za-z0-9_$.-]+\.(?:scala|java)):\d+""".r
      .findFirstMatchIn(callSite).map(_.group(1))

  /** Self-time category of a Spark job: jobs submitted from the pool
    * module are the pool's; jobs inside a bus call belong to the bus;
    * otherwise the job is charged to the layer call that ran it.
    */
  def jobCategory(callSite: String, parentCategory: String): String =
    if (callSiteFile(callSite).contains("Pool.scala")) "pool.job"
    else if (parentCategory.startsWith("bus.")) parentCategory
    else if (parentCategory.endsWith(".driver"))
      parentCategory.stripSuffix(".driver") + ".job"
    else Unattributed
}
