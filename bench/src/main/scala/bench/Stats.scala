package bench

/** The benchmark's own arithmetic. Pure functions over plain numbers, so
  * `StatsSpec` pins each one without a SparkSession. */
object Stats {

  /** A summary statistic together with the number of samples it rests on. */
  final case class Est(value: Double, n: Long)

  /** Percentile `p` in [0, 1] by linear interpolation between closest
    * ranks (numpy's default). NaN when there are no samples. */
  def percentile(xs: Seq[Double], p: Double): Est = {
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    if (xs.isEmpty) Est(Double.NaN, 0)
    else {
      val s = xs.sorted.toArray
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      Est(s(lo) + (h - lo) * (s(hi) - s(lo)), s.length)
    }
  }

  def median(xs: Seq[Double]): Est = percentile(xs, 0.5)

  /** Weighted percentile: `xs` holds (value, weight) pairs, e.g. one
    * latency per group of records that became visible together. Returns
    * the smallest value whose cumulative weight reaches `p` of the total;
    * `n` is the total weight (the number of records). */
  def weightedPercentile(xs: Seq[(Double, Long)], p: Double): Est = {
    require(p > 0.0 && p <= 1.0, s"weighted percentile $p outside (0, 1]")
    val live = xs.filter(_._2 > 0)
    val total = live.iterator.map(_._2).sum
    if (total == 0L) Est(Double.NaN, 0)
    else {
      val target = p * total
      val it = live.sortBy(_._1).iterator
      var acc = 0L
      var v = Double.NaN
      while (it.hasNext && !(acc >= target)) {
        val (x, w) = it.next(); acc += w; v = x
      }
      Est(v, total)
    }
  }

  /** One generator tick: the time it was due and, per shard, the sequence
    * numbers [from, until) its records received. */
  final case class Tick(dueMs: Double, slices: Map[String, (Long, Long)])

  /** One committed trigger of the view query: when it ended and, per
    * shard, how many records its end offset covers. */
  final case class Commit(endMs: Double, covered: Map[String, Long])

  /** Event-to-view latency per record group. A record of shard `s` with
    * sequence number `q` becomes visible at the first commit (in end-time
    * order) whose `covered(s) > q`. A tick whose records split across
    * commits yields one group per commit. Returns (latency ms, records)
    * pairs plus the number of records no commit covers. */
  def attribute(ticks: Seq[Tick], commits: Seq[Commit]): (Seq[(Double, Long)], Long) = {
    val cs = commits.sortBy(_.endMs).toArray
    val shards = ticks.flatMap(_.slices.keys).distinct
    val out = Seq.newBuilder[(Double, Long)]
    var uncovered = 0L
    shards.foreach { s =>
      // running maximum: a commit never un-covers a record
      var best = 0L
      val reach = cs.map { c => best = math.max(best, c.covered.getOrElse(s, 0L)); best }
      var ci = 0
      ticks.iterator.filter(_.slices.contains(s)).toSeq.sortBy(_.slices(s)._1).foreach { t =>
        val (from, until) = t.slices(s)
        var q = from
        while (q < until) {
          while (ci < cs.length && reach(ci) <= q) ci += 1
          if (ci == cs.length) { uncovered += until - q; q = until }
          else {
            val upto = math.min(until, reach(ci))
            out += ((cs(ci).endMs - t.dueMs, upto - q))
            q = upto
          }
        }
      }
    }
    (out.result(), uncovered)
  }

  /** Total length of the union of half-open intervals [start, end),
    * clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
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

  /** Driver gap of one query: wall time not covered by any of its jobs. */
  def driverGap(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(jobs, start, end)

  /** The backlog-growth flag. `samples` are (seconds, records behind)
    * over the timed window, one per view commit: the records appended but
    * not yet covered when the commit ended. The backlog grows when, within
    * the window's second half, the median of the later half exceeds the
    * median of the earlier half by more than `toleranceRecords`. Medians
    * keep one slow trigger (a fold, and the records it left behind) from
    * passing for growth; a consumer that falls behind raises them all. */
  def backlogGrows(samples: Seq[(Double, Double)], toleranceRecords: Double): Boolean = {
    if (samples.isEmpty) false
    else {
      val t0 = samples.map(_._1).min
      val t1 = samples.map(_._1).max
      val mid = (t0 + t1) / 2
      val q3 = t0 + 3 * (t1 - t0) / 4
      val a = samples.collect { case (t, y) if t >= mid && t < q3 => y }
      val b = samples.collect { case (t, y) if t >= q3 => y }
      a.size >= 2 && b.size >= 2 && median(b).value - median(a).value > toleranceRecords
    }
  }
}
