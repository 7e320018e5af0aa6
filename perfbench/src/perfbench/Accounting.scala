package perfbench

/** One timed unit of a pass.
  *  - `latency`: an operation (a query, a model run); its wall is a
  *    per-operation percentile sample.
  *  - `wall`: its wall and CPU add to the pass (a query, a dbt
  *    invocation, a sync, a compaction; not a model, whose wall is
  *    already inside its invocation's).
  *  - `counted`: it is an attempted operation for `attempted`/`failed`
  *    (everything but a whole invocation).
  * A failed unit (throw, wrong result, failed sync) is counted as a
  * failure and contributes no timing at all. */
final case class Timed(pass: Int, name: String, seconds: Double,
    cpuNs: Long, latency: Boolean, wall: Boolean, counted: Boolean,
    ok: Boolean, error: String = "")

object Timed {
  /** A query-style operation: a latency sample that is also pass wall. */
  def op(pass: Int, name: String, seconds: Double, cpuNs: Long,
      ok: Boolean, error: String = ""): Timed =
    Timed(pass, name, seconds, cpuNs, latency = true, wall = true,
      counted = true, ok = ok, error = error)
}

final case class Summary(attempted: Int, failed: Int, passS: Seq[Double],
    cpuS: Seq[Double], opS: Seq[Double], failures: Seq[String]) {
  def failRatio: Double =
    if (attempted == 0) 0.0 else failed.toDouble / attempted
}

object Accounting {
  /** `wrong(pass, name)`: the unit's output did not match its expected
    * fingerprint, so that execution is a failure. A pass whose units all
    * failed has no pass sample. */
  def summarize(units: Seq[Timed],
      wrong: (Int, String) => Boolean = (_, _) => false): Summary = {
    def good(u: Timed) = u.ok && !wrong(u.pass, u.name)
    val passes = units.map(_.pass).distinct.sorted
    val perPass = passes.flatMap { p =>
      val g = units.filter(u => u.pass == p && u.wall && good(u))
      if (g.isEmpty) None
      else Some((g.map(_.seconds).sum, g.map(_.cpuNs).sum / 1e9))
    }
    val counted = units.filter(_.counted)
    val bad = counted.filterNot(good)
    Summary(
      attempted = counted.size,
      failed = bad.size,
      passS = perPass.map(_._1), cpuS = perPass.map(_._2),
      opS = units.filter(u => u.latency && good(u)).map(_.seconds),
      failures = bad.map(u => s"pass ${u.pass} ${u.name}: " +
        (if (!u.ok) u.error else "wrong result")).distinct)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the usual "type 7" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}
