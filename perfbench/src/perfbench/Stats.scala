package perfbench

/** One timed operation: its kind (a query, or a file kind), its wall
  * seconds and Java-thread CPU seconds ([[Ctx.cpu]]), and `n`, its pass
  * or its occurrence among the operations of its kind. */
final case class Sample(kind: String, wallS: Double, cpuS: Double, n: Int)

/** Order statistics for the reported timings. */
object Stats {
  /** Linear-interpolation quantile of `xs` (NumPy's default, R type 7). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** One pass over a run's fixed mix of kinds (a query, or a file size
    * stratum): the sum over kinds of the median of `f`. Pooled
    * percentiles of such a mix fall into the gaps between kinds and swing
    * with small shifts, so each kind is summarised by its median. */
  def pass(samples: Seq[Sample], f: Sample => Double): Double =
    samples.groupBy(_.kind).values.map(s => median(s.map(f))).sum

  /** The end-to-end metrics of a run, as (name, value, unit):
    * `pass_cpu_s`, the CPU seconds of one pass, and `rows_per_cpu_s`,
    * rows over the CPU seconds of all operations. They count CPU time,
    * not wall time: episodes of time the host steals from the virtual
    * CPUs made whole runs 20-45 % slower in wall time, and moved CPU
    * time by about a tenth. */
  def endToEnd(samples: Seq[Sample], rows: Double): Seq[(String, Double, String)] =
    Seq(("pass_cpu_s", pass(samples, _.cpuS), "s"),
      ("rows_per_cpu_s", rows / samples.map(_.cpuS).sum, "1/s"))

  /** Tracing overhead of a traced run whose operations of each kind are
    * partly traced (the Boolean): per kind, the median traced time minus
    * the median untraced one, summed over the kinds that have both: the
    * traced wall-time pass minus the untraced one. */
  def traceOverhead(samples: Seq[(String, Double, Boolean)]): Double =
    samples.groupBy(_._1).values.collect {
      case s if s.exists(_._3) && s.exists(!_._3) =>
        median(s.filter(_._3).map(_._2)) - median(s.filterNot(_._3).map(_._2))
    }.sum
}
