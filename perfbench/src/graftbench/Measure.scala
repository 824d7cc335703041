package graftbench

/** The timed window of a closed-loop workload. An untraced run measures
  * the end-to-end metrics over the whole window. A traced run splits the
  * window into quarters run bare, traced, traced, bare (so warm-up drift
  * cancels), reports the per-layer metrics from the traced quarters and
  * the difference of the two sides' median latency as the tracing
  * overhead. */
object Measure {
  /** Runs `slice(traced, quarterIndex)` in the order bare, traced,
    * traced, bare; returns GC seconds spent in the traced quarters. */
  def abba(ctx: Ctx)(slice: (Boolean, Int) => Unit): Double = {
    var gcMs = 0L
    Seq(false, true, true, false).zipWithIndex.foreach { case (on, i) =>
      val gc0 = Jvm.gcMs
      ctx.probe.tracer.on = on
      try slice(on, i) finally ctx.probe.tracer.on = false
      if (on) gcMs += Jvm.gcMs - gc0
    }
    gcMs / 1e3
  }

  def closedLoop(ctx: Ctx, res: Result, clients: Int, salt: Long, p50Classes: Seq[String])
                (next: (Loop, java.util.SplittableRandom) => Unit)
                (layers: (Loop, Double) => Unit): Unit = {
    Setup.done(res)
    if (!ctx.trace) {
      val loop = new Loop(ctx, res, new Samples)
      val secs = loop.window(clients, ctx.seconds, salt)(next(loop, _))
      res.e2e("ops_s") = loop.samples.count / secs
      readMetrics(res, loop.samples.of(p50Classes: _*), loop.samples.all)
      classSummary(res, loop.samples)
    } else {
      val bare = new Loop(ctx, res, new Samples)
      val traced = new Loop(ctx, res, new Samples)
      val gcS = abba(ctx) { (on, i) =>
        val loop = if (on) traced else bare
        loop.window(clients, ctx.seconds / 4, salt + i)(next(loop, _))
      }
      overhead(res, bare.samples, traced.samples)
      layers(traced, gcS)
    }
  }

  /** `p50` are the samples of the median, `all` those of the tail. */
  def readMetrics(res: Result, p50: Seq[Double], all: Seq[Double]): Unit = if (all.nonEmpty) {
    res.e2e("read_p50_ms") = Stats.median(p50)
    val (t, label) = Stats.tail(all)
    res.e2e("read_tail_ms") = t
    res.info("read_tail") = label
  }

  def writeMetrics(res: Result, ms: Seq[Double]): Unit = if (ms.nonEmpty) {
    res.e2e("write_p50_ms") = Stats.median(ms)
    val (t, label) = Stats.tail(ms)
    res.e2e("write_tail_ms") = t
    res.info("write_tail") = label
  }

  /** Per op class, the traced side's median latency over the bare
    * side's, averaged with the traced side's op counts as weights. */
  def overhead(res: Result, bare: Samples, traced: Samples): Unit = {
    val both = traced.classes.filter(c => bare.of(c).nonEmpty)
    val n = both.map(traced.of(_).size).sum
    if (n > 0)
      res.layers("trace.overhead_pct") = both.map { c =>
        val t = traced.of(c)
        t.size * (Stats.median(t) / Stats.median(bare.of(c)) - 1)
      }.sum / n * 100
  }

  /** p10/p50/p90 and count per op class, for the report. */
  def classSummary(res: Result, s: Samples): Unit = s.classes.foreach { c =>
    val xs = s.of(c)
    res.info(s"ms.$c") = Seq(0.1, 0.5, 0.9).map(q => f"${Stats.quantile(xs, q)}%.2f")
      .mkString("p10/p50/p90 ", " ", s" n=${xs.size}")
  }
}
