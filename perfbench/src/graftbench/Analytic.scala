package graftbench

import java.nio.file.Paths

import graft.{QueryCaches, SparkEntry}

/** `analytic`: the Spark-job modules. Each pass runs and `.count()`s one
  * SparkEntry key per module family in a seeded order; row counts are
  * checked against perfbench/analytic_counts.txt. The set-up builds the
  * caches the keys read and runs one untimed first pass (where the keys'
  * memoized builds happen), each timed as its own `setup.*` build; the
  * window then runs whole passes, and starts another only if it is
  * expected to end within the window (a pass takes 8-10 s, so a window
  * of 10-15 s is one pass, never one and a bit). */
object Analytic {
  /** One key per family, at a cost that keeps a pass near ten seconds:
    * among them a streaming query with watermark expiry, the memoized
    * n-gram pair graph, a bitmap-index combine and DDL and DML through
    * the SQL connector. */
  val Keys: Seq[String] = Seq(
    "q3_join_agg", "kv_range_scan", "idx_bitmap_and_or", "sim_filtered_topk",
    "dd_ngram_jaccard", "mm_phash", "txt_pipeline", "st_stream_expire", "sql_ddl_dml")

  val Families: Seq[String] = Seq("relational", "kv", "index", "similarity", "dedup",
    "multimodal", "functions", "streaming", "connector")

  def family(k: String): String = k.takeWhile(_ != '_') match {
    case q if q.matches("q[0-9]+") => "relational"
    case "kv" => "kv"
    case "idx" | "ft" => "index"
    case "sim" => "similarity"
    case "dd" => "dedup"
    case "mm" => "multimodal"
    case "txt" => "functions"
    case "st" | "evt" => "streaming"
    case "sql" => "connector"
    case other => throw new IllegalArgumentException(s"no family for $k ($other)")
  }

  /** Expected row counts, `key count` per line. */
  def expected(): Map[String, Long] = {
    val f = Paths.get(sys.props.getOrElse("graftbench.home", "."), "analytic_counts.txt")
    scala.io.Source.fromFile(f.toFile).getLines().map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, n) = l.split("\\s+"); k -> n.toLong }.toMap
  }

  def order(seed: Long, pass: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed * 131L + pass)
    rnd.shuffle(Keys)
  }

  /** One pass over `keys`, each key's row count checked against `want`. */
  def pass(ctx: Ctx, loop: Loop, keys: Seq[String], want: Map[String, Long]): Unit = {
    val s = ctx.spark
    keys.foreach { k =>
      ctx.probe.streams.currentOp = s"$k#${Loop.ids.get + 1}"
      loop.run(k, s"${family(k)}.$k")(SparkEntry.queries(k)(s, ctx.dataDir).count()) { n =>
        want.get(k) match {
          case Some(c) if c == n => None
          case Some(c) => Some(s"$k returned $n rows, want $c")
          case None => Some(s"$k has no recorded count (got $n)")
        }
      }
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val s = ctx.spark
    val d = ctx.dataDir
    val want = expected()
    val clock = new SetupClock
    // the QueryCaches builds the keys read (idx_bitmap_and_or)
    val builds: Seq[(String, () => Any)] = Seq(
      "orders_bitmaps" -> (() => Seq("o_orderstatus", "o_orderpriority")
        .foreach(c => QueryCaches.ordersBitmap(s, d, c).count())))
    builds.foreach { case (n, f) => clock(s"cache.$n")(f()) }
    val first = new Loop(ctx, res, new Samples)
    pass(ctx, first, order(ctx.seed, 0), want)
    Families.foreach { f =>
      clock.builds(s"first_pass.$f") = Keys.filter(family(_) == f)
        .flatMap(first.samples.of(_)).sum / 1e3
    }
    clock.builds.foreach { case (n, v) => res.layers(s"setup.${n}_s") = v }
    res.layers("setup.caches_s") = builds.map(b => clock.builds(s"cache.${b._1}")).sum

    Setup.done(res)
    val loop = new Loop(ctx, res, new Samples)
    val gc0 = Jvm.gcMs
    ctx.probe.tracer.on = ctx.trace
    val t0 = System.nanoTime()
    var p = 1
    try {
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (p == 1 || elapsed * p / (p - 1) <= ctx.seconds) {
        pass(ctx, loop, order(ctx.seed, p), want)
        p += 1
      }
    } finally ctx.probe.tracer.on = false
    val secs = (System.nanoTime() - t0) / 1e9
    res.e2e("ops_s") = loop.samples.count / secs
    val ms = loop.samples.all
    Measure.readMetrics(res, ms, ms)
    // the keys' latencies differ by 20x, so the median of a pass is
    // whichever key sits in the middle and jumps between runs; the
    // typical key latency is their geometric mean
    res.e2e("read_p50_ms") = math.exp(ms.map(math.log).sum / ms.size)
    res.info("passes") = (p - 1).toString
    if (ctx.trace) layerMetrics(ctx, res, loop, t0, secs, (Jvm.gcMs - gc0) / 1e3, want)
  }

  def layerMetrics(ctx: Ctx, res: Result, loop: Loop, t0: Long, secs: Double,
                   gcS: Double, want: Map[String, Long]): Unit = {
    ctx.probe.drain()
    Families.foreach { f =>
      val ks = Keys.filter(family(_) == f)
      res.layers(s"$f.s") = ks.flatMap(loop.samples.of(_)).sum / 1e3
      res.layers(s"$f.jobs") = ks.flatMap(loop.ids).map(ctx.probe.statsOf(_).jobs).sum.toDouble
    }
    val all = Keys.flatMap(loop.ids).map(ctx.probe.statsOf)
    val wallMs = (secs * 1e3).toLong
    val startMs = System.currentTimeMillis() - ((System.nanoTime() - t0) / 1000000L)
    val busy = {
      val merged = new GroupStats
      all.foreach(g => g.synchronized(merged.intervals ++= g.intervals))
      merged.busyMs(startMs, startMs + wallMs)
    }
    res.layers("analytic.driver_s") = (wallMs - busy) / 1e3
    res.layers("spark.shuffle_bytes") = all.map(_.shuffleBytes).sum.toDouble
    res.layers("jvm.gc_s") = gcS
    // micro-batch buckets of the timed passes' streaming runs only
    val timed = Keys.flatMap(k => loop.ids(k).map(id => s"$k#$id")).toSet
    Seq("queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets").foreach { b =>
      var sum = 0L
      ctx.probe.streams.buckets.forEach { (op, m) =>
        if (timed.contains(op)) m.synchronized(sum += m.getOrElse(b, 0L))
      }
      res.layers(s"streaming.batch.${b}_ms") = sum.toDouble
    }
    // tracing overhead: three cheap keys, bare then traced
    val probeKeys = Seq("idx_bitmap_and_or", "dd_ngram_jaccard", "sim_filtered_topk")
    val bare = new Loop(ctx, res, new Samples)
    val traced = new Loop(ctx, res, new Samples)
    (1 to 3).foreach { _ =>
      pass(ctx, bare, probeKeys, want)
      ctx.probe.tracer.on = true
      try pass(ctx, traced, probeKeys, want) finally ctx.probe.tracer.on = false
    }
    Measure.overhead(res, bare.samples, traced.samples)
  }
}
