package graftbench

import org.apache.spark.sql.Row

/** `sql`: the SQL front door. One closed-loop client sends statements to
  * `spark.sql` against a GraftCatalog warehouse holding the 4-column
  * orders table. Statements come in seeded cycles of 20 with the exact
  * mix 12 point SELECT, 2 IN (8 keys), 2 BETWEEN k AND k+200, 1 GROUP BY
  * aggregate, 2 single-row INSERT of new keys, 1 DELETE by key; the
  * window ends on a cycle boundary so every run sees the same mix. */
object SqlFront {
  val Cycle: Seq[String] =
    Seq.fill(12)("point") ++ Seq.fill(2)("in") ++ Seq.fill(2)("range") ++
      Seq("agg") ++ Seq.fill(2)("insert") ++ Seq("delete")
  val Classes = Seq("point", "in", "range", "agg", "insert", "delete")
  private val Cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"

  final class State(val model: OrdersModel, var nextKey: Long)

  def setup(ctx: Ctx, res: Result): State = {
    val s = ctx.spark
    val model = Inputs.ordersModel(s, ctx.dataDir)
    Setup.timed(res) { clock =>
      clock("sql_catalog") {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.kv.connector.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", ctx.dir("sql_wh"))
        s.sql("CREATE TABLE graft.ords (o_orderkey BIGINT NOT NULL, " +
          "o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) " +
          "TBLPROPERTIES ('primaryKey'='o_orderkey')")
      }
      clock("sql_load") {
        Inputs.orders(s, ctx.dataDir).createOrReplaceTempView("orders_src")
        s.sql(s"INSERT INTO graft.ords SELECT $Cols FROM orders_src")
      }
    }
    new State(model, model.maxKey + 1)
  }

  /** The statement for one op of class `cls`, its expected-result check
    * and the model update it implies once acknowledged. */
  def statement(st: State, cls: String, rnd: java.util.SplittableRandom)
      : (String, Array[Row] => Option[String], () => Unit) = {
    val m = st.model
    val maxKey = m.maxKey
    def same(want: Seq[Ord]): Array[Row] => Option[String] =
      got => Serve.sameRows(got.toSeq, want)
    cls match {
      case "point" =>
        val k = rnd.nextLong(maxKey + 1)
        (s"SELECT $Cols FROM graft.ords WHERE o_orderkey = $k",
          same(m.get(k).toSeq), () => ())
      case "in" =>
        val ks = Seq.fill(8)(rnd.nextLong(maxKey + 1)).distinct
        (s"SELECT $Cols FROM graft.ords WHERE o_orderkey IN (${ks.mkString(", ")})",
          same(ks.flatMap(m.get)), () => ())
      case "range" =>
        val k = rnd.nextLong(maxKey - 200)
        (s"SELECT $Cols FROM graft.ords WHERE o_orderkey BETWEEN $k AND ${k + 200}",
          same(m.range(k, k + 200)), () => ())
      case "agg" =>
        val want = m.synchronized {
          import scala.jdk.CollectionConverters._
          m.rows.values().asScala.groupBy(_.status)
            .map { case (st, os) => st -> (os.size.toLong, os.iterator.map(_.price).sum) }
        }
        ("SELECT o_orderstatus, count(*), sum(o_totalprice) FROM graft.ords " +
          "GROUP BY o_orderstatus",
          got => {
            val g = got.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
            val ok = g.keySet == want.keySet && g.forall { case (k, (n, sum)) =>
              n == want(k)._1 && math.abs(sum - want(k)._2) <= 1e-6 * math.abs(sum) }
            if (ok) None else Some(s"aggregate $g, want $want")
          }, () => ())
      case "insert" =>
        val o = Ord.random(st.nextKey, rnd)
        st.nextKey += 1
        (s"INSERT INTO graft.ords VALUES (${o.key}, ${o.cust}, '${o.status}', ${o.price})",
          _ => None, () => m.put(o))
      case "delete" =>
        val k = m.keys(rnd.nextInt(m.size))
        (s"DELETE FROM graft.ords WHERE o_orderkey = $k", _ => None, () => m.delete(k))
    }
  }

  /** One statement, timed; traced runs split it into analysis
    * (`spark.sql`), physical planning and execution (`collect`). DML runs
    * eagerly inside `spark.sql`, so its whole cost books as execution and
    * its analysis is timed on a separate, unexecuted QueryExecution. */
  def exec(ctx: Ctx, loop: Loop, st: State, cls: String,
           rnd: java.util.SplittableRandom, phases: Phases): Unit = {
    val s = ctx.spark
    val (q, check, apply) = statement(st, cls, rnd)
    val dml = cls == "insert" || cls == "delete"
    if (dml && ctx.probe.tracer.on) {
      val t0 = System.nanoTime()
      s.sessionState.executePlan(s.sessionState.sqlParser.parsePlan(q)).analyzed
      phases.add(cls, "analyze", (System.nanoTime() - t0) / 1e6)
    }
    val out = loop.run(cls, s"connector.$cls") {
      if (dml) { phases.timed(cls, "exec")(s.sql(q).collect()) }
      else {
        val df = phases.timed(cls, "analyze")(s.sql(q))
        phases.timed(cls, "plan")(df.queryExecution.executedPlan)
        phases.timed(cls, "exec")(df.collect())
      }
    }(check)
    if (out.isDefined) apply()
  }

  /** Per-class analysis/plan/exec samples (traced half only). */
  final class Phases(ctx: Ctx) {
    val samples = new Samples
    def add(cls: String, phase: String, ms: Double): Unit =
      if (ctx.probe.tracer.on) samples.add(s"$cls.$phase", ms)
    def timed[A](cls: String, phase: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally add(cls, phase, (System.nanoTime() - t0) / 1e6)
    }
  }

  /** Whole cycles until `seconds` have passed. Returns elapsed seconds. */
  def window(ctx: Ctx, loop: Loop, st: State, seconds: Double, salt: Long,
             phases: Phases): Double = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + salt)
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) {
      Mix.shuffled(Cycle, rnd).foreach(exec(ctx, loop, st, _, rnd, phases))
    }
    (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val st = setup(ctx, res)
    val phases = new Phases(ctx)
    // warm-up: one statement of each class
    val tw = System.nanoTime()
    val warm = new Loop(ctx, res, new Samples)
    val warmRnd = new java.util.SplittableRandom(ctx.seed)
    Classes.foreach(exec(ctx, warm, st, _, warmRnd, phases))
    res.layers("setup.warmup_s") = (System.nanoTime() - tw) / 1e9
    Setup.done(res)
    if (!ctx.trace) {
      val loop = new Loop(ctx, res, new Samples)
      val secs = window(ctx, loop, st, ctx.seconds, salt = 2, phases)
      res.e2e("ops_s") = loop.samples.count / secs
      val reads = loop.samples.of("point", "in", "range", "agg")
      Measure.readMetrics(res, reads, reads)
      Measure.classSummary(res, loop.samples)
      Measure.writeMetrics(res, loop.samples.of("insert", "delete"))
    } else {
      val bare = new Loop(ctx, res, new Samples)
      val traced = new Loop(ctx, res, new Samples)
      Measure.abba(ctx) { (on, i) =>
        window(ctx, if (on) traced else bare, st, ctx.seconds / 4, salt = 2 + i, phases)
      }
      Measure.overhead(res, bare.samples, traced.samples)
      ctx.probe.drain()
      Classes.foreach { c =>
        Seq("analyze", "plan", "exec").foreach { p =>
          val xs = phases.samples.of(s"$c.$p")
          res.layers(s"connector.$c.${p}_ms") = if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        val ids = traced.ids(c)
        res.layers(s"connector.$c.jobs") =
          if (ids.isEmpty) 0.0 else ids.map(ctx.probe.statsOf(_).jobs).sum.toDouble / ids.size
      }
      val sel = Seq("point", "in", "range", "agg").flatMap(traced.ids)
      res.layers("connector.select.input_bytes") =
        if (sel.isEmpty) 0.0 else sel.map(ctx.probe.statsOf(_).inputBytes).sum.toDouble / sel.size
    }
    verifyFinal(ctx, st, res)
  }

  /** Full table content after the run equals the model. */
  def verifyFinal(ctx: Ctx, st: State, res: Result): Unit = {
    val got = ctx.spark.sql(s"SELECT $Cols FROM graft.ords").collect()
    Serve.sameRows(got.toSeq, st.model.synchronized {
      import scala.jdk.CollectionConverters._
      st.model.rows.values().asScala.toSeq
    }).foreach(m => res.fail(s"final table content: $m"))
  }
}
