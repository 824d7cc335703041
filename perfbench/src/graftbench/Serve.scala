package graftbench

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.Row

import graft.kv.Catalog

/** `serve`: read-only driver serving, two closed-loop clients, no Spark
  * job expected. Mix: 50% point Get (Zipf(1.0) keys, 10% absent),
  * 15% 16-key multi-Get (uniform keys), 15% 200-key range scan, 10%
  * kv-index Get by o_custkey, 10% two-term full-text AND search. */
object Serve {
  val Clients = 2

  final class State(val cat: Catalog, val model: OrdersModel,
                    val hot: Array[Long], val holes: Array[Long],
                    val zipf: Zipf, val ftPairs: IndexedSeq[(Seq[String], Seq[Long])])

  def setup(ctx: Ctx, res: Result): State = {
    val s = ctx.spark
    val model = Inputs.ordersModel(s, ctx.dataDir)
    val merges = cdcBatches(model)
    val cat = Setup.timed(res) { clock =>
      val cat = new Catalog(s, ctx.dir("serve_wh"))
      clock("bulk_load") {
        cat.createTable("ords", Ord.schema, Seq("o_orderkey"))
        cat.bulkLoad("ords", Inputs.orders(s, ctx.dataDir), partitions = 8)
      }
      clock("index_kv") { cat.createIndex("ords", "bycust", "kv", Seq("o_custkey")) }
      clock("cdc_merges") {
        merges.foreach(b => cat.incrementalMergeRows("ords", b.map(_.row).toArray))
      }
      clock("docs_load") {
        val docs = Inputs.documents(s, ctx.dataDir)
        cat.createTable("docs", docs.schema, Seq("doc_id"))
        cat.bulkLoad("docs", docs, partitions = 2)
      }
      clock("index_fulltext") {
        cat.createIndex("docs", "ft", "fulltext", Seq("text"))
      }
      cat
    }
    merges.flatten.foreach(model.put)
    state(ctx, res, cat, model)
  }

  /** Serving state over `cat`'s `ords` (kv index `bycust`) and `docs`
    * (fulltext index `ft`) tables, whose content `model` holds. */
  def state(ctx: Ctx, res: Result, cat: Catalog, model: OrdersModel): State = {
    // ranks of the Zipf distribution map to keys through a fixed
    // permutation: hot keys spread over every file, and every run has
    // the same hot keys (where they live sets what a Get costs)
    val hot = Mix.shuffled(model.keys.toSeq,
      new java.util.SplittableRandom(Inputs.LayoutSeed)).toArray
    val holes = (0L to model.maxKey).filter(Inputs.isHole).filter(model.get(_).isEmpty).toArray
    val t0 = System.nanoTime()
    val pairs = ftOracle(cat, "docs", ctx.seed, 12)
    res.info("oracle_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
    new State(cat, model, hot, holes, new Zipf(hot.length), pairs)
  }

  /** Five 500-key CDC batches (fixed by the layout seed): 400 updates of present keys drawn
    * from a window of a fifth of the key range (so a merge rewrites a
    * few files and hard-links the rest) and 100 inserts above the
    * current maximum key. */
  def cdcBatches(model: OrdersModel): Seq[Seq[Ord]] = {
    val rnd = new java.util.SplittableRandom(Inputs.LayoutSeed)
    val keys = model.keys
    val span = keys.length / 5
    var next = model.maxKey + 1
    (1 to 5).map { _ =>
      val lo = rnd.nextInt(keys.length - span)
      val upd = Iterator.continually(keys(lo + rnd.nextInt(span))).distinct
        .take(400).map(Ord.random(_, rnd)).toSeq
      val ins = (0 until 100).map { _ => next += 1; Ord.random(next - 1, rnd) }
      upd ++ ins
    }
  }

  /** Seeded two-term AND queries over the index dictionary, each with
    * its expected doc ids from the Spark search path. */
  def ftOracle(cat: Catalog, table: String, seed: Long,
               n: Int): IndexedSeq[(Seq[String], Seq[Long])] = {
    val terms = cat.indexDictionary(table, "ft", "fulltext")
      .select("term").collect().map(_.getString(0)).sorted
    val rnd = new java.util.SplittableRandom(seed * 17L + 3L)
    val pairs = Iterator.continually {
      val a = terms(rnd.nextInt(terms.length))
      val b = terms(rnd.nextInt(terms.length))
      Seq(a, b).sorted
    }.filter(p => p(0) != p(1)).distinct.take(n).toIndexedSeq
    val docs = cat.table(table).df
    val postings = cat.indexData(table, "ft", "fulltext")
    pairs.par.map { p =>
      p -> graft.index.FullText.searchAll(docs, "doc_id", postings, p)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    }.seq.toIndexedSeq
  }

  def sameRows(got: Seq[Row], want: Seq[Ord]): Option[String] = {
    val g = got.map(Ord.of).sortBy(_.key)
    val w = want.sortBy(_.key)
    if (g == w) None
    else Some(s"got ${g.size} rows, want ${w.size}; first diff " +
      g.zipAll(w, null, null).find { case (a, b) => a != b })
  }

  /** The mix as a deck of 20 ops; each client deals itself shuffled
    * decks, so every window runs the mix exactly, whatever its length. */
  val Deck: Seq[String] = Seq.fill(9)("get") ++ Seq("get_absent") ++
    Seq.fill(3)("mget") ++ Seq.fill(3)("range") ++ Seq.fill(2)("index_kv") ++
    Seq.fill(2)("index_ft")
  private val hand = new ThreadLocal[Iterator[String]] {
    override def initialValue(): Iterator[String] = Iterator.empty
  }

  /** The calling client's next op of the serve mix. */
  def next(st: State, loop: Loop, rnd: java.util.SplittableRandom): Unit = {
    if (!hand.get.hasNext) hand.set(Mix.shuffled(Deck, rnd).iterator)
    val cat = st.cat
    def zipfKey(): Long = st.hot(st.zipf.sample(rnd))
    hand.get.next() match {
      case "get" =>
        val k = zipfKey()
        loop.run("get", "kv.serve.get")(cat.driverPointGet("ords", k))(
          sameRows(_, st.model.get(k).toSeq))
      case "get_absent" =>
        val k = st.holes(rnd.nextInt(st.holes.length))
        loop.run("get_absent", "kv.serve.get")(cat.driverPointGet("ords", k))(
          rs => if (rs.isEmpty) None else Some(s"absent key $k returned ${rs.size} rows"))
      case "mget" =>
        // uniform keys: a batch's cost is the files it touches, and Zipf
        // keys would make that depend on where the seed put the hot keys
        val ks = Seq.fill(16)(st.hot(rnd.nextInt(st.hot.length))).distinct
        loop.run("mget", "kv.serve.mget")(cat.driverMultiGet("ords", ks.map(Seq(_))))(
          sameRows(_, ks.flatMap(st.model.get)))
      case "range" =>
        val lo = rnd.nextLong(st.model.maxKey - 200)
        loop.run("range", "kv.serve.range")(cat.driverRangeScan("ords", lo, lo + 199))(
          sameRows(_, st.model.range(lo, lo + 199)))
      case "index_kv" =>
        val c = rnd.nextLong(15000L)
        loop.run("index_kv", "index.serve.kv_get")(
          cat.driverIndexGet("ords", "bycust", Seq(c)))(sameRows(_, st.model.ofCust(c)))
      case _ =>
        val (terms, want) = st.ftPairs(rnd.nextInt(st.ftPairs.length))
        loop.run("index_ft", "index.serve.ft")(cat.driverFtSearch("docs", "ft", terms))(
          got => {
            val g = got.map(_.asInstanceOf[Long]).sorted
            if (g == want) None else Some(s"ft $terms: ${g.size} ids, want ${want.size}")
          })
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val st = setup(ctx, res)
    val warm = new Loop(ctx, res, new Samples)
    val tw = System.nanoTime()
    warm.window(Clients, 3.0, salt = 1)(next(st, warm, _))
    res.layers("setup.warmup_s") = (System.nanoTime() - tw) / 1e9
    // the median is taken over point Gets: half the mix, so the median
    // of all ops would sit on the boundary between two op classes
    Measure.closedLoop(ctx, res, Clients, salt = 2, Seq("get", "get_absent"))(
      next(st, _, _))((loop, gcS) => layerMetrics(ctx, res, st, loop, gcS))
  }

  def layerMetrics(ctx: Ctx, res: Result, st: State, loop: Loop, gcS: Double): Unit = {
    val s = loop.samples
    def med(c: String) = if (s.of(c).isEmpty) 0.0 else Stats.median(s.of(c))
    res.layers("kv.serve.get_ms") = med("get")
    res.layers("kv.serve.get_absent_ms") = med("get_absent")
    res.layers("kv.serve.mget_ms_per_key") = med("mget") / 16
    res.layers("kv.serve.range_ms") = med("range")
    res.layers("index.serve.kv_get_ms") = med("index_kv")
    res.layers("index.serve.ft_ms") = med("index_ft")
    // metadata resolution, timed as separate calls (not inside an op)
    val meta = (1 to 200).map { _ =>
      val t0 = System.nanoTime()
      st.cat.dataVersionOf("ords"); st.cat.schemaOf("ords"); st.cat.primaryKeyOf("ords")
      (System.nanoTime() - t0) / 1e6
    }
    res.layers("kv.meta.resolve_ms") = Stats.median(meta)
    val rangeRows = (1 to 20).map { i =>
      val lo = (i * 7919L) % (st.model.maxKey - 200)
      st.cat.driverRangeScan("ords", lo, lo + 199).size.toDouble
    }
    res.layers("kv.serve.range_rows") = rangeRows.sum / rangeRows.size
    ctx.probe.drain()
    val all = Seq("get", "get_absent", "mget", "range", "index_kv", "index_ft")
      .flatMap(loop.ids)
    res.layers("kv.serve.jobs") = all.map(ctx.probe.statsOf(_).jobs).sum.toDouble
    res.layers("jvm.alloc_kb_per_op") = loop.allocBytes.sum / 1024.0 / (s.count max 1)
    res.layers("jvm.gc_s") = gcS
  }
}
