package graftbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.kv.Catalog

/** Versioned oracle for a table under one writer: every commit stages
  * its changes under a sequence number before it runs; a reader that
  * started after commit `acked` must see the state of some version in
  * [acked, pending]. */
final class History[K, V](base: K => Option[V]) {
  private val hist = mutable.HashMap[K, List[(Long, Option[V])]]()
  @volatile var acked = 0L
  @volatile var pending = 0L

  def stage(seq: Long, changes: Iterable[(K, Option[V])]): Unit = synchronized {
    changes.foreach { case (k, v) => hist(k) = (seq, v) :: hist.getOrElse(k, Nil) }
    pending = seq
  }
  def ack(seq: Long): Unit = acked = seq
  /** A commit that does not touch this table still opens a version. */
  def advance(seq: Long): Unit = synchronized { pending = pending max seq }

  def at(k: K, seq: Long): Option[V] = synchronized {
    hist.get(k).flatMap(_.find(_._1 <= seq)) match {
      case Some((_, v)) => v
      case None => base(k)
    }
  }
  def touched: Set[K] = synchronized(hist.keySet.toSet)
}

/** `ingest`: CDC writes with a reader beside them. One writer thread runs
  * a fixed cycle of commits with seeded content; one reader thread runs
  * point Gets of keys from the last acknowledged commit (70%), kv-index
  * Gets (20%) and full-text searches for the last document batch's
  * marker term (10%). The end-to-end op is the commit. */
object Ingest {
  /** M = incrementalMergeRows of 200 orders, F = incrementalMerge of a
    * 5,000-row DataFrame, D = incrementalMergeRows of 20 documents,
    * T = transaction deleting 50 orders and 5 documents, then a refresh
    * of the documents' fulltext index and the orders' bitmap index
    * (stale after a transaction by contract), C = compact.
    * The order is fixed (content is seeded); every window starts at
    * position 0 and ends on a cycle boundary, so every run measures the
    * same commit mix. */
  val CycleOps: Seq[Char] = "MDTMCF".toSeq

  final class State(val cat: Catalog, val wh: String, base: OrdersModel,
                    docIds: Set[Long], seed: Long) {
    val orders = new History[Long, Ord](k => base.get(k))
    val docs = new History[Long, Boolean](k => if (docIds.contains(k)) Some(true) else None)
    val current = new OrdersModel
    base.synchronized(base.rows.values().asScala.foreach(current.put))
    val docsLive = mutable.Set[Long]() ++ docIds
    var nextDoc: Long = docIds.max + 1
    var nextKey: Long = base.maxKey + 1
    val baseCust: Long => Seq[Long] = c => base.ofCust(c).map(_.key)
    /** seq -> (marker term, doc ids) of each document batch */
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, (String, Seq[Long])]()
    @volatile var lastBatch = 0L
    /** seq -> keys written by that order commit, for the reader */
    val written = new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()
    @volatile var lastWrite = 0L
    val rnd = new java.util.SplittableRandom(seed * 7919L + 11L)
  }

  private val vocab = Array("a", "agg", "batch", "big", "column", "data", "fast",
    "join", "key", "merge", "query", "row", "scan", "spark", "stream", "table")

  def setup(ctx: Ctx, res: Result): State = {
    val s = ctx.spark
    val base = Inputs.ordersModel(s, ctx.dataDir)
    val docIds = Inputs.documents(s, ctx.dataDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val wh = ctx.dir("ingest_wh")
    val cat = Setup.timed(res) { clock =>
      val cat = new Catalog(s, wh)
      clock("bulk_load") {
        cat.createTable("ords", Ord.schema, Seq("o_orderkey"))
        cat.bulkLoad("ords", Inputs.orders(s, ctx.dataDir), partitions = 8)
      }
      clock("index_kv") { cat.createIndex("ords", "bycust", "kv", Seq("o_custkey")) }
      clock("index_bitmap") {
        cat.createIndex("ords", "bystatus", "bitmap", Seq("o_orderstatus"))
      }
      clock("docs_load") {
        val docs = Inputs.documents(s, ctx.dataDir)
        cat.createTable("docs", docs.schema, Seq("doc_id"))
        cat.bulkLoad("docs", docs, partitions = 2)
      }
      clock("index_fulltext") { cat.createIndex("docs", "ft", "fulltext", Seq("text")) }
      cat
    }
    new State(cat, wh, base, docIds, ctx.seed)
  }

  /** 200 (or n) order rows: 70% of keys from the newest 5% of the key
    * range or new keys above the max, 30% uniform over present keys. */
  def orderRows(st: State, n: Int): Seq[Ord] = {
    val r = st.rnd
    val keys = st.current.keys
    val recentLo = (keys.length * 0.95).toInt
    val ks = mutable.LinkedHashSet[Long]()
    while (ks.size < n) {
      val x = r.nextInt(100)
      if (x < 35) ks += keys(recentLo + r.nextInt(keys.length - recentLo))
      else if (x < 70) { ks += st.nextKey; st.nextKey += 1 }
      else ks += keys(r.nextInt(keys.length))
    }
    ks.toSeq.map(Ord.random(_, r))
  }

  def docRows(st: State, seq: Long, schema: StructType): (String, Seq[Row]) = {
    val term = s"batchmark$seq"
    val rows = (0 until 20).map { _ =>
      val id = st.nextDoc
      st.nextDoc += 1
      val text = (Seq.fill(10 + st.rnd.nextInt(30))(vocab(st.rnd.nextInt(vocab.length))) :+
        term).mkString(" ")
      Row(id, text, "en", s"src${id % 20}", text.length.toLong)
    }
    require(schema.fieldNames.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"),
      s"unexpected documents schema ${schema.simpleString}")
    (term, rows)
  }

  /** Per-commit observations (traced half). */
  final case class CommitObs(kind: Char, ms: Double, op: Long, t0: Long, t1: Long,
                             disk: Disk.Delta, attempts: Int)

  /** Runs commit `seq` of kind `kind`; returns the user rows it
    * acknowledged (0 when it failed). */
  def commit(ctx: Ctx, st: State, loop: Loop, seq: Long, kind: Char,
             obs: mutable.ArrayBuffer[CommitObs]): Int = {
    val cat = st.cat
    val root = Paths.get(st.wh)
    val before = if (ctx.probe.tracer.on) Disk.walk(root) else Nil
    var rows = 0
    var attempts = 0
    var keys: Array[Long] = Array.empty
    val cls = kind match {
      case 'M' | 'F' => if (kind == 'M') "merge_rows" else "merge_df"
      case 'D' => "merge_docs"
      case 'T' => "txn"
      case _ => "compact"
    }
    val action: () => Unit = kind match {
      case 'M' | 'F' =>
        val os = orderRows(st, if (kind == 'M') 200 else 5000)
        rows = os.size
        keys = os.map(_.key).toArray
        st.orders.stage(seq, os.map(o => o.key -> Some(o)))
        os.foreach(st.current.put)
        if (kind == 'M') () => cat.incrementalMergeRows("ords", os.map(_.row).toArray)
        else () => {
          val df = ctx.spark.createDataFrame(os.map(_.row).asJava, Ord.schema)
          cat.incrementalMerge("ords", df)
        }
      case 'D' =>
        val (term, rs) = docRows(st, seq, cat.schemaOf("docs"))
        rows = rs.size
        st.docs.stage(seq, rs.map(r => r.getLong(0) -> Some(true)))
        st.docsLive ++= rs.map(_.getLong(0))
        st.batches.put(seq, (term, rs.map(_.getLong(0))))
        () => cat.incrementalMergeRows("docs", rs.toArray)
      case 'T' =>
        val present = st.current.keys
        val dels = Iterator.continually(present(st.rnd.nextInt(present.length)))
          .distinct.take(50).toSeq
        val live = st.docsLive.toArray.sorted
        val docDels = Iterator.continually(live(st.rnd.nextInt(live.length))).distinct.take(5).toSeq
        rows = dels.size + docDels.size
        st.orders.stage(seq, dels.map(_ -> None))
        st.docs.stage(seq, docDels.map(_ -> None))
        dels.foreach(st.current.delete)
        st.docsLive --= docDels
        () => cat.transactionWithRetry() { t =>
          attempts += 1
          t.delete("ords", dels)
          t.delete("docs", docDels)
        }
      case _ =>
        () => cat.compact("ords")
    }
    st.orders.advance(seq)
    st.docs.advance(seq)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val committed = loop.run(cls, s"kv.commit.$cls")(action())(_ => None)
    val ms = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    // a transaction leaves the analytic indexes (fulltext, bitmap) stale
    // by contract, and a stale index gets no segment maintenance from
    // later merges; the writer refreshes both, and acknowledges the
    // commit only then, so a reader is never held to the post-image
    // before the index has it
    val out = committed.flatMap(_ =>
      if (kind != 'T') committed
      else loop.run("refresh_ft", "index.refresh.ft")(
        cat.refreshIndex("docs", "ft", "fulltext"))(_ => None).flatMap(_ =>
        loop.run("refresh_bitmap", "index.refresh.bitmap")(
          cat.refreshIndex("ords", "bystatus", "bitmap"))(_ => None)))
    if (out.isDefined) {
      kind match {
        case 'M' | 'F' => st.written.put(seq, keys); st.lastWrite = seq
        case 'D' => st.lastBatch = seq
        case _ =>
      }
      st.orders.ack(seq)
      st.docs.ack(seq)
    }
    if (ctx.probe.tracer.on) {
      val live = Some(Paths.get(cat.liveDataPath("ords")))
      obs += CommitObs(kind, ms, loop.lastId.get, t0, t1,
        Disk.delta(root, before, Disk.walk(root), live), attempts)
    }
    if (out.isDefined) rows else 0
  }

  /** One reader op. The versions it may observe are those from the last
    * acknowledged commit before the call to the last staged one after. */
  def read(st: State, loop: Loop, rnd: java.util.SplittableRandom): Unit = {
    val cat = st.cat
    val x = rnd.nextInt(100)
    val batch = Option(st.batches.get(st.lastBatch))
    val written = Option(st.written.get(st.lastWrite)).getOrElse(Array(0L))
    if (x < 70 || (x >= 90 && batch.isEmpty)) {
      val k = written(rnd.nextInt(written.length))
      val lo = st.orders.acked
      loop.run("get_under_write", "kv.serve.get")(cat.driverPointGet("ords", k)) { rs =>
        val got = rs.map(Ord.of)
        if ((lo to st.orders.pending).exists(v => st.orders.at(k, v).toSeq == got)) None
        else Some(s"key $k: got $got at versions $lo..${st.orders.pending}")
      }
    } else if (x < 90) {
      val lo = st.orders.acked
      val c = st.orders.at(written(rnd.nextInt(written.length)), lo).map(_.cust)
        .getOrElse(rnd.nextLong(15000L))
      loop.run("index_kv", "index.serve.kv_get")(
        cat.driverIndexGet("ords", "bycust", Seq(c))) { rs =>
        val got = rs.map(Ord.of).sortBy(_.key)
        val cands = (st.baseCust(c) ++ st.orders.touched).distinct
        def at(v: Long) = cands.flatMap(k => st.orders.at(k, v)).filter(_.cust == c).sortBy(_.key)
        if ((lo to st.orders.pending).exists(v => at(v) == got)) None
        else Some(s"custkey $c: ${got.size} rows at versions $lo..${st.orders.pending}")
      }
    } else {
      val (term, ids) = batch.get
      val lo = st.docs.acked
      loop.run("index_ft", "index.serve.ft")(cat.driverFtSearch("docs", "ft", Seq(term))) { got =>
        val g = got.map(_.asInstanceOf[Long]).sorted
        if ((lo to st.docs.pending).exists(v => ids.filter(st.docs.at(_, v).isDefined).sorted == g))
          None
        else Some(s"term $term: ${g.size} ids at versions $lo..${st.docs.pending}")
      }
    }
  }

  /** Writer for whole cycles (at least one) until `seconds` have
    * passed, reader beside it until the writer stops. */
  def window(ctx: Ctx, st: State, writer: Loop, reader: Loop, seconds: Double,
             seqs: Iterator[Long], salt: Long,
             obs: mutable.ArrayBuffer[CommitObs]): (Int, Int) = {
    @volatile var stop = false
    var commits = 0
    var rows = 0
    val rt = new Thread(() => {
      val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + salt)
      val a0 = Jvm.allocatedBytes()
      while (!stop) read(st, reader, rnd)
      reader.allocBytes.add(Jvm.allocatedBytes() - a0)
    }, "bench-reader")
    rt.setDaemon(true)
    rt.start()
    val t0 = System.nanoTime()
    try {
      var i = 0
      while (i % CycleOps.size != 0 || i == 0 || System.nanoTime() - t0 < seconds * 1e9) {
        rows += commit(ctx, st, writer, seqs.next(), CycleOps(i % CycleOps.size), obs)
        commits += 1
        i += 1
      }
    } finally { stop = true; rt.join() }
    (commits, rows)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val st = setup(ctx, res)
    val seqs = Iterator.from(1).map(_.toLong)
    val none = mutable.ArrayBuffer[CommitObs]()
    val root = Paths.get(st.wh)
    val bytesPerRow = Disk.walk(Paths.get(st.cat.liveDataPath("ords")))
      .filter(_.path.getFileName.toString.endsWith(".parquet")).map(_.size).sum.toDouble /
      st.current.size
    // warm-up: one row merge (the first commit of a JVM pays for code
    // paths nothing in the set-up ran) and reads
    val tw = System.nanoTime()
    val warm = new Loop(ctx, res, new Samples)
    commit(ctx, st, warm, seqs.next(), 'M', none)
    val warmRnd = new java.util.SplittableRandom(ctx.seed)
    (1 to 30).foreach(_ => read(st, warm, warmRnd))
    res.layers("setup.warmup_s") = (System.nanoTime() - tw) / 1e9
    Setup.done(res)
    val writes = Seq("merge_rows", "merge_df", "merge_docs", "txn", "refresh_ft",
      "refresh_bitmap", "compact")
    if (!ctx.trace) {
      val w = new Loop(ctx, res, new Samples)
      val r = new Loop(ctx, res, new Samples)
      val before = Disk.walk(root)
      val (commits, rows) = window(ctx, st, w, r, ctx.seconds, seqs, 2, none)
      val d = Disk.delta(root, before, Disk.walk(root), None)
      val lat = w.samples.of(writes: _*)
      res.e2e("ops_s") = commits / (lat.sum / 1e3)
      Measure.readMetrics(res, r.samples.all, r.samples.all)
      Measure.classSummary(res, r.samples)
      Measure.classSummary(res, w.samples)
      Measure.writeMetrics(res, lat)
      res.e2e("rows_written_s") = rows / (lat.sum / 1e3)
      res.e2e("write_amp") = (d.tableBytes + d.indexBytes) / (rows * bytesPerRow)
      res.info("commits") = commits.toString
    } else {
      // one whole traced cycle, so every commit kind is attributed
      val w = new Loop(ctx, res, new Samples)
      val r = new Loop(ctx, res, new Samples)
      val obs = mutable.ArrayBuffer[CommitObs]()
      val gc0 = Jvm.gcMs
      ctx.probe.tracer.on = true
      try window(ctx, st, w, r, 0, seqs, 3, obs)
      finally ctx.probe.tracer.on = false
      val gcS = (Jvm.gcMs - gc0) / 1e3
      // then, with the writer idle, the read-only serving layers on the
      // tables as the writes left them, in bare/traced quarters that
      // also give the tracing overhead (commits cannot: no two commits
      // of a cycle run on the same table state)
      val serve = Serve.state(ctx, res, st.cat, st.current)
      val bare = new Loop(ctx, res, new Samples)
      val sl = new Loop(ctx, res, new Samples)
      Measure.abba(ctx) { (on, i) =>
        val l = if (on) sl else bare
        l.window(Serve.Clients, ctx.seconds / 8, 4 + i)(Serve.next(serve, l, _))
      }
      Measure.overhead(res, bare.samples, sl.samples)
      Serve.layerMetrics(ctx, res, serve, sl, 0.0)
      ctx.probe.drain()
      layerMetrics(ctx, res, r, obs.toSeq, gcS)
    }
    verifyFinal(ctx, st, res)
  }

  def layerMetrics(ctx: Ctx, res: Result, reader: Loop,
                   obs: Seq[CommitObs], gcS: Double): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val merges = obs.filter(o => o.kind == 'M' || o.kind == 'F')
    res.layers("kv.commit.merge_rows_ms") = med(obs.filter(_.kind == 'M').map(_.ms))
    res.layers("kv.commit.merge_df_ms") = med(obs.filter(_.kind == 'F').map(_.ms))
    val stats = merges.map(o => o -> ctx.probe.statsOf(o.op))
    res.layers("kv.commit.jobs") = mean(stats.map(_._2.jobs.toDouble))
    res.layers("kv.commit.stages") = mean(stats.map(_._2.stages.toDouble))
    res.layers("kv.commit.tasks") = mean(stats.map(_._2.tasks.toDouble))
    res.layers("kv.commit.task_s") = mean(stats.map(_._2.taskMs / 1e3))
    res.layers("kv.commit.driver_s") = mean(stats.map { case (o, g) =>
      ((o.t1 - o.t0) - g.busyMs(o.t0, o.t1)) / 1e3 })
    res.layers("spark.shuffle_bytes") = mean(stats.map(_._2.shuffleBytes.toDouble))
    res.layers("kv.commit.files_rewritten") = mean(merges.map(_.disk.dataFilesNew.toDouble))
    res.layers("kv.commit.files_linked") = mean(merges.map(_.disk.dataFilesLinked.toDouble))
    res.layers("kv.commit.bytes_written") = mean(merges.map(_.disk.tableBytes.toDouble))
    res.layers("index.maint.bytes_written") =
      mean(obs.filter(_.kind != 'C').map(_.disk.indexBytes.toDouble))
    val txns = obs.filter(_.kind == 'T')
    res.layers("kv.txn.commit_ms") = med(txns.map(_.ms))
    res.layers("kv.txn.attempts") = mean(txns.map(_.attempts.toDouble))
    val compacts = obs.filter(_.kind == 'C')
    res.layers("kv.compact.ms") = med(compacts.map(_.ms))
    res.layers("kv.compact.bytes_rewritten") = mean(compacts.map(_.disk.tableBytes.toDouble))
    val s = reader.samples
    res.layers("kv.serve.get_under_write_ms") = med(s.of("get_under_write"))
    res.layers("index.serve.kv_get_ms") = med(s.of("index_kv"))
    res.layers("index.serve.ft_ms") = med(s.of("index_ft"))
    res.layers("jvm.alloc_kb_per_op") = reader.allocBytes.sum / 1024.0 / (s.count max 1)
    res.layers("jvm.gc_s") = gcS
  }

  /** Full table content, read through a fresh Catalog on the same
    * warehouse, equals the model at the last acknowledged version. */
  def verifyFinal(ctx: Ctx, st: State, res: Result): Unit = {
    val fresh = new Catalog(ctx.spark, st.wh)
    val got = fresh.table("ords").df.collect().toSeq
    Serve.sameRows(got, st.current.synchronized(st.current.rows.values().asScala.toSeq))
      .foreach(m => res.fail(s"final ords content: $m"))
    val docIds = fresh.table("docs").df.select("doc_id").collect().map(_.getLong(0)).toSet
    if (docIds != st.docsLive.toSet)
      res.fail(s"final docs: ${docIds.size} ids, want ${st.docsLive.size}")
  }
}
