package graftbench

import java.lang.management.ManagementFactory
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side counters of one job group. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  /** (start, end) epoch ms of every finished job. */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Milliseconds of [lo, hi] during which at least one job ran. */
  def busyMs(lo: Long, hi: Long): Long = synchronized {
    val xs = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    xs.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    total + (curB - curA)
  }
}

/** Attributes every Spark job, its stages and task metrics to the job
  * group of the thread that launched it. The benchmark gives each
  * measured op its own group (`Probe.group`). */
final class JobListener extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val groups = new ConcurrentHashMap[String, GroupStats]()

  def stats(g: String): GroupStats =
    groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.put(_, g))
    val s = stats(g)
    s.synchronized(s.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val s = stats(Option(stageGroup.get(info.stageId)).getOrElse("-"))
    s.synchronized {
      s.stages += 1
      s.tasks += info.numTasks
      Option(info.taskMetrics).foreach { tm =>
        s.taskMs += tm.executorRunTime
        s.inputBytes += tm.inputMetrics.bytesRead
        s.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = Option(jobGroup.get(e.jobId)).getOrElse("-")
    val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    val s = stats(g)
    s.synchronized(s.intervals += ((t0, e.time)))
  }
}

/** Micro-batch duration buckets keyed by the streaming query's runId.
  * `onQueryStarted` runs synchronously inside `start()`, so the op that
  * is current on the starting thread owns the run; progress events of
  * a warm-up op's runs can then never land on a timed op, however late
  * the bus delivers them. */
final class StreamListener extends StreamingQueryListener {
  @volatile var currentOp: String = "-"
  private val owner = new ConcurrentHashMap[UUID, String]()
  /** op label -> bucket name -> summed ms */
  val buckets = new ConcurrentHashMap[String, mutable.Map[String, Long]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    owner.put(e.runId, currentOp)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val op = Option(owner.get(p.runId)).getOrElse("-")
    val m = buckets.computeIfAbsent(op, _ => mutable.Map[String, Long]())
    m.synchronized {
      p.durationMs.asScala.foreach { case (k, v) =>
        m(k) = m.getOrElse(k, 0L) + v.longValue }
      m("batches") = m.getOrElse("batches", 0L) + 1
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
}

final case class Span(id: Long, parent: Long, name: String, op: Long,
                      startNs: Long, endNs: Long)

/** Spans around every call into a layer, kept in memory and written at
  * the end of the run. With tracing off every call runs bare. */
final class Tracer {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String, op: Long)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, op, t0,
          System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Attach finished Spark jobs as child spans of the outermost span of
    * the op whose job group launched them. */
  def attachJobs(jobs: JobListener, groupOf: Long => String): Unit = {
    val roots = spans.asScala.filter(_.parent == 0L).groupBy(_.op)
      .map { case (op, ss) => op -> ss.minBy(_.startNs) }
    // epoch ms -> nanoTime, for the job intervals the listener records
    val skew = System.nanoTime() - System.currentTimeMillis() * 1000000L
    roots.foreach { case (op, root) =>
      Option(jobs.groups.get(groupOf(op))).foreach { g =>
        g.synchronized(g.intervals.toList).foreach { case (a, b) =>
          spans.add(Span(ids.incrementAndGet(), root.id, "spark.job", op,
            a * 1000000L + skew, b * 1000000L + skew))
        }
      }
    }
  }

  /** Self time per span name: a span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L))
        .map(_ max 0L).sum / 1e9 }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Every outside counter one run uses: the Spark and streaming
  * listeners (attached only when tracing), JVM GC and per-thread
  * allocation, and the span recorder. */
final class Probe(val spark: SparkSession, val traceOn: Boolean) {
  val tracer = new Tracer
  val jobs = new JobListener
  val streams = new StreamListener
  if (traceOn) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  def group(op: Long): String = s"bench-op-$op"

  /** Run `f` as op `op`: its Spark jobs are attributed to the op's job
    * group, its time to a span named `name`. */
  def op[A](name: String, op: Long)(f: => A): A = {
    val sc = spark.sparkContext
    val on = tracer.on
    if (on) sc.setJobGroup(group(op), name, interruptOnCancel = false)
    try tracer.span(name, op)(f)
    finally if (on) sc.clearJobGroup()
  }

  def drain(): Unit = if (traceOn) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def statsOf(op: Long): GroupStats =
    Option(jobs.groups.get(group(op))).getOrElse(new GroupStats)
}

/** Host CPU time stolen by the hypervisor, from /proc/stat (Linux). A
  * run on a busy host reads slow; the report shows how busy. */
object Steal {
  /** (steal, total) jiffies since boot, or None off Linux. */
  def sample(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.toOption

  def pct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield 100.0 * (s1 - s0) / (t1 - t0)
}

object Jvm {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  def allocatedBytes(): Long = threads.getCurrentThreadAllocatedBytes

  /** Heap in use after forced full collections. */
  def heapMbAfterGc(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
