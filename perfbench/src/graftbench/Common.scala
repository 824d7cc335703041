package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the run arguments, the input
  * tables and a scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     trace: Boolean, dataDir: String, workDir: Path, probe: Probe) {
  def dir(name: String): String = {
    val p = workDir.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Result of one run. `e2e` holds the end-to-end metrics (measured with
  * tracing off), `layers` the per-layer ones (traced run only), `info`
  * free-form facts the report prints (tail percentile chosen, counts). */
final class Result {
  var attempted = 0L
  var threw = 0L
  var wrong = 0L
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()
  val errors = mutable.ArrayBuffer[String]()

  def fail(msg: String): Unit = synchronized {
    wrong += 1
    if (errors.size < 20) errors += msg
  }
  def threw(e: Throwable): Unit = synchronized {
    threw += 1
    if (errors.size < 20) errors += s"threw: $e"
  }
}

/** Latency sample sets and the percentile rules the report uses. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99/p95/p90 with at least 10 samples beyond it;
    * below 100 samples, the quantile with exactly 10 beyond it (or the
    * median when even that does not exist). Returns (value, label). */
  def tail(xs: Seq[Double]): (Double, String) = {
    val n = xs.size
    Seq(0.99, 0.95, 0.90).find(p => (1 - p) * n >= 10 - 1e-9) match {
      case Some(p) => (quantile(xs, p), f"p${p * 100}%.0f of n=$n")
      case None =>
        val p = (1 - 10.0 / n) max 0.5
        (quantile(xs, p), f"p${p * 100}%.1f of n=$n")
    }
  }
}

/** Inode-level accounting of a warehouse: which files a commit wrote
  * new, and which it carried over as hard links (an inode seen before
  * the commit, now linked from the new snapshot dir as well). */
object Disk {
  final case class FileInfo(path: Path, ino: Long, size: Long)

  def walk(root: Path): Seq[FileInfo] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        // a concurrent vacuum or staging rename can remove a file
        // between the listing and the stat
        scala.util.Try {
          val a = Files.readAttributes(p, "unix:ino,size")
          FileInfo(p, a.get("ino").asInstanceOf[Long], a.get("size").asInstanceOf[Long])
        }.toOption
      }.toList
      finally s.close()
    }

  /** Top-level warehouse entry a file belongs to: a table dir has a
    * plain name, an index dir is `table.type.index`. */
  def isIndexFile(root: Path, f: FileInfo): Boolean =
    root.relativize(f.path).getName(0).toString.contains(".")

  /** Bytes and files that are new (inode not seen before) since `before`. */
  final case class Delta(tableBytes: Long, indexBytes: Long,
                         dataFilesNew: Int, dataFilesLinked: Int)

  def delta(root: Path, before: Seq[FileInfo], after: Seq[FileInfo],
            liveDataDir: Option[Path]): Delta = {
    val seen = before.map(_.ino).toSet
    val fresh = after.filterNot(f => seen.contains(f.ino))
      .groupBy(_.ino).values.map(_.head).toSeq
    val (idx, tbl) = fresh.partition(isIndexFile(root, _))
    val live = liveDataDir.toSeq.flatMap(d => after.filter(f =>
      f.path.startsWith(d) && f.path.getFileName.toString.endsWith(".parquet")))
    Delta(tbl.map(_.size).sum, idx.map(_.size).sum,
      live.count(f => !seen.contains(f.ino)),
      live.count(f => seen.contains(f.ino)))
  }
}

/** Times each one-time build of a set-up. */
final class SetupClock {
  val builds = mutable.LinkedHashMap[String, Double]()
  def apply[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally builds(name) = builds.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }
}

/** Runs a workload's set-up, booking each build as `setup.<name>_s`. */
object Setup {
  def timed[S](res: Result)(build: SetupClock => S): S = {
    val clock = new SetupClock
    try build(clock)
    finally clock.builds.foreach { case (n, v) => res.layers(s"setup.${n}_s") = v }
  }

  /** Books `setup_s`, the wall time from JVM start to now: called just
    * before the first timed op. A later call keeps the first figure. */
  def done(res: Result): Unit = if (!res.e2e.contains("setup_s"))
    res.e2e("setup_s") =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** A closed-loop timed window: each client thread issues ops back to
  * back until the deadline; returns when every thread is done. */
object Clients {
  def run(n: Int, seconds: Double)(body: (Int, Long) => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val ts = (0 until n).map { i =>
      val t = new Thread(() => body(i, deadline), s"bench-client-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Latency samples per op class, recorded from client threads. */
final class Samples {
  private val m = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  def add(cls: String, ms: Double): Unit = synchronized {
    m.getOrElseUpdate(cls, mutable.ArrayBuffer[Double]()) += ms
  }
  def of(classes: String*): Seq[Double] = synchronized {
    classes.flatMap(c => m.get(c).map(_.toSeq).getOrElse(Nil))
  }
  def all: Seq[Double] = synchronized(m.values.flatten.toSeq)
  def classes: Seq[String] = synchronized(m.keys.toSeq.sorted)
  def count: Int = synchronized(m.values.map(_.size).sum)
}

object Mix {
  /** Fisher-Yates shuffle driven by the caller's seeded generator. */
  def shuffled[A](xs: Seq[A], rnd: java.util.SplittableRandom): Seq[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
