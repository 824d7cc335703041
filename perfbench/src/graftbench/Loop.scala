package graftbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

/** Issues measured ops: times the call (and only the call), checks the
  * reply outside the timing, and books latency, failures and — when
  * tracing — the op's id under its class for per-layer attribution. */
final class Loop(ctx: Ctx, res: Result, val samples: Samples) {
  private val ids = Loop.ids
  val opIds = mutable.Map[String, mutable.ArrayBuffer[Long]]()
  val allocBytes = new LongAdder
  /** Id of the op this thread issued last. */
  val lastId = new ThreadLocal[Long]

  def run[A](cls: String, span: String)(call: => A)(check: A => Option[String]): Option[A] = {
    val id = ids.incrementAndGet()
    lastId.set(id)
    res.synchronized(res.attempted += 1)
    val t0 = System.nanoTime()
    val out =
      try Right(ctx.probe.op(span, id)(call))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    samples.add(cls, ms)
    if (ctx.probe.tracer.on)
      opIds.synchronized(opIds.getOrElseUpdate(cls, mutable.ArrayBuffer[Long]()) += id)
    out match {
      case Left(e) => res.threw(e); None
      case Right(v) =>
        check(v).foreach(m => res.fail(s"$cls: $m"))
        Some(v)
    }
  }

  def ids(cls: String): Seq[Long] = opIds.synchronized(
    opIds.get(cls).map(_.toSeq).getOrElse(Nil))

  /** A closed loop of `clients` threads for `seconds`; each thread draws
    * its ops from its own seeded generator. Returns elapsed seconds. */
  def window(clients: Int, seconds: Double, salt: Long)
            (next: java.util.SplittableRandom => Unit): Double =
    Clients.run(clients, seconds) { (i, deadline) =>
      val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + salt * 101L + i)
      val a0 = Jvm.allocatedBytes()
      while (System.nanoTime() < deadline) next(rnd)
      allocBytes.add(Jvm.allocatedBytes() - a0)
    }
}

object Loop {
  val ids = new AtomicLong(0)
}
