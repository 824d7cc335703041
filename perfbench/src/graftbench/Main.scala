package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload serve|ingest|sql|analytic --seed N
  * --seconds S --trace 0|1 --data <tables dir> --work <scratch dir>
  * --out <report dir>`. Prints one `RESULT {...}` line with every
  * measured metric; perfbench/run.py turns it into the final JSON line. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = Steal.sample()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - processStart) / 1e3
    val trace = a("trace") == "1"
    val ctx = Ctx(spark, seed, a("seconds").toDouble, trace, a("data"), work,
      new Probe(spark, trace))
    val res = new Result
    res.layers("setup.session_s") = sessionS
    try {
      workload match {
        case "serve" => Serve.run(ctx, res)
        case "ingest" => Ingest.run(ctx, res)
        case "sql" => SqlFront.run(ctx, res)
        case "analytic" => Analytic.run(ctx, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.e2e("heap_mb") = Jvm.heapMbAfterGc()
      if (trace) {
        ctx.probe.drain()
        ctx.probe.tracer.attachJobs(ctx.probe.jobs, ctx.probe.group)
        ctx.probe.tracer.write(out.resolve("spans.jsonl"))
        val self = ctx.probe.tracer.selfSeconds
        self.foreach { case (n, s) => res.info(s"self_s.$n") = f"$s%.6f" }
        res.layers("trace.spans") = ctx.probe.tracer.spans.size.toDouble
      }
    } catch {
      case e: Throwable =>
        res.threw(e)
        e.printStackTrace()
    }
    Steal.pct(steal0, Steal.sample()).foreach(p => res.info("cpu_steal_pct") = f"$p%.2f")
    println("RESULT " + json(res))
    System.out.flush()
    spark.stop()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, "%.9g", Double.box(d))
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  def json(r: Result): String = {
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "attempted" -> r.attempted.toString,
      "threw" -> r.threw.toString,
      "wrong" -> r.wrong.toString,
      "e2e" -> obj(r.e2e.map { case (k, v) => k -> num(v) }),
      "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) }),
      "info" -> obj(r.info.map { case (k, v) => k -> str(v) }),
      "errors" -> r.errors.map(str).mkString("[", ",", "]")))
  }
}
