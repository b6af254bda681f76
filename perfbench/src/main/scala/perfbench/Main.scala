package perfbench

import graft.pipeline.Extraction
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s.JsonAST.JObject
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Prints the workload's metrics by name with their units, then as the
  * last line one JSON object `{correct, attempted, failed, metrics}`:
  * the end-to-end metrics untraced, the per-layer metrics traced. A
  * traced run also writes its spans and listener figures under
  * `.bench_build/traces/`. Exit code 0 only when every gate passed.
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "crawl_extract" -> CrawlExtract.run,
    "curation_funnel" -> CurationFunnel.run,
    "stream_ingest" -> StreamIngest.run)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, toy: Boolean)

  def parse(args: Array[String]): Args = {
    def value(flag: String): Option[String] = {
      val i = args.indexOf(flag)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val w = value("--workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    val trace = value("--trace").getOrElse("0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(w, value("--seed").getOrElse("1").toLong, value("--seconds").getOrElse("10").toDouble,
      trace == "1", toy = false)
  }

  /** The benchmark's own output root inside the checkout. */
  def buildRoot: String =
    Paths.get(sys.props.getOrElse("perfbench.root", ".")).toAbsolutePath.normalize
      .resolve(".bench_build").toString

  def session(cores: Int): SparkSession = {
    val local = s"$buildRoot/spark-local"
    new File(local).mkdirs()
    val s = Extraction.configureLocal(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$buildRoot/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A result line's metrics: exactly the catalogue's names, each with
    * its unit; a metric the workload did not produce reads 0.
    */
  def metricsFor(catalogue: Seq[(String, String)], got: Seq[M]): Seq[M] = {
    val byName = got.map(m => m.name -> m).toMap
    catalogue.map { case (name, unit) =>
      byName.get(name) match {
        case Some(m) =>
          require(m.unit == unit, s"$name reported in ${m.unit}, catalogue says $unit")
          m
        case None => M(name, 0.0, unit)
      }
    }
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long, ms: Seq[M]): String =
    compact(render(("correct" -> correct) ~ ("attempted" -> attempted) ~ ("failed" -> failed) ~
      ("metrics" -> JObject(ms.toList.map(m => m.name -> (("value" -> m.value) ~ ("unit" -> m.unit)))))))

  /** Runs one workload in `spark`, gates its outputs and hands the
    * outcome to `use` before the work directory is removed; shared with
    * the self-check.
    */
  def runWorkload[T](spark: SparkSession, a: Args, sessionS: Double, runId: String)(
      use: (Outcome, Gates, Ctx) => T): T = {
    val work = s"$buildRoot/work/$runId"
    Host.rmrf(new File(work))
    new File(work).mkdirs()
    val tracer = new Tracer(a.trace, runId)
    val ctx = new Ctx(spark, a.seed, a.seconds, a.toy, a.trace, work, tracer, sessionS)
    try {
      val out = tracer.span(s"bench.${a.workload}")(Workloads(a.workload)(ctx))
      Bench.log("gates")
      val gates = new Gates(None)
      tracer.span("bench.gates")(out.verify(gates))
      Bench.log("report")
      use(out, gates, ctx)
    } finally Host.rmrf(new File(work))
  }

  /** The printed report and the result line of one run. */
  def report(a: Args, runId: String, out: Outcome, gates: Gates, ctx: Ctx): (Seq[String], Boolean, String) = {
    val attempted = out.attempted + gates.all.size
    val failed = out.failed + gates.failedNames.size
    val failedFrac = failed.toDouble / attempted
    val correct = gates.failedNames.isEmpty && out.failed == 0
    val common = Seq(
      out.e2e.find(_.name == "setup_s").get,
      M("failed_frac", failedFrac, "ratio"),
      M("peak_rss_mb", Host.peakRssMb(), "MB"))
    val lines = Seq.newBuilder[String]
    lines += s"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
      s"cores=${ctx.cores} run=$runId"
    (out.named ++ common).foreach(m => lines += f"  ${m.name}%-28s ${m.value}%14.4f ${m.unit}")
    lines += f"  host_steal_pct ${ctx.stealPct}%.2f %%  load1 ${ctx.load1}%.2f  (measured window)"
    out.notes.foreach(n => lines += s"  note: $n")
    lines += s"  gates: ${gates.all.size - gates.failedNames.size}/${gates.all.size} passed" +
      (if (gates.failedNames.isEmpty) "" else s"; failed: ${gates.failedNames.mkString(", ")}")
    val metrics =
      if (!a.trace) metricsFor(Metrics.EndToEnd, out.e2e)
      else {
        val layers = metricsFor(Metrics.PerLayer, out.layers ++ Seq(
          M("failed_frac", failedFrac, "ratio"), M("host.peak_rss_mb", Host.peakRssMb(), "MB"),
          M("host.steal_pct", ctx.stealPct, "%"),
          M("host.load1", ctx.load1, "count")))
        lines += "  per-layer metrics:"
        layers.foreach(m => lines += f"    ${m.name}%-36s ${m.value}%14.4f ${m.unit}")
        lines += "  span self time by layer (s):"
        ctx.tracer.selfTimes.groupBy(_._1.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
          lines += f"    $layer%-12s spans=${ss.size}%4d total=${ss.map(_._1.durS).sum}%9.3f self=${ss.map(_._2).sum}%9.3f"
        }
        val overhead = out.layers.find(_.name == "trace.overhead_frac").map(_.value).getOrElse(0.0)
        lines += f"  tracing overhead: ${overhead * 100}%.2f %% of untraced throughput"
        layers
      }
    (lines.result(), correct, resultJson(correct, attempted, failed, metrics))
  }

  /** Spans, listener job figures and per-layer metrics of a traced run. */
  def writeTrace(runId: String, ctx: Ctx, lines: Seq[String]): String = {
    val dir = Paths.get(buildRoot, "traces")
    Files.createDirectories(dir)
    val path = dir.resolve(s"$runId.json")
    val spans = ctx.tracer.all.toList.map(s => ("name" -> s.name) ~ ("start_us" -> s.startUs) ~
      ("end_us" -> s.endUs) ~ ("parent" -> s.parent) ~ ("id" -> s.id) ~ ("run" -> runId))
    val self = ctx.tracer.selfTimes.toList.map { case (s, t) => ("id" -> s.id) ~ ("self_s" -> t) }
    Files.writeString(path, compact(render(("run" -> runId) ~ ("spans" -> spans) ~
      ("self_times" -> self) ~ ("jobs" -> ctx.jobLog) ~ ("report" -> lines.toList))) + "\n")
    path.toString
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val runId = s"${a.workload}-seed${a.seed}-${if (a.trace) "traced" else "plain"}-${System.currentTimeMillis()}"
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Bench.timeS(session(cores))
    val code =
      try {
        runWorkload(spark, a, sessionS, runId) { (out, gates, ctx) =>
          val (lines, correct, json) = report(a, runId, out, gates, ctx)
          lines.foreach(println)
          if (a.trace) println(s"  trace written to ${writeTrace(runId, ctx, lines)}")
          println(json)
          if (correct) 0 else 1
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    Bench.log("done")
    sys.exit(code)
  }
}
