package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The benchmark checking itself at toy size, in one JVM: every workload
  * runs traced; every metric of the catalogue must come out with its
  * unit, `BENCHMARK.json` must list the same metrics, every gate must
  * pass on the real outputs and must reject a deliberately tampered one.
  */
object SelfCheck {

  /** Layers each workload runs, whose per-layer metrics it must produce. */
  private val Exercised: Map[String, Seq[String]] = Map(
    "crawl_extract" -> Seq("kernel", "pipeline", "spark", "fixtures", "trace"),
    "curation_funnel" -> Seq("kernel", "ops", "sources", "spark", "fixtures", "trace"),
    "stream_ingest" -> Seq("kernel", "streaming", "spark", "fixtures", "trace"))

  def main(argv: Array[String]): Unit = {
    val problems = ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) problems += what

    val bench = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(sys.props.getOrElse("perfbench.root", "."), "BENCHMARK.json")))
    def listed(key: String): Seq[(String, String)] = {
      implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
      (bench \ key).extract[Seq[Map[String, Any]]].map(m => m("name").toString -> m("unit").toString)
    }
    expect(listed("end_to_end") == Metrics.EndToEnd,
      s"BENCHMARK.json end_to_end ${listed("end_to_end")} != catalogue ${Metrics.EndToEnd}")
    expect(listed("per_layer") == Metrics.PerLayer,
      s"BENCHMARK.json per_layer differs from the catalogue: " +
        s"${listed("per_layer").diff(Metrics.PerLayer)} / ${Metrics.PerLayer.diff(listed("per_layer"))}")

    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Bench.timeS(Main.session(cores))
    try Main.Workloads.keys.toSeq.sorted.foreach { w =>
      val a = Main.Args(w, seed = 7L, seconds = 1.0, trace = true, toy = true)
      val runId = s"selfcheck-$w-${System.currentTimeMillis()}"
      val (_, t) = Bench.timeS(Main.runWorkload(spark, a, sessionS, runId) { (out, gates, ctx) =>
        val (tracedLines, _, tracedJson) = Main.report(a, runId, out, gates, ctx)
        val (_, _, plainJson) = Main.report(a.copy(trace = false), runId, out, gates, ctx)
        tracedLines.foreach(println)
        // every metric printed with its unit
        (Metrics.Named(w) ++ Metrics.NamedCommon).foreach { case (name, unit) =>
          expect(tracedLines.exists(l => l.contains(s" $name ") && l.trim.endsWith(unit)),
            s"$w: $name [$unit] not printed")
        }
        Seq(plainJson -> Metrics.EndToEnd, tracedJson -> Metrics.PerLayer).foreach { case (js, cat) =>
          val ms = org.json4s.jackson.JsonMethods.parse(js) \ "metrics"
          cat.foreach { case (name, unit) =>
            val v = ms \ name
            expect((v \ "unit").values == unit && (v \ "value").values.isInstanceOf[Double],
              s"$w: $name missing from the result line or not in $unit")
          }
        }
        out.e2e.foreach(m => expect(m.value > 0, s"$w: end-to-end ${m.name} reads ${m.value}"))
        val produced = out.layers.map(_.name).toSet
        Metrics.PerLayer.map(_._1).filter(n => Exercised(w).exists(l => n.startsWith(l + "."))).foreach { n =>
          expect(produced.contains(n), s"$w: per-layer $n not produced")
        }
        expect(ctx.tracer.all.exists(_.name.startsWith("kernel.")) && ctx.jobLog.nonEmpty,
          s"$w: traced run recorded no kernel span or no listener jobs")
        // gates: pass as run, and each rejects its tampered input
        expect(gates.all.nonEmpty && gates.failedNames.isEmpty,
          s"$w: gates failed on real outputs: ${gates.failedNames.mkString(", ")}")
        gates.all.map(_._1).foreach { g =>
          val tampered = new Gates(Some(g))
          out.verify(tampered)
          expect(tampered.failedNames.contains(g), s"$w: gate $g accepted a tampered output")
          println(s"  gate $g rejects its tampered input: ${tampered.failedNames.contains(g)}")
        }
      })
      println(f"selfcheck $w done in $t%.1f s")
    } finally spark.stop()

    if (problems.isEmpty) println("SELFCHECK OK")
    else problems.foreach(p => println(s"SELFCHECK PROBLEM: $p"))
    sys.exit(if (problems.isEmpty) 0 else 1)
  }
}
