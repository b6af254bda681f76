package perfbench

import graft.fixtures.PageGen
import graft.pipeline.Checkpoint
import java.io.File
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** crawl_extract: the production write path. A fresh `Checkpoint.run`
  * over boost-4 pages (90 % HTML, 10 % PDF, 3 % exact duplicates), then
  * the same call again, which must find nothing to do.
  */
object CrawlExtract {
  val Boost = 4
  def docs(toy: Boolean): Long = if (toy) 300L else 6000L
  private val GenReps = 2
  private val WarmRuns = 3
  /** Seconds a fresh run and its re-run took at the commit that added
    * the benchmark.
    */
  private val NominalPairS = 3.3
  private val RunTs = Timestamp.valueOf("2024-01-08 00:00:00")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val n = docs(ctx.toy)
    val pagesDir = ctx.dir("pages")
    val out = ctx.dir("docs")
    val manifest = ctx.dir("manifest")
    val metricsDir = ctx.dir("metrics")
    def clear(): Unit = Seq(out, manifest, metricsDir).foreach(d => Host.rmrf(new File(d)))

    Bench.log("set-up")
    val genS = ctx.tracer.span("fixtures.gen") {
      Bench.medianSetup(ctx, GenReps) {
        Checkpoint.writePages(PageGen.pagesDistributed(spark, n, ctx.seed, Boost).toDF(), pagesDir)
      }
    }
    // JIT warm-up on the measured table: C2 keeps compiling the kernels,
    // the partitioned write and the resume path over the first calls, and
    // the table ends up in the OS page cache, before timing
    Bench.log("warm-up")
    val warmS = ctx.tracer.span("fixtures.warmup") {
      Bench.timeS {
        (1 to (if (ctx.toy) 1 else WarmRuns)).foreach { i =>
          clear()
          Checkpoint.run(spark, pagesDir, out, manifest, metricsDir, s"warm-$i", RunTs)
          Checkpoint.run(spark, pagesDir, out, manifest, metricsDir, s"warm-$i-re", RunTs)
        }
      }._2
    }
    val freshCounts = ArrayBuffer.empty[Long]
    val resumeCounts = ArrayBuffer.empty[Long]
    /** The measured calls, one after another: a fresh run, then the
      * immediate re-run.
      */
    def measure(tag: String): (Seq[Double], Seq[Double]) = {
      val runs = ArrayBuffer.empty[Double]
      val resumes = ArrayBuffer.empty[Double]
      (1 to Bench.calls(ctx, NominalPairS, min = 2)).foreach { i =>
        clear()
        val (n1, w1) = ctx.tracer.span("pipeline.run") {
          Bench.timeS(Checkpoint.run(spark, pagesDir, out, manifest, metricsDir, s"$tag-$i", RunTs))
        }
        val (n2, w2) = ctx.tracer.span("pipeline.resume") {
          Bench.timeS(Checkpoint.run(spark, pagesDir, out, manifest, metricsDir, s"$tag-$i-re", RunTs))
        }
        freshCounts += n1; resumeCounts += n2
        runs += w1; resumes += w2
      }
      (runs.toVector, resumes.toVector)
    }

    val (runs, resumes) = ctx.window(measure("run"))

    val layers = if (!ctx.traced) Seq.empty[M] else ctx.listened { (ss, _) =>
      val (tRuns, _) = measure("traced")
      ss.drain()
      val overhead = 1.0 - Stats.median(runs) / Stats.median(tRuns)
      def perCall(name: String) = ctx.tracer.named(name).map { s =>
        val js = ss.jobsIn(s.startMs, s.endMs)
        (s, JobTotals.of(js, ss.tasksOf(js), ctx.cores))
      }
      val runCalls = perCall("pipeline.run")
      val resumeCalls = perCall("pipeline.resume")
      def med(xs: Seq[Double]) = Stats.median(xs)
      val files = Host.dataFiles(out, ".parquet")
      val perDir = files.groupBy(_.getParent).values.map(_.size)
      val window = (runCalls.head._1.startMs, resumeCalls.last._1.endMs)
      val replay = ctx.tracer.span("kernel.replay")(Kernel.replay(spark.read.parquet(pagesDir)))
      Seq(
        M("pipeline.run.wall_s", med(runCalls.map(_._1.durS)), "s"),
        M("pipeline.run.jobs", med(runCalls.map(_._2.jobs.toDouble)), "count"),
        M("pipeline.run.cpu_s", med(runCalls.map(_._2.cpuS)), "s"),
        M("pipeline.run.gc_s", med(runCalls.map(_._2.gcS)), "s"),
        M("pipeline.run.shuffle_write_mb", med(runCalls.map(_._2.shuffleWriteMb)), "MB"),
        M("pipeline.run.spill_mb", med(runCalls.map(_._2.spillMb)), "MB"),
        M("pipeline.run.output_files", files.size.toDouble, "count"),
        M("pipeline.run.files_per_dir_max", if (perDir.isEmpty) 0.0 else perDir.max.toDouble, "count"),
        M("pipeline.resume.wall_s", med(resumeCalls.map(_._1.durS)), "s"),
        M("pipeline.resume.jobs", med(resumeCalls.map(_._2.jobs.toDouble)), "count"),
        M("trace.overhead_frac", overhead, "ratio")) ++
        Layers.spark(ss, window._1, window._2, ctx.cores) ++
        Kernel.metrics(replay, med(runCalls.map(_._2.cpuS)))
    }

    import spark.implicits._
    /** Gates, on the last fresh run's output. */
    def verify(g: Gates): Unit = {
      val pages = spark.read.parquet(pagesDir)
      val fresh = g.input("crawl.fresh_runs_cover_every_doc", freshCounts.toVector)(_ :+ (n - 1))
      g.check("crawl.fresh_runs_cover_every_doc", fresh.forall(_ == n),
        s"fresh runs returned ${fresh.distinct.mkString(",")}, expected $n")
      val reruns = g.input("crawl.rerun_returns_zero", resumeCounts.toVector)(_ :+ 1L)
      g.check("crawl.rerun_returns_zero", reruns.forall(_ == 0L),
        s"re-runs returned ${reruns.distinct.mkString(",")}")
      val docsOut = g.input("crawl.text_identical", spark.read.parquet(out)
        .select($"url", $"extracted_text".as("text")))(Layers.appendToFirstText)
      val textDiff = Bench.diffCount(docsOut, pages.select($"url", $"text"))
      g.check("crawl.text_identical", textDiff == 0,
        s"$textDiff (url, text) rows differ between the output table and the generator's truth")
      val man = g.input("crawl.manifest_covers_partitions", spark.read.parquet(manifest))(
        _.where(!($"url_bucket" === 0)))
      val uncovered = Checkpoint.withPartitionCols(pages).select($"ts_day", $"url_bucket").distinct()
        .join(man, Seq("ts_day", "url_bucket"), "left_anti").count()
      g.check("crawl.manifest_covers_partitions", uncovered == 0,
        s"$uncovered (ts_day, url_bucket) partitions have no manifest row")
      val met = g.input("crawl.metrics_sum_to_docs", spark.read.parquet(metricsDir))(_.limit(1))
      val metDocs = met.agg(sum($"docs")).as[Long].head()
      g.check("crawl.metrics_sum_to_docs", metDocs == n, s"metrics rows sum to $metDocs docs, expected $n")
    }
    val failedRows = spark.read.parquet(metricsDir).agg(sum($"failed")).as[Long].head()

    val sinkBytes = Host.bytesOf(Host.dataFiles(out, ".parquet")).toDouble / n
    val setupS = ctx.sessionS + genS + warmS
    val docsPerS = n / Stats.median(runs)
    val calls = 2L * (runs.size + (if (ctx.traced) ctx.tracer.named("pipeline.run").size else 0))
    Outcome(
      e2e = Seq(M("setup_s", setupS, "s"), M("docs_per_s", docsPerS, "docs/s"),
        M("call_p50_s", Stats.median(resumes), "s"), M("sink_bytes_per_doc", sinkBytes, "B/doc")),
      named = Seq(M("extract_docs_per_s", docsPerS, "docs/s"),
        M("resume_s", Stats.median(resumes), "s"), M("sink_bytes_per_doc", sinkBytes, "B/doc")),
      layers = layers ++ Seq(M("fixtures.gen_s", genS, "s"), M("fixtures.warmup_s", warmS, "s")),
      attempted = n + calls, failed = failedRows,
      notes = Seq(s"docs=$n boost=$Boost runs=${runs.size}",
        s"fresh_run_s=${runs.mkString(",")}", s"resume_s=${resumes.mkString(",")}"),
      verify = verify)
  }
}
