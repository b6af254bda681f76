package perfbench

import graft.fixtures.PageGen
import graft.pipeline.Checkpoint
import graft.streaming.StreamingRun
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** A page tagged with the wave it lands in. */
final case class StagedPage(wave: Int, url: String, warc_ts: java.sql.Timestamp,
                            html: Array[Byte], text: String, lang: String)

/** stream_ingest: waves of page files land in the source layout; each
  * wave is drained by one `runAvailableNow` and one
  * `dedupStreamAvailableNow`. From the second wave on, a quarter of each
  * wave repeats earlier payloads under new urls, so the dedup state
  * store suppresses them. Many small commits: fixed cost per call
  * dominates here, where crawl_extract is dominated by bulk work.
  */
object StreamIngest {
  val Boost = 1
  def waveDocs(toy: Boolean): Int = if (toy) 120 else 400
  private val RepeatShare = 0.25
  private val GenReps = 2
  /** Waves drained untimed first, one by one, as the JIT warm-up. */
  private val WarmWaves = 2
  /** Waves of the generator's timeline: wave `w` holds its `w`-th slice
    * whatever the number of waves staged, so a wave's pages, and the
    * (day, bucket) partitions they fall in, are the same in every run.
    */
  private val TimelineWaves = 16
  /** Seconds one wave took at the commit that added the benchmark. */
  private val NominalWaveS = 2.5

  /** Every wave's pages, generated and written on the executors in one
    * job under `dir/wave=<i>/`: wave `w` holds generator rows
    * `[w * fresh, (w + 1) * fresh)` of a fixed timeline and, from wave 1 on, `repeats` copies
    * of earlier waves' payloads under new urls.
    */
  private def stage(spark: org.apache.spark.sql.SparkSession, k: Int, count: Int, seed: Long,
                    dir: String): Unit = {
    import spark.implicits._
    val repeats = (k * RepeatShare).toInt
    val fresh = (k - repeats).toLong
    val n = fresh * count
    val timeline = fresh * math.max(TimelineWaves, count)
    val parts = spark.sparkContext.defaultParallelism * 2
    val own = spark.range(0, n, 1, parts).as[Long].mapPartitions(_.map { i =>
      val p = PageGen.pageAt(i, timeline, seed, Boost)
      StagedPage((i / fresh).toInt, p.url, p.warc_ts, p.html, p.text, p.lang)
    })
    val copies = spark.range(0, (count - 1).toLong * repeats, 1, parts).as[Long].mapPartitions(_.map { r =>
      val w = 1 + (r / repeats).toInt
      val j = r % repeats
      val src = math.floorMod(new Random(seed ^ (r * 0x9E3779B97F4A7C15L)).nextLong(), w * fresh)
      val p = PageGen.pageAt(src, timeline, seed, Boost)
      StagedPage(w, s"${p.url}?wave$w-repeat$j", p.warc_ts, p.html, p.text, p.lang)
    })
    Checkpoint.withPartitionCols(own.union(copies).toDF())
      .repartition(col("wave"), col("ts_day"), col("url_bucket"))
      .write.mode("overwrite").partitionBy("wave", "ts_day", "url_bucket").parquet(dir)
  }

  /** Pages in wave `w`. */
  private def waveSize(k: Int, w: Int): Int =
    if (w == 0) k - (k * RepeatShare).toInt else k

  /** Lands staged wave `i`: its files are renamed into the source layout,
    * the way finished files arrive in a watched directory. Returns the
    * landed files.
    */
  private def land(staged: String, i: Int, pagesDir: String): Seq[String] = {
    val from = Paths.get(staged, s"wave=$i")
    Host.dataFiles(from.toString, ".parquet").map { f =>
      val rel = from.relativize(f.toPath)
      val target = Paths.get(pagesDir).resolve(rel).resolveSibling(s"w$i-${f.getName}")
      Files.createDirectories(target.getParent)
      Files.move(f.toPath, target, StandardCopyOption.ATOMIC_MOVE)
      target.toString
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val k = waveDocs(ctx.toy)
    val pagesDir = ctx.dir("pages")
    val stagedDir = ctx.dir("staged")
    val outDir = ctx.dir("docs")
    val metricsDir = ctx.dir("metrics")
    val dedupDir = ctx.dir("novel")
    val ckptExtract = ctx.dir("ckpt_extract")
    val ckptDedup = ctx.dir("ckpt_dedup")
    val perPhase = Bench.calls(ctx, NominalWaveS, min = 2)
    val count = WarmWaves + perPhase * (if (ctx.traced) 2 else 1)

    Bench.log("set-up")
    val genS = ctx.tracer.span("fixtures.gen") {
      Bench.medianSetup(ctx, GenReps)(stage(spark, k, count, ctx.seed, stagedDir))
    }

    val novelCounts = ArrayBuffer.empty[Long]
    val landedFiles = ArrayBuffer.empty[(Int, String)]
    /** Lands wave `i` and drains it; returns the drain seconds. */
    def wave(i: Int): Double = {
      landedFiles ++= land(stagedDir, i, pagesDir).map(i -> _)
      ctx.tracer.span("bench.wave") {
        Bench.timeS {
          ctx.tracer.span("streaming.extract") {
            StreamingRun.runAvailableNow(spark, pagesDir, outDir, metricsDir, ckptExtract, s"wave-$i")
          }
          novelCounts += ctx.tracer.span("streaming.dedup") {
            StreamingRun.dedupStreamAvailableNow(spark, pagesDir, dedupDir, ckptDedup)
          }
        }._2
      }
    }
    Bench.log("warm-up")
    val warmS = ctx.tracer.span("fixtures.warmup")(Bench.timeS((0 until WarmWaves).foreach(wave))._2)

    var next = WarmWaves
    final case class Wave(docs: Int, wallS: Double)
    /** Lands and drains the next `perPhase` waves, one after another. */
    def measure(): Seq[Wave] = (1 to perPhase).map { _ =>
      val w = Wave(waveSize(k, next), wave(next))
      next += 1
      w
    }
    val measured = ctx.window(measure())

    val layers = if (!ctx.traced) Seq.empty[M] else ctx.listened { (ss, qs) =>
      val first = next
      val firstMs = System.currentTimeMillis()
      val tWaves = measure()
      ss.drain(); qs.drain()
      val extract = qs.batches(stateful = false)
      val dedup = qs.batches(stateful = true)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val state = dedup.lastOption.flatMap(_.stateOperators.headOption)
      val extractCpu = ctx.tracer.named("streaming.extract").filter(_.startMs >= firstMs).map { s =>
        val js = ss.jobsIn(s.startMs, s.endMs)
        JobTotals.of(js, ss.tasksOf(js), ctx.cores).cpuS
      }.sum
      val waveSpans = ctx.tracer.named("bench.wave").filter(_.startMs >= firstMs)
      val replay = ctx.tracer.span("kernel.replay") {
        Kernel.replay(spark.read.option("basePath", pagesDir)
          .parquet(landedFiles.collect { case (w, f) if w >= first => f }.toSeq: _*))
      }
      val thr = measured.map(_.docs).sum / measured.map(_.wallS).sum
      val tThr = tWaves.map(_.docs).sum / tWaves.map(_.wallS).sum
      Seq(
        M("streaming.extract.batches", extract.size.toDouble, "count"),
        M("streaming.extract.batch_ms_p50", Stats.median(extract.map(dur(_, "triggerExecution"))), "ms"),
        M("streaming.extract.add_batch_ms_p50", Stats.median(extract.map(dur(_, "addBatch"))), "ms"),
        M("streaming.extract.overhead_ms_p50",
          Stats.median(extract.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))), "ms"),
        M("streaming.dedup.batch_ms_p50", Stats.median(dedup.map(dur(_, "triggerExecution"))), "ms"),
        M("streaming.dedup.state_rows", state.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
        M("streaming.dedup.state_mb", state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB"),
        M("streaming.dedup.commit_ms_p50",
          Stats.median(dedup.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
        M("trace.overhead_frac", 1.0 - tThr / thr, "ratio")) ++
        Layers.spark(ss, waveSpans.head.startMs, waveSpans.last.endMs, ctx.cores) ++
        Kernel.metrics(replay, extractCpu)
    }

    val landed = spark.read.parquet(pagesDir)
    val landedDocs = landed.count()
    /** Gates, over every wave landed. */
    def verify(g: Gates): Unit = {
      val committed = g.input("stream.committed_equal_landed",
        spark.read.parquet(outDir).select($"url", $"extracted_text".as("text")))(Layers.appendToFirstText)
      val rowDiff = Bench.diffCount(committed, landed.select($"url", $"text"))
      g.check("stream.committed_equal_landed", rowDiff == 0,
        s"$rowDiff (url, text) rows differ between the committed table and the $landedDocs landed pages")
      val hashes = landed.select(sha2($"html", 256).as("content_hash")).distinct()
      val novel = g.input("stream.novel_hashes_distinct",
        spark.read.parquet(dedupDir).select($"content_hash"))(_.limit(1))
      val hashDiff = Bench.diffCount(novel, hashes)
      val distinct = hashes.count()
      g.check("stream.novel_hashes_distinct", hashDiff == 0 && novelCounts.sum == distinct,
        s"$hashDiff hashes differ from the $distinct distinct landed payloads; drains returned ${novelCounts.sum}")
    }
    val failedRows = spark.read.parquet(metricsDir).agg(sum($"failed")).as[Long].head()

    // storage cost over the commits of the warm-up and the untraced phase
    val commits = WarmWaves + perPhase
    val files = (0 until commits).flatMap(b => Host.dataFiles(s"$outDir/batch_id=$b", ".parquet"))
    val filesDocs = spark.read.parquet(metricsDir).where($"batch_id" < commits).agg(sum($"docs")).as[Long].head()
    val docsPerS = measured.map(_.docs).sum / measured.map(_.wallS).sum
    val waveP50 = Stats.median(measured.map(_.wallS))
    val sinkPerDoc = Host.bytesOf(files).toDouble / filesDocs
    Outcome(
      e2e = Seq(M("setup_s", ctx.sessionS + genS + warmS, "s"), M("docs_per_s", docsPerS, "docs/s"),
        M("call_p50_s", waveP50, "s"), M("sink_bytes_per_doc", sinkPerDoc, "B/doc")),
      named = Seq(M("ingest_docs_per_s", docsPerS, "docs/s"), M("ingest_wave_p50_s", waveP50, "s"),
        M("ingest_waves", measured.size.toDouble, "count")),
      layers = Seq(M("fixtures.gen_s", genS, "s"), M("fixtures.warmup_s", warmS, "s")) ++ layers,
      attempted = landedDocs + 2L * next, failed = failedRows,
      notes = Seq(s"wave_docs=$k waves=${measured.size} staged=$count landed=$landedDocs",
        s"wave_s=${measured.map(_.wallS).mkString(",")}"),
      verify = verify)
  }
}
