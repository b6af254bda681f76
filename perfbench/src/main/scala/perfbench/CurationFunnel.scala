package perfbench

import graft.fixtures.PageGen
import graft.pipeline.{CorpusJob, Extraction, Page}
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** curation_funnel: `CorpusJob.runFull` over boost-1 pages into which
  * the benchmark plants work for every stage: near-duplicate copies,
  * e-mail addresses and phone numbers, eval-set twins and blocked hosts.
  * The plain fixture has none of these, so those stages would remove
  * nothing.
  */
object CurationFunnel {
  val Boost = 1
  def docs(toy: Boolean): Int = if (toy) 300 else 1500
  private val GenReps = 2
  /** Seconds one call took at the commit that added the benchmark. */
  private val NominalCallS = 40.0

  val Stages: Seq[String] = Seq("extract", "blocklist", "quality", "decontaminate",
    "exact_dedup", "near_dedup", "pii", "cap", "wet_write")

  /** The planted corpus: pages, the expected WET text per url, the eval
    * set, the blocklist, which urls carry which plant, and the urls every
    * stage must keep: the plant candidates that are not eval twins.
    */
  final case class Corpus(pages: Seq[Page], expected: Map[String, String],
                          evalTexts: Seq[String], blockedHosts: Seq[String],
                          nearUrls: Seq[String], piiUrls: Seq[String],
                          piiRaw: Seq[String], evalUrls: Seq[String],
                          survivorUrls: Seq[String], domainCap: Int)

  private def hostOf(url: String): String = url.stripPrefix("https://").takeWhile(_ != '/')
  private def hostIndex(url: String): Int = hostOf(url).stripPrefix("host").takeWhile(_.isDigit).toInt

  /** Appends `extra` to the first paragraph of a generated UTF-8 HTML
    * page and of its truth text (line 1, after the heading).
    */
  private def extendFirstPara(p: Page, extra: String): (Array[Byte], String) = {
    val html = new String(p.html, UTF_8)
    val at = html.indexOf(".</p>")
    require(at > 0, s"no paragraph end in ${p.url}")
    val lines = p.text.split("\n", -1)
    require(lines.length > 1 && lines(1).endsWith("."), s"unexpected truth shape for ${p.url}")
    lines(1) = lines(1).dropRight(1) + extra + "."
    ((html.substring(0, at) + extra + html.substring(at)).getBytes(UTF_8), lines.mkString("\n"))
  }

  def corpus(spark: org.apache.spark.sql.SparkSession, n: Int, seed: Long): Corpus = {
    val base = PageGen.pagesDistributed(spark, n, seed, Boost).collect().sortBy(_.url)
    val rng = new Random(seed * 31 + 7)
    val payloadCount = base.groupBy(p => java.nio.ByteBuffer.wrap(p.html)).map { case (k, v) => k -> v.length }
    // plant only into unique UTF-8 HTML pages of small hosts: the domain
    // cap never binds there, and no exact twin can outrank a plant
    // at least 60 words, so a plant and its source pass the 50-word
    // quality rule alike
    val candidates = rng.shuffle(base.toSeq.filter { p =>
      p.url.contains("/page/") && hostIndex(p.url) >= 10 &&
        p.text.split("\\s+").length >= 60 &&
        payloadCount(java.nio.ByteBuffer.wrap(p.html)) == 1 &&
        new String(p.html, UTF_8).contains("<meta charset=\"utf-8\">") &&
        (p.html(0) & 0xff) != 0xff
    })
    val nNear = math.max(3, n / 50)
    val nPii = math.max(3, n / 50)
    val nEval = math.max(2, n / 200)
    require(candidates.size >= nNear + nPii + nEval, s"only ${candidates.size} plant candidates")
    val nearSrc = candidates.take(nNear)
    val piiSrc = candidates.slice(nNear, nNear + nPii)
    val evalSrc = candidates.slice(nNear + nPii, nNear + nPii + nEval)
    val blocked = rng.shuffle((2 to 9).toList).take(2).map(k => s"host$k.example.com")

    val near = nearSrc.map { p =>
      val (html, text) = extendFirstPara(p, " zebra")
      p.copy(url = p.url + "-near", html = html, text = text)
    }
    val piiByUrl = piiSrc.zipWithIndex.map { case (p, i) =>
      val email = s"alice$i@example.net"
      val phone = f"415-555-${i % 10000}%04d"
      val (html, text) = extendFirstPara(p, s" contact $email or $phone")
      val redacted = text.replace(email, "<EMAIL>").replace(phone, "<PHONE>")
      p.url -> (p.copy(html = html, text = text), redacted, Seq(email, phone))
    }.toMap
    val pages = base.toSeq.map(p => piiByUrl.get(p.url).map(_._1).getOrElse(p)) ++ near
    val expected = pages.map(p => p.url -> piiByUrl.get(p.url).map(_._2).getOrElse(p.text)).toMap
    Corpus(pages, expected, evalSrc.map(_.text), blocked, near.map(_.url),
      piiSrc.map(_.url), piiByUrl.values.flatMap(_._3).toSeq, evalSrc.map(_.url),
      survivorUrls = candidates.drop(nNear + nPii + nEval).map(_.url) ++ nearSrc.map(_.url) ++
        piiSrc.map(_.url),
      domainCap = math.max(4, n / 25))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val n = docs(ctx.toy)
    val pagesDir = ctx.dir("pages")
    val wetDir = ctx.dir("wet")

    def write(c: Corpus, dir: String): Unit =
      spark.createDataset(c.pages).repartition(ctx.cores * 2).write.mode("overwrite").parquet(dir)
    def runFull(c: Corpus, dir: String): DataFrame =
      CorpusJob.runFull(spark, spark.read.parquet(dir), wetDir,
        c.evalTexts.zipWithIndex.map { case (t, i) => (s"eval$i", t) }.toDF("id", "text"),
        c.blockedHosts.toDF("blocked"), c.domainCap)

    var c: Corpus = null
    Bench.log("set-up")
    val genS = ctx.tracer.span("fixtures.gen") {
      Bench.medianSetup(ctx, GenReps) { c = corpus(spark, n, ctx.seed); write(c, pagesDir) }
    }
    // no warm-up call: one call costs ~40 s on 4 cores, nearly all of it
    // per-job planning and scheduling that does not shrink on a second call
    val warmS = 0.0
    val inputDocs = c.pages.size.toLong

    var funnel: Map[String, Long] = Map.empty
    def measure(): Seq[Double] = {
      val walls = ArrayBuffer.empty[Double]
      (1 to Bench.calls(ctx, NominalCallS, min = 1)).foreach { _ =>
        Host.rmrf(new File(wetDir))
        val (f, w) = ctx.tracer.span("pipeline.corpus_job") {
          Bench.timeS(runFull(c, pagesDir).as[(Int, String, Long)].collect())
        }
        funnel = f.map(t => t._2 -> t._3).toMap
        walls += w
      }
      walls.toVector
    }
    val walls = ctx.window(measure())

    val layers = if (!ctx.traced) Seq.empty[M] else ctx.listened { (ss, _) =>
      val tWalls = measure()
      ss.drain()
      val calls = ctx.tracer.named("pipeline.corpus_job")
      // per call and stage: the jobs `runFull` labelled `funnel: <stage>`
      val perStage: Seq[Map[String, JobTotals]] = calls.map { s =>
        val js = ss.jobsIn(s.startMs, s.endMs)
        val byStage = js.groupBy(j => Stages.find(st => j.desc == s"funnel: $st").getOrElse("unlabelled"))
        byStage.foreach { case (st, sj) =>
          ctx.tracer.derived(s"ops.$st", sj.map(_.startMs).min * 1000, sj.map(_.endMs).max * 1000, s.id)
        }
        byStage.map { case (st, sj) => st -> JobTotals.of(sj, ss.tasksOf(sj), ctx.cores) }
      }
      def med(st: String, f: JobTotals => Double) =
        Stats.median(perStage.map(m => m.get(st).map(f).getOrElse(0.0)))
      val order = Seq("extracted", "unblocked", "quality_kept", "decontaminated",
        "exact_unique", "neardup_survivors", "neardup_survivors", "domain_capped",
        "wet_records_written")
      val kept = Stages.zip(order).zipWithIndex.map { case ((st, out), i) =>
        val in = if (i == 0) inputDocs.toDouble else funnel(order(i - 1)).toDouble
        st -> (if (in > 0) funnel(out) / in else 0.0)
      }.toMap
      val ops = (Stages :+ "unlabelled").flatMap { st =>
        Seq(M(s"ops.$st.wall_s", med(st, _.wallS), "s"),
          M(s"ops.$st.cpu_s", med(st, _.cpuS), "s"),
          M(s"ops.$st.shuffle_write_mb", med(st, _.shuffleWriteMb), "MB"),
          M(s"ops.$st.jobs", med(st, _.jobs.toDouble), "count")) ++
          kept.get(st).map(k => M(s"ops.$st.kept_frac", k, "ratio"))
      }
      val replay = ctx.tracer.span("kernel.replay")(Kernel.replay(spark.read.parquet(pagesDir)))
      ops ++ Seq(M("trace.overhead_frac", 1.0 - Stats.median(walls) / Stats.median(tWalls), "ratio")) ++
        Layers.spark(ss, calls.head.startMs, calls.last.endMs, ctx.cores) ++
        Kernel.metrics(replay, med("extract", _.cpuS))
    }

    /** Gates, on the last call's funnel and WET archives. */
    def verify(g: Gates): Unit = {
      val f = funnel
      val survivors = Seq("extracted", "unblocked", "quality_kept", "decontaminated",
        "exact_unique", "neardup_survivors", "domain_capped").map(f)
      val counts = g.input("funnel.counts_never_increase", survivors)(s => s.updated(3, s(2) + 1))
      g.check("funnel.counts_never_increase",
        counts.head == inputDocs && counts.zip(counts.tail).forall { case (a, b) => b <= a } &&
          f("pii_redacted_docs") <= f("neardup_survivors"),
        s"funnel ${Seq("extracted", "unblocked", "quality_kept", "decontaminated", "exact_unique",
          "neardup_survivors", "domain_capped").zip(counts).mkString(", ")}, input $inputDocs")
      val written = g.input("funnel.wet_records_equal_capped", f("wet_records_written"))(_ + 1)
      g.check("funnel.wet_records_equal_capped", written == f("domain_capped"),
        s"wet_records_written=$written, domain_capped=${f("domain_capped")}")
      val wet = graft.sources.Warc.readConversions(spark, s"$wetDir/*.warc.gz")
        .select($"url", $"text").cache()
      val expected = c.expected.toSeq.toDF("url", "text")
      val wetBack = g.input("funnel.wet_readback_matches", wet)(Layers.appendToFirstText)
      val wetRecords = wetBack.count()
      val wetUrls = wetBack.select($"url").distinct().count()
      val mismatched = wetBack.join(expected.withColumnRenamed("text", "want"), Seq("url"), "left")
        .where($"want".isNull || $"want" =!= $"text").count()
      g.check("funnel.wet_readback_matches",
        wetRecords == f("wet_records_written") && wetUrls == wetRecords && mismatched == 0,
        s"read back $wetRecords records ($wetUrls urls) of ${f("wet_records_written")}; $mismatched differ from the expected text")
      val outUrls = g.input("funnel.plants_removed", wet.select($"url").as[String].collect().toSet)(
        _ ++ c.nearUrls.take(1))
      val outTexts = wet.select($"text").as[String].collect()
      val leakedNear = c.nearUrls.count(outUrls.contains)
      val leakedEval = c.evalUrls.count(outUrls.contains)
      val leakedBlocked = outUrls.count(u => c.blockedHosts.contains(hostOf(u)))
      val leakedPii = c.piiRaw.count(raw => outTexts.exists(_.contains(raw)))
      val piiKept = c.piiUrls.count(outUrls.contains)
      g.check("funnel.plants_removed",
        leakedNear == 0 && leakedEval == 0 && leakedBlocked == 0 && leakedPii == 0 &&
          piiKept > 0 && f("pii_redacted_docs") >= piiKept &&
          f("unblocked") < f("extracted") && f("decontaminated") < f("quality_kept") &&
          f("neardup_survivors") < f("exact_unique") && f("domain_capped") < f("neardup_survivors"),
        s"near-dups kept=$leakedNear, eval twins kept=$leakedEval, blocked-host docs kept=$leakedBlocked, " +
          s"raw PII strings kept=$leakedPii, redacted plants kept=$piiKept, funnel=$f")
      val kept = g.input("funnel.candidates_survive", outUrls)(_ - c.survivorUrls.head)
      val lost = c.survivorUrls.filterNot(kept.contains)
      g.check("funnel.candidates_survive", lost.isEmpty,
        s"${lost.size} of ${c.survivorUrls.size} pages every stage should keep are missing from the " +
          s"WET output, e.g. ${lost.take(3).mkString(", ")}")
      val perHost = g.input("funnel.domain_cap_holds", outUrls.groupBy(hostOf).map { case (h, us) => h -> us.size })(
        _.updated("tampered.example.com", c.domainCap + 1))
      val perHostMax = perHost.values.maxOption.getOrElse(0)
      g.check("funnel.domain_cap_holds", perHostMax <= c.domainCap,
        s"a host kept $perHostMax docs, cap ${c.domainCap}")
      wet.unpersist()
    }
    val f = funnel
    // extraction failures, which `runFull` drops silently in its quality stage
    val failedRows = Extraction.extractAll(spark.read.parquet(pagesDir)).where(!$"ok").count()

    val wetFiles = Host.dataFiles(wetDir, ".warc.gz")
    val wetBytes = Host.bytesOf(wetFiles)
    val docsPerS = inputDocs / Stats.median(walls)
    val sinkPerDoc = wetBytes.toDouble / math.max(1L, f("wet_records_written"))
    val nCalls = walls.size + (if (ctx.traced) ctx.tracer.named("pipeline.corpus_job").size else 0)
    Outcome(
      e2e = Seq(M("setup_s", ctx.sessionS + genS + warmS, "s"), M("docs_per_s", docsPerS, "docs/s"),
        M("call_p50_s", Stats.median(walls), "s"), M("sink_bytes_per_doc", sinkPerDoc, "B/doc")),
      named = Seq(M("funnel_docs_per_s", docsPerS, "docs/s")),
      layers = Seq(M("sources.wet.records", f("wet_records_written").toDouble, "count"),
        M("sources.wet.mb", wetBytes / 1048576.0, "MB"),
        M("fixtures.gen_s", genS, "s"), M("fixtures.warmup_s", warmS, "s")) ++ layers,
      attempted = inputDocs + nCalls, failed = failedRows,
      notes = Seq(s"docs=$inputDocs boost=$Boost calls=${walls.size} cap=${c.domainCap}",
        s"funnel=${Seq("extracted", "unblocked", "quality_kept", "decontaminated", "exact_unique",
          "neardup_survivors", "pii_redacted_docs", "domain_capped", "wet_records_written")
          .map(k => s"$k=${f(k)}").mkString(" ")}",
        s"run_s=${walls.mkString(",")}"),
      verify = verify)
  }
}
