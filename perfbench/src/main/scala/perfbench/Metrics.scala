package perfbench

/** The metric catalogue: every name the benchmark prints, with its unit.
  * `BENCHMARK.json` lists the same names; the self-check compares them.
  */
object Metrics {

  /** End-to-end metrics, printed by every untraced run. Each workload
    * fills them from its own calls; see `named` for what each one is on
    * which workload.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "docs_per_s" -> "docs/s",
    "call_p50_s" -> "s",
    "sink_bytes_per_doc" -> "B/doc")

  /** The workload-specific end-to-end names, printed above the result
    * line. `failed_frac`, `peak_rss_mb` and `setup_s` are printed for
    * every workload.
    */
  val Named: Map[String, Seq[(String, String)]] = Map(
    "crawl_extract" -> Seq("extract_docs_per_s" -> "docs/s", "resume_s" -> "s",
      "sink_bytes_per_doc" -> "B/doc"),
    "curation_funnel" -> Seq("funnel_docs_per_s" -> "docs/s"),
    "stream_ingest" -> Seq("ingest_docs_per_s" -> "docs/s", "ingest_wave_p50_s" -> "s",
      "ingest_waves" -> "count"))
  val NamedCommon: Seq[(String, String)] =
    Seq("setup_s" -> "s", "failed_frac" -> "ratio", "peak_rss_mb" -> "MB")

  /** Per-layer metrics, printed by every traced run. A layer a workload
    * does not run reads 0 there.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("html", "pdf").flatMap(k => Seq(s"kernel.$k.mb_per_s" -> "MB/s",
      s"kernel.$k.us_p50" -> "us", s"kernel.$k.us_p99" -> "us")) ++
      Seq("kernel.docs" -> "count", "kernel.failed" -> "count", "kernel.cpu_share" -> "ratio") ++
      Seq("pipeline.run.wall_s" -> "s", "pipeline.run.jobs" -> "count",
        "pipeline.run.cpu_s" -> "s", "pipeline.run.gc_s" -> "s",
        "pipeline.run.shuffle_write_mb" -> "MB", "pipeline.run.spill_mb" -> "MB",
        "pipeline.run.output_files" -> "count", "pipeline.run.files_per_dir_max" -> "count",
        "pipeline.resume.wall_s" -> "s", "pipeline.resume.jobs" -> "count") ++
      (CurationFunnel.Stages :+ "unlabelled").flatMap { st =>
        Seq(s"ops.$st.wall_s" -> "s", s"ops.$st.cpu_s" -> "s",
          s"ops.$st.shuffle_write_mb" -> "MB", s"ops.$st.jobs" -> "count") ++
          (if (st == "unlabelled") Nil else Seq(s"ops.$st.kept_frac" -> "ratio"))
      } ++
      Seq("sources.wet.records" -> "count", "sources.wet.mb" -> "MB") ++
      Seq("streaming.extract.batches" -> "count", "streaming.extract.batch_ms_p50" -> "ms",
        "streaming.extract.add_batch_ms_p50" -> "ms", "streaming.extract.overhead_ms_p50" -> "ms",
        "streaming.dedup.batch_ms_p50" -> "ms", "streaming.dedup.state_rows" -> "count",
        "streaming.dedup.state_mb" -> "MB", "streaming.dedup.commit_ms_p50" -> "ms") ++
      Seq("spark.core_busy_frac" -> "ratio", "spark.task_skew" -> "ratio",
        "spark.sched_delay_ms" -> "ms", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.gc_frac" -> "ratio") ++
      Seq("fixtures.gen_s" -> "s", "fixtures.warmup_s" -> "s") ++
      Seq("trace.overhead_frac" -> "ratio", "failed_frac" -> "ratio",
        "host.peak_rss_mb" -> "MB", "host.steal_pct" -> "%", "host.load1" -> "count")
}
