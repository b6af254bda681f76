package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-layer figures shared by the workloads. */
object Layers {

  /** The `spark.*` metrics over the jobs submitted in `[fromMs, toMs]`. */
  def spark(ss: SparkStats, fromMs: Long, toMs: Long, cores: Int): Seq[M] = {
    val js = ss.jobsIn(fromMs, toMs)
    val t = JobTotals.of(js, ss.tasksOf(js), cores)
    val wallS = math.max(1L, toMs - fromMs) / 1e3
    Seq(
      M("spark.core_busy_frac", t.runS / (wallS * cores), "ratio"),
      M("spark.task_skew", t.worstSkew, "ratio"),
      M("spark.sched_delay_ms", t.waitMsMean, "ms"),
      M("spark.stages", t.stages.toDouble, "count"),
      M("spark.tasks", t.tasks.toDouble, "count"),
      M("spark.gc_frac", if (t.runS > 0) t.gcS / t.runS else 0.0, "ratio"))
  }

  /** Self-check tampering for `(url, text)` outputs: one row's text gets
    * a trailing space.
    */
  def appendToFirstText(df: DataFrame): DataFrame = {
    val first = df.agg(min(col("url"))).head().getString(0)
    df.withColumn("text",
      when(col("url") === first, concat(col("text"), lit(" "))).otherwise(col("text")))
  }
}
