package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.JsonAST.JObject
import org.json4s.JsonDSL._
import scala.collection.mutable.ArrayBuffer

/** A metric as printed: name, value, unit. */
final case class M(name: String, value: Double, unit: String)

/** Correctness gates of one run. A failed gate prints its reason and
  * fails the run. In the self-check, `tamper` names one gate whose
  * input is deliberately corrupted before the check, which must then
  * reject it.
  */
final class Gates(val tamper: Option[String]) {
  private val results = ArrayBuffer.empty[(String, Boolean, String)]

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    val d = if (ok) "" else detail
    if (!ok) System.err.println(s"GATE FAILED $name: $d")
    results += ((name, ok, d))
  }

  /** The value a gate inspects: as given, or corrupted by `f` when the
    * self-check tampers with this gate.
    */
  def input[T](gate: String, v: T)(f: T => T): T =
    if (tamper.contains(gate)) f(v) else v

  def all: Seq[(String, Boolean, String)] = results.toVector
  def failedNames: Seq[String] = results.filterNot(_._2).map(_._1).toVector
}

/** What one workload run reports. `e2e` carries the end-to-end metrics
  * under their benchmark names; `named` the same figures under the
  * workload-specific names; `layers` the traced per-layer metrics.
  * Work units: `attempted` counts documents and calls, `failed` the
  * failed rows among them; gate checks are added by the caller.
  * `verify` runs the correctness gates over the run's final outputs.
  */
final case class Outcome(e2e: Seq[M], named: Seq[M], layers: Seq[M],
                         attempted: Long, failed: Long, notes: Seq[String],
                         verify: Gates => Unit)

/** Everything a workload needs: the session, its seed and sizes, a
  * private work directory and the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val toy: Boolean, val traced: Boolean, val workDir: String,
                val tracer: Tracer, val sessionS: Double) {
  def dir(name: String): String = s"$workDir/$name"

  /** Host steal % and 1-minute load over the untraced measured window. */
  var stealPct = 0.0
  var load1 = 0.0

  /** The untraced measurement: no spans, no listeners. */
  def window[T](body: => T): T = {
    Bench.log("measure")
    val was = tracer.on
    tracer.on = false
    val s0 = Host.cpuStat()
    try body
    finally {
      stealPct = Host.stealPct(s0, Host.cpuStat())
      load1 = Host.load1()
      tracer.on = was
    }
  }
  def cores: Int = spark.sparkContext.defaultParallelism

  /** Listener figures per job, kept for the trace file. */
  var jobLog: List[JObject] = Nil

  /** The traced measurement: spans on and a fresh listener pair attached. */
  def listened[T](body: (SparkStats, StreamStats) => T): T = {
    val ss = new SparkStats
    val qs = new StreamStats
    Bench.log("traced measure")
    spark.sparkContext.addSparkListener(ss)
    spark.streams.addListener(qs)
    tracer.on = true
    try body(ss, qs)
    finally {
      spark.sparkContext.removeSparkListener(ss)
      spark.streams.removeListener(qs)
      jobLog = ss.allJobs.toList.map { j =>
        val t = JobTotals.of(Seq(j), ss.tasksOf(Seq(j)), cores)
        ("job" -> j.id) ~ ("desc" -> j.desc) ~ ("start_ms" -> j.startMs) ~ ("end_ms" -> j.endMs) ~
          ("ok" -> j.ok) ~ ("stages" -> t.stages) ~ ("tasks" -> t.tasks) ~ ("run_s" -> t.runS) ~
          ("cpu_s" -> t.cpuS) ~ ("gc_s" -> t.gcS) ~ ("shuffle_write_mb" -> t.shuffleWriteMb) ~
          ("spill_mb" -> t.spillMb)
      }
    }
  }
}

object Bench {

  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"perfbench [$up%7.2f s] $msg")
  }

  /** Calls a measured phase makes: `--seconds` over the call time seen
    * at the commit that added the benchmark, at least `min`. The count
    * depends on the arguments only, so a faster commit repeats the same
    * calls over the same state instead of reaching later ones.
    */
  def calls(ctx: Ctx, nominalS: Double, min: Int): Int =
    if (ctx.toy) 1 else math.max(min, math.round(ctx.seconds / nominalS).toInt)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixture set-up repeated `reps` times (once at toy size); returns
    * the median seconds.
    */
  def medianSetup(ctx: Ctx, reps: Int)(body: => Unit): Double =
    Stats.median((1 to (if (ctx.toy) 1 else reps)).map(_ => timeS(body)._2))

  /** Rows of `a` and `b` (same columns) that the other lacks, counted
    * with multiplicity, in one aggregation.
    */
  def diffCount(a: DataFrame, b: DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    val keys = a.columns.toSeq.map(col)
    a.withColumn("_side", lit(1L)).unionByName(b.withColumn("_side", lit(-1L)))
      .groupBy(keys: _*).agg(sum(col("_side")).as("_n"))
      .where(col("_n") =!= 0L)
      .agg(sum(org.apache.spark.sql.functions.abs(col("_n"))))
      .head().getAs[Any](0) match {
        case null => 0L
        case n: Long => n
      }
  }
}
