package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One span: a call into a layer, timed on the calling thread. Times are
  * epoch microseconds from a monotonic clock, so they line up with the
  * epoch-millisecond times Spark stamps on jobs and tasks.
  */
final case class Span(id: Int, name: String, parent: Int, startUs: Long, endUs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durS: Double = (endUs - startUs) / 1e6
  def startMs: Long = startUs / 1000
  def endMs: Long = (endUs + 999) / 1000
}

/** Spans kept in memory and written out when the run ends. While `on`
  * is false, bodies run without anything being recorded.
  */
final class Tracer(var on: Boolean, val runId: String) {
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      spans += Span(id, name, stack.headOption.getOrElse(-1), nowUs, -1L)
      stack = id :: stack
      try body
      finally {
        spans(id) = spans(id).copy(endUs = nowUs)
        stack = stack.tail
      }
    }

  /** Adds a finished span measured elsewhere (a listener job window)
    * under span `parent`.
    */
  def derived(name: String, startUs: Long, endUs: Long, parent: Int): Unit =
    if (on) spans += Span(spans.length, name, parent, startUs, endUs)

  def all: Seq[Span] = spans.toVector
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toVector

  /** Span duration minus the time its direct children cover. Children of
    * one span run one after another on the calling thread, so their
    * durations add up without overlap.
    */
  def selfTimes: Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.toVector.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.durS).sum
      s -> math.max(0.0, s.durS - covered)
    }
  }
}

/** Per-task figures kept by [[SparkStats]]. */
final case class TaskRec(stageId: Int, launchMs: Long, durMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                         diskSpillBytes: Long, waitMs: Long)

final case class JobRec(id: Int, desc: String, startMs: Long, endMs: Long,
                        stageIds: Seq[Int], ok: Boolean)

/** Job, stage and task figures from the scheduler's event bus. */
final class SparkStats extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobStarts.put(e.jobId, (desc, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (desc, t0, stages) = Option(jobStarts.get(e.jobId)).getOrElse(("", e.time, Nil))
    jobs.add(JobRec(e.jobId, desc, t0, e.time, stages, e.jobResult == JobSucceeded))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val submitted = Option(stageSubmit.get(e.stageId)).getOrElse(info.launchTime)
      tasks.add(TaskRec(e.stageId, info.launchTime, info.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, math.max(0L, info.launchTime - submitted)))
    }
  }

  /** Waits until every started job has ended, so the figures are whole. */
  def drain(timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.size < jobStarts.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    require(jobs.size >= jobStarts.size,
      s"listener bus did not deliver ${jobStarts.size - jobs.size} job ends in ${timeoutMs} ms")
  }

  def allJobs: Seq[JobRec] = jobs.asScala.toVector.sortBy(_.id)
  def allTasks: Seq[TaskRec] = tasks.asScala.toVector

  /** Jobs submitted within `[fromMs, toMs]`. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    allJobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    allTasks.filter(t => ids.contains(t.stageId))
  }
}

/** Job-set totals: the figures every layer reports from its jobs. */
final case class JobTotals(jobs: Int, stages: Int, tasks: Int, wallS: Double,
                           runS: Double, cpuS: Double, gcS: Double,
                           shuffleWriteMb: Double, spillMb: Double,
                           waitMsMean: Double, worstSkew: Double)

object JobTotals {
  /** Totals over jobs `js` and their tasks `ts`. Skew is max ÷ median task
    * time of the worst stage among those with at least `cores` tasks.
    */
  def of(js: Seq[JobRec], ts: Seq[TaskRec], cores: Int): JobTotals = {
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= math.max(2, cores)).map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      val med = Stats.median(d)
      if (med > 0) d.last / med else 1.0
    }
    JobTotals(js.size, ts.map(_.stageId).distinct.size, ts.size,
      js.map(j => (j.endMs - j.startMs) / 1e3).sum,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleWriteBytes).sum / 1048576.0, ts.map(_.diskSpillBytes).sum / 1048576.0,
      if (ts.isEmpty) 0.0 else ts.map(_.waitMs).sum.toDouble / ts.size,
      if (skew.isEmpty) 1.0 else skew.max)
  }
}

/** Micro-batch progress of every streaming query the run starts. */
final class StreamStats extends StreamingQueryListener {
  private val started = new java.util.concurrent.atomic.AtomicInteger()
  private val ended = new java.util.concurrent.atomic.AtomicInteger()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    started.incrementAndGet(); ()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    ended.incrementAndGet(); ()
  }

  def drain(timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get < started.get && System.currentTimeMillis() < deadline) Thread.sleep(20)
    require(ended.get >= started.get,
      s"streaming listener saw ${started.get} starts but ${ended.get} ends")
  }

  /** Progress of batches that read input. Queries with state operators
    * are the dedup drains; the others are the extraction drains.
    */
  def batches(stateful: Boolean): Seq[StreamingQueryProgress] =
    progress.asScala.toVector.filter(p =>
      p.numInputRows > 0 && p.stateOperators.nonEmpty == stateful)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
