package perfbench

import graft.kernel.Html
import graft.pipeline.{Extraction, RawDoc}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The kernel layer without Spark: a workload's own payloads replayed
  * one after another on the benchmark's main thread through `Html.extract` and
  * `Extraction.pdfDocFused`.
  */
object Kernel {

  final case class Replay(htmlNs: Seq[Double], htmlBytes: Long,
                          pdfNs: Seq[Double], pdfBytes: Long, failed: Long) {
    def docs: Int = htmlNs.size + pdfNs.size
    def seconds: Double = (htmlNs.sum + pdfNs.sum) / 1e9
  }

  private def isPdf(b: Array[Byte]): Boolean =
    b != null && b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-'

  /** Replays every `(url, html)` row of a page table. */
  def replay(pages: DataFrame): Replay =
    replay(pages.select("url", "html").toLocalIterator().asScala
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))))

  /** Replays `(url, payload)` pairs. A kernel that throws counts as
    * failed and its error is printed.
    */
  def replay(pages: Iterator[(String, Array[Byte])]): Replay = {
    val htmlNs = ArrayBuffer.empty[Double]
    val pdfNs = ArrayBuffer.empty[Double]
    var htmlBytes, pdfBytes, failed = 0L
    pages.foreach { case (url, html) =>
      val pdf = isPdf(html)
      val t0 = System.nanoTime()
      val ok =
        try {
          if (pdf) Extraction.pdfDocFused(RawDoc(url, html)).ok
          else { Html.extract(html); true }
        } catch {
          case e: Exception =>
            System.err.println(s"kernel failed on $url: $e")
            false
        }
      val ns = (System.nanoTime() - t0).toDouble
      if (!ok) failed += 1
      if (pdf) { pdfNs += ns; pdfBytes += html.length }
      else { htmlNs += ns; htmlBytes += html.length }
    }
    Replay(htmlNs.toVector, htmlBytes, pdfNs.toVector, pdfBytes, failed)
  }

  /** The `kernel.*` metrics; `extractCpuS` is the executor CPU seconds
    * that the workload's extraction jobs spent on the same payloads.
    */
  def metrics(r: Replay, extractCpuS: Double): Seq[M] = {
    def kind(k: String, ns: Seq[Double], bytes: Long) = Seq(
      M(s"kernel.$k.mb_per_s", if (ns.isEmpty) 0.0 else bytes / 1048576.0 / (ns.sum / 1e9), "MB/s"),
      M(s"kernel.$k.us_p50", Stats.quantile(ns, 0.5) / 1e3, "us"),
      M(s"kernel.$k.us_p99", Stats.quantile(ns, 0.99) / 1e3, "us"))
    kind("html", r.htmlNs, r.htmlBytes) ++ kind("pdf", r.pdfNs, r.pdfBytes) ++ Seq(
      M("kernel.docs", r.docs.toDouble, "count"),
      M("kernel.failed", r.failed.toDouble, "count"),
      M("kernel.cpu_share", if (extractCpuS > 0) r.seconds / extractCpuS else 0.0, "ratio"))
  }
}
