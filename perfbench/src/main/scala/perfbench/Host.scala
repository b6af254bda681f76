package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host readings taken next to every run's metrics, and file helpers. */
object Host {

  /** (total jiffies, steal jiffies) from the aggregate `/proc/stat` line;
    * (0, 0) where the file does not exist.
    */
  def cpuStat(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val fields = Files.readAllLines(f.toPath).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (fields.sum, if (fields.length > 7) fields(7) else 0L)
    }
  }

  /** Host steal as a percentage of all CPU time between two readings. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) 100.0 * (b._2 - a._2) / (b._1 - a._1) else 0.0

  /** 1-minute load average; -1 where `/proc/loadavg` does not exist. */
  def load1(): Double = {
    val f = new File("/proc/loadavg")
    if (!f.exists()) -1.0
    else Files.readString(f.toPath).trim.split("\\s+")(0).toDouble
  }

  /** Peak resident set of this JVM (`VmHWM`) in MB. In local mode the
    * scheduler, executors and shuffle all live in this process.
    */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** Data files under `dir` with the given suffix (checksums and markers
    * excluded), recursively.
    */
  def dataFiles(dir: String, suffix: String): Seq[File] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(suffix) && !f.getName.startsWith("."))
        .toVector
      finally s.close()
    }
  }

  def bytesOf(files: Seq[File]): Long = files.map(_.length()).sum
}
