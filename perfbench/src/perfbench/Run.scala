package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: samples, operation counts, correctness
  * verdicts and the printed report. */
final class Run(
    val spark: SparkSession,
    val work: String,
    val seed: Long,
    val seconds: Double,
    val cores: Int) {

  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val verdicts = ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def fs: FileSystem = FileSystem.get(new Path(work).toUri, spark.sparkContext.hadoopConfiguration)
  def dir(name: String): String = s"$work/$name"

  def sample(kind: String, v: Double): Unit = samples.getOrElseUpdate(kind, ArrayBuffer.empty) += v
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Time one operation of a closed loop; `ok` judges its result. A throw
    * or a false verdict counts as a failed operation. */
  def op[A](kind: String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case scala.util.control.NonFatal(e) =>
          println(s"perfbench op-error $kind ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}")
          None
      }
    sample(kind, (System.nanoTime() - t0) / 1e9)
    if (!r.exists(ok)) failed += 1
    r
  }

  /** A correctness check: counts as one attempted operation. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (pass, msg) =
      try body
      catch { case scala.util.control.NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (!pass) failed += 1
    verdicts += ((name, pass, msg))
    println(s"perfbench check ${if (pass) "PASS" else "FAIL"} $name $msg")
  }

  def allPassed: Boolean = verdicts.forall(_._2)

  /** Bytes and files under a directory (data files only when `parquetOnly`). */
  def du(path: String, parquetOnly: Boolean = false): (Long, Long) = {
    val p = new Path(path)
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var files, bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!parquetOnly || f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  def fileSize(path: String): Long = fs.getFileStatus(new Path(path)).getLen

  /** Median and the highest supported tail percentile of a sample. */
  def latency(prefix: String, kind: String): Unit =
    samples.get(kind).filter(_.nonEmpty).foreach { xs =>
      metric(s"${prefix}_p50_s", Stats.median(xs.toSeq), "s")
      if (Stats.supported(xs.size, 75)) metric(s"${prefix}_p75_s", Stats.percentile(xs.toSeq, 75), "s")
      details(s"${prefix}_samples") = xs.size.toString
    }
}

object Run {
  /** Load timestamps: one minute apart per delivery, so the latest row per
    * key is the last delivered one regardless of clock resolution. */
  def loadDts(seq: Int): Timestamp = new Timestamp(1767225600000L + seq * 60000L)

  /** The vault hash key of a single business key, computed without graft:
    * hex(sha1(upper(value))). */
  def hk(value: Any): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(value.toString.toUpperCase.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** CPU time of the whole JVM so far. Time the hypervisor steals from
    * the machine does not count, so this stays steady where wall time
    * follows the load of other guests on the host. */
  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Driver peak resident set (VmHWM) in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
