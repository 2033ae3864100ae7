package graft.servebench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[servebench ${(System.currentTimeMillis() - t0) / 1e3}%7.2fs] $msg")
}

object Stats {
  /** Nearest-rank percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  /** Middle sample, or the mean of the middle two; NaN for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host and process facts, read from /proc by this harness. */
object Env {
  private def procStatCpu(): Array[String] =
    Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).getOrElse(Array.empty)
  private val hz = 100.0 // USER_HZ

  /** Host steal seconds so far (the `steal` column of the `cpu` line). */
  def stealSec(): Double = procStatCpu().lift(8).map(_.toDouble / hz).getOrElse(-1.0)

  /** This process's user + system CPU seconds (/proc/self/stat). */
  def procCpuSec(): Double = {
    val s = Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toDouble + f(12).toDouble) / hz // utime, stime (fields 14, 15)
  }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Heap in use after two full collections. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
  }
  def dirBytes(dir: Path): Long = files(dir).map(Files.size).sum

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}
