package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Host and JVM readings from /proc and the platform MXBeans. */
object Host {

  /** Clock ticks per second of /proc's jiffy counters (USER_HZ). */
  private val Hz = 100.0

  /** Host-wide jiffies (first line of /proc/stat) and this JVM's
    * utime+stime. In local mode the JVM holds every executor thread, so
    * `self` is the whole engine's CPU.
    */
  final case class Cpu(total: Long, idle: Long, steal: Long, self: Long)

  def cpu(): Cpu = {
    val host = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+").slice(1, 9).map(_.toLong)
    val self = Files.readString(Paths.get("/proc/self/stat"))
    // comm may hold spaces or parentheses: fields resume after the last ')'
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Cpu(host.sum, host(3) + host(4), host(7), rest(11).toLong + rest(12).toLong)
  }

  /** CPU seconds this JVM used between two readings, and the shares of
    * host CPU time that went to hypervisor steal and to other processes.
    */
  final case class Usage(cpuS: Double, stealShare: Double, otherShare: Double)

  def usage(a: Cpu, b: Cpu): Usage = {
    val total = math.max(1L, b.total - a.total).toDouble
    val self = b.self - a.self
    val steal = b.steal - a.steal
    val busy = total - (b.idle - a.idle) - steal
    Usage(self / Hz, steal / total, math.max(0.0, busy - self) / total)
  }

  private def statusKb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** Peak resident set of this JVM so far, in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  def memTotalGb(): Double =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble / 1024 / 1024).getOrElse(Double.NaN)

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Cumulative GC and JIT-compilation milliseconds of this JVM. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Total bytes of the regular files under `p` and their count. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  /** Parquet data files (no checksums, markers or manifests) under `p`. */
  def dataFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
