package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Process and host probes: CPU, memory, hypervisor steal, disk use. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** JVM process CPU (user + sys, all threads), nanoseconds. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Host-wide steal time from `/proc/stat`, milliseconds (0 where the
    * file is absent). USER_HZ is 100 on Linux. */
  def stealMs(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).getOrElse(Array())
      if (f.length > 8) f(8).toLong * 10L else 0L
    } catch { case _: Exception => 0L }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** Regular files under `root`: path -> (bytes, mtime millis). */
  def files(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }
  }

  def bytesUnder(root: String): Long = files(root).values.map(_._1).sum

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_: Path))
      finally s.close()
    }
  }
}
