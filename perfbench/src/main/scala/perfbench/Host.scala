package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and host readings. The host-noise stamp is report-only:
  * nothing waits, refuses or re-runs because of it. */
object Host {

  /** (load1, load5) from the kernel, NaN where unavailable. */
  def loadAvg(): (Double, Double) =
    Try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
        .trim.split("\\s+")
      (f(0).toDouble, f(1).toDouble)
    }.getOrElse((Double.NaN, Double.NaN))

  /** JVMs running on the host other than this one. */
  def foreignJvms(): Int = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self &&
        p.info().command().map[Boolean](c => c.endsWith("/java")).orElse(false)
    }
  }

  def stamp(): Map[String, Double] = {
    val (l1, l5) = loadAvg()
    Map("load1" -> l1, "load5" -> l5, "foreign_jvms" -> foreignJvms().toDouble)
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double =
    Try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** (inode → size) of every regular file under `root`. */
  def inodes(root: Path): Map[Long, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val stream = Files.walk(root)
      try stream.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        Files.getAttribute(p, "unix:ino").asInstanceOf[Long] -> Files.size(p)
      }.toMap
      finally stream.close()
    }

  /** Bytes in files of `after` whose inode `before` did not have. */
  def bytesWritten(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.collect { case (ino, size) if !before.contains(ino) => size }.sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
