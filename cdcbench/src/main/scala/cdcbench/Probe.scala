package cdcbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem

/** Process- and host-level counters read around the timed section. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, all threads, in seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Time the JIT compiler threads spent compiling, in seconds. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Host-wide steal from the first line of /proc/stat, in seconds
    * (USER_HZ = 100 ticks per second); 0 where /proc/stat is absent. */
  def stealS: Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val cpu = src.getLines().next().trim.split("\\s+")
        if (cpu.length > 8) cpu(8).toLong / 100.0 else 0.0
      } finally src.close()
    }
  }

  /** Bytes written through Hadoop's local file system since start:
    * table data, metadata, feeds, index and checkpoint files (shuffle
    * and spill files go around it). */
  def fsBytesWritten: Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue)).getOrElse(0L)

  /** Heap in use after a full collection, in MB: what the process
    * retains, unlike a transient peak, which follows the collector's
    * timing. */
  def heapLiveMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Sizes and count of the regular files under `dir` (0, 0 if absent). */
  def dirBytes(dir: java.io.File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(dir.toPath)
      try files.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + java.nio.file.Files.size(p), n + 1) }
      finally files.close()
    }
}

/** Host-noise counters over one interval: steal, GC and JIT seconds. */
final class Noise {
  private val steal0 = Probe.stealS
  private val gc0 = Probe.gcS
  private val jit0 = Probe.jitS
  def steal: Double = Probe.stealS - steal0
  def gc: Double = Probe.gcS - gc0
  def jit: Double = Probe.jitS - jit0
}
