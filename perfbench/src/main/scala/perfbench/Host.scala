package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Readings of the host and of this process. */
object Host {

  /** Whole-process CPU time in ns: in local mode the driver and every
    * executor task run in this JVM. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.split("\\s+")(1).toDouble }.getOrElse(0.0)).getOrElse(0.0)

  /** Aggregate CPU jiffies from /proc/stat: (total, iowait, steal). */
  final case class CpuTimes(total: Long, iowait: Long, steal: Long)

  def cpuTimes: CpuTimes = Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    CpuTimes(f.take(8).sum, f(4), if (f.length > 7) f(7) else 0L)
  }.getOrElse(CpuTimes(0L, 0L, 0L))

  def loadAvg1: Double =
    Try(Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0)
      .toDouble).getOrElse(0.0)

  /** Host noise over one measured window. */
  final case class Noise(stealFrac: Double, iowaitFrac: Double,
      loadStart: Double, loadEnd: Double, cpuPerWall: Double, nproc: Int)

  final class NoiseWindow {
    private val c0 = cpuTimes
    private val load0 = loadAvg1
    private val wall0 = System.nanoTime()
    private val proc0 = processCpuNs

    def close(): Noise = {
      val c1 = cpuTimes
      val dt = math.max(1L, c1.total - c0.total).toDouble
      val wall = (System.nanoTime() - wall0).toDouble
      Noise((c1.steal - c0.steal) / dt, (c1.iowait - c0.iowait) / dt,
        load0, loadAvg1, (processCpuNs - proc0) / math.max(1.0, wall),
        Runtime.getRuntime.availableProcessors)
    }
  }

  /** The entries of a directory; none if it does not exist. */
  def entries(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else Try(Files.list(root)).map { s =>
      try s.iterator().asScala.toList finally s.close()
    }.getOrElse(Nil)

  /** Numeric user id of this process (`Uid:` in /proc/self/status). */
  def uid: Option[Int] =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("Uid:") =>
        l.split("\\s+")(1).toInt }).toOption.flatten

  /** Temporary entries a run's pipelines leave behind. Under `own`, a
    * directory only this run uses, every entry is the run's. Under the
    * shared roots (tmpfs, and the JVM temporary directory unless it lies
    * under `own`) an entry is the run's only if it appeared during the
    * run, belongs to this process's user and its name starts with one of
    * `prefixes` (`StreamOps.scratchDir` names its directories after the
    * pipeline). Other processes' entries are never counted or touched. */
  final class ScratchSnapshot(own: Path, prefixes: Seq[String]) {
    private val me = uid
    private val shared = Seq(Paths.get("/dev/shm"),
        Paths.get(System.getProperty("java.io.tmpdir")))
      .filterNot(_.toAbsolutePath.startsWith(own.toAbsolutePath)).distinct
    private val before = shared.flatMap(entries).toSet

    private def ownerUid(p: Path): Option[Int] =
      Try(Files.getAttribute(p, "unix:uid").asInstanceOf[Integer].intValue)
        .toOption

    private def ours(p: Path): Boolean =
      !before(p) && me.nonEmpty && ownerUid(p) == me &&
        prefixes.exists(p.getFileName.toString.startsWith)

    /** Entries this run created. */
    def created: Seq[Path] = entries(own) ++ shared.flatMap(entries).filter(ours)

    def createdBytes: Long = created.map(sizeOf).sum

    /** Delete what this run created, and nothing else. */
    def deleteCreated(): Unit = created.foreach(deleteRecursively)
  }

  def sizeOf(p: Path): Long = Try {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => Try(Files.size(f)).getOrElse(0L)).sum
    finally s.close()
  }.getOrElse(0L)

  def deleteRecursively(p: Path): Unit = Try {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(f =>
      Try(Files.deleteIfExists(f)))
    finally s.close()
  }: Unit
}
