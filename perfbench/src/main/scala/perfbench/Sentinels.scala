package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Host and JVM readings. The host sentinels are advisory: they change no
  * measurement, they let a reader see whether a slow run shared its
  * machine.
  */
object Sentinels {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Linux /proc/stat steal column, in USER_HZ (1/100 s) jiffies. */
  def stealJiffies(): Long =
    procLine("/proc/stat", "cpu ").filter(_.length > 8).map(_(8).toLong).getOrElse(0L)

  def loadAvg1(): Double =
    procLine("/proc/loadavg", "").map(_(0).toDouble).getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    procLine("/proc/self/status", "VmHWM:").map(_(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap in use after a full collection, in MB: the state the process
    * keeps resident. A collection hands garbage RDDs and broadcasts to
    * Spark's context cleaner, which drops their blocks afterwards, in
    * waits of its own; so this collects every half second until three
    * readings in a row agree within 1 MB.
    */
  def liveHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val readings = ArrayBuffer(used())
    def settled = readings.size >= 3 && readings.takeRight(3).max - readings.takeRight(3).min <= (1L << 20)
    while (readings.size < 12 && !settled) {
      Thread.sleep(500)
      readings += used()
    }
    System.err.println(s"perfbench: live heap MB ${readings.map(_ >> 20).mkString(",")}")
    readings.last / 1048576.0
  }

  def processCpuSec(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def procLine(file: String, prefix: String): Option[Array[String]] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(prefix)).map(_.trim.split("\\s+"))
      finally src.close()
    } catch { case _: Exception => None }

  /** The commit the checkout was taken from, when it is a git work tree;
    * "unknown" otherwise (an exported checkout carries no history).
    */
  def gitCommit(root: Path): String =
    try {
      val head = root.resolve(".git/HEAD")
      val ref = Files.readString(head).trim
      if (ref.startsWith("ref: ")) Files.readString(root.resolve(".git").resolve(ref.drop(5))).trim
      else ref
    } catch { case _: Exception => "unknown" }

  /** Readings over one window: stolen cores and load from other processes. */
  final class Window {
    private val t0 = System.nanoTime()
    private val steal0 = stealJiffies()
    private val cpu0 = processCpuSec()
    def wallSec: Double = (System.nanoTime() - t0) / 1e9
    def stealCores: Double = math.max(0.0, (stealJiffies() - steal0) / 100.0 / wallSec)
    def ourCores: Double = (processCpuSec() - cpu0) / wallSec
    def externalLoad: Double = math.max(0.0, loadAvg1() - ourCores)
  }
}

/** Just enough JSON output for the result line and the span dump. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
