package graftbench

import java.lang.management.ManagementFactory

/** Host facts a run record carries so that a run taken on a busy or
  * different host can be told apart from the record alone. */
object Host {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** 1-minute load average, or -1 where /proc is unavailable. */
  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble
      finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Cumulative steal ticks of all CPUs (8th value of /proc/stat's `cpu`
    * line), or -1 where /proc is unavailable. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } finally src.close()
    } catch { case _: Exception => -1L }

  def versions: Seq[(String, String)] = Seq(
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString
  )

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory() / 1048576.0

  /** Heap in use right after a full collection: the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
