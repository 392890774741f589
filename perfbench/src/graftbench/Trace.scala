package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, functions}

import scala.collection.mutable

/** Task metrics of one job group (one layer call of one pass). */
final class GroupMetrics {
  var jobs = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]

  /** Slowest task over the median task of the group (0 when no task ran). */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      val med = math.max(1L, s(s.length / 2))
      s.last.toDouble / med
    }
}

/** Groups task metrics by the job group that was set when their job started.
  * Every job of a layer call inherits the group the benchmark sets on the
  * calling thread, including the jobs adaptive execution submits. */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupMetrics]

  private def metrics(g: String): GroupMetrics = groups.getOrElseUpdate(g, new GroupMetrics)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      metrics(g).jobs += 1
      e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val m = metrics(g)
      val tm = e.taskMetrics
      if (tm != null) {
        m.cpuNs += tm.executorCpuTime
        m.gcMs += tm.jvmGCTime
        m.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
        m.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        m.taskMs += tm.executorRunTime
      }
    }
  }

  def get(g: String): GroupMetrics = synchronized(groups.getOrElse(g, new GroupMetrics))
}

/** One timed interval. `inSum` spans are the layer calls that add up to a
  * pass; probes re-run a fused layer on its own and are never added in. */
final case class Span(name: String, pass: Int, parent: String, startNs: Long, endNs: Long, inSum: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps the benchmark's calls into the program's layers.
  *
  * Untraced, it only runs the calls. Traced, each call runs under its own job
  * group inside a span, and each layer boundary named with [[cut]] is
  * persisted and counted inside its own span, so a later layer's span does
  * not absorb the work of computing its input. */
final class Tracer(sc: SparkContext, listener: Option[LayerListener]) {
  /** Traced when it has a listener to read task metrics from. */
  val traced: Boolean = listener.isDefined
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  private val rows = mutable.Map.empty[(String, Int), Long]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private var pass = -1

  private def group(name: String, p: Int): String = s"$name#$p"

  /** Runs one pass and returns its output and wall seconds. Traced, the pass
    * is the root span. `after` runs once the pass is timed, while the frames
    * the pass kept are still held; they are released after it. */
  def runPass[T](p: Int)(body: => T)(after: T => Unit): (T, Double) = {
    pass = p
    try {
      if (traced) sc.setJobGroup(group(Tracer.Root, p), Tracer.Root, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val out = body
      val t1 = System.nanoTime()
      if (traced) spans += Span(Tracer.Root, p, "", t0, t1, inSum = false)
      after(out)
      (out, (t1 - t0) / 1e9)
    } finally {
      cached.foreach(_.unpersist(blocking = true))
      cached.clear()
      if (traced) sc.clearJobGroup()
    }
  }

  /** A call into one layer. */
  def layer[T](name: String)(body: => T): T = timedUnder(name, inSum = true)(body)

  /** A fused layer forced on its own; traced runs only. */
  def probe(name: String)(body: => Unit): Unit = if (traced) timedUnder(name, inSum = false)(body)

  private def timedUnder[T](name: String, inSum: Boolean)(body: => T): T =
    if (!traced) body
    else {
      sc.setJobGroup(group(name, pass), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(name, pass, if (inSum) Tracer.Root else "", t0, System.nanoTime(), inSum)
        sc.setJobGroup(group(Tracer.Root, pass), Tracer.Root, interruptOnCancel = false)
      }
    }

  /** Keeps `df` for the rest of the pass (unpersisted when the pass ends). */
  def keep(df: DataFrame): DataFrame = {
    cached += df
    df.persist()
  }

  /** A layer boundary that the untraced pass leaves lazy: traced, it is
    * persisted and counted inside the layer's span. */
  def cut(name: String, df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val kept = keep(df)
      layer(name)(count(name, kept))
      kept
    }

  /** Forces `df` through the no-op sink and returns its row count, taken
    * by an observation on the same job. */
  def sink(name: String, df: DataFrame): Long = {
    val obs = Observation()
    Workloads.noop(df.observe(obs, functions.count(functions.lit(1)).as("n")))
    val n = obs.get("n").asInstanceOf[Long]
    rowsOut(name, n)
    n
  }

  /** Counts `df` and records the count as the layer's output rows. */
  def count(name: String, df: DataFrame): Long = {
    val n = df.count()
    rowsOut(name, n)
    n
  }

  def rowsOut(name: String, n: Long): Unit = if (traced) rows((name, pass)) = n

  def rowsOf(name: String, p: Int): Option[Long] = rows.get((name, p))

  def metricsOf(name: String, p: Int): GroupMetrics = listener.fold(new GroupMetrics)(_.get(group(name, p)))
}

object Tracer {
  val Root = "pass"
}
