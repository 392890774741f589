package graftbench

import org.apache.spark.sql.SparkSession

import java.io.{FileDescriptor, FileOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Metric names and units; BENCHMARK.json lists the same ones. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "first_pass_s" -> "s",
    "pass_s_p50" -> "s",
    "pass_s_tail" -> "s",
    "lines_per_s" -> "lines/s",
    "docs_per_s" -> "docs/s",
    "peak_heap_mb" -> "MB"
  )

  /** Layers in pass order; each is one public call of the program. */
  val Layers: Seq[String] = Seq(
    "sources.read_logs", "tf.envelope", "tf.route", "tf.routable", "route.write", "route.read",
    "tf.subject_dim", "tf.per_player", "tf.chat", "json.emit",
    "ops.shingles", "ops.lsh_candidates", "ops.connected_components"
  )

  val LayerMetrics: Seq[(String, String)] = Seq(
    "busy_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "task_skew" -> "ratio", "jobs" -> "count", "rows_out" -> "rows"
  )

  /** Layers fused inside one call, forced on their own after the pass. */
  val Probes: Seq[String] =
    Seq("tf.class_stats", "tf.heal_spread", "tf.medic_stats", "tf.per_player_assembly", "tf.per_player_sort")

  val Extras: Seq[(String, String)] = Seq(
    "tf.route.routed_share" -> "ratio",
    "ops.lsh_candidates.useful_ratio" -> "ratio",
    "route.write.bytes_written" -> "bytes",
    "route.write.files" -> "count",
    "trace.remainder_s" -> "s",
    "trace.overhead_s" -> "s",
    "diag.scaling_eff" -> "ratio"
  )

  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerMetrics.map { case (m, u) => s"$l.$m" -> u }) ++
      Probes.map(p => s"$p.probe_s" -> "s") ++ Extras
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, records: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("records")).toAbsolutePath)
    require(Workloads.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }
}

/** The benchmark's one command. Untraced, it prints every end-to-end metric;
  * traced, every per-layer metric. The last stdout line is the result. */
object Main {
  /** Set-up repeats per run; setup_s takes their median. */
  val SetupReps = 3
  /** Fewest passes of each kind (untraced, traced, one-core) in a traced run. */
  val MinTraced = 2
  /** The workload whose traced run also measures one-core throughput. */
  val ScalingWorkload = "raw_match_logs"

  def main(args: Array[String]): Unit = {
    val out = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    val ok =
      try { new Run(Opts.parse(args), out).run(); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
    out.flush()
    System.exit(if (ok) 0 else 1)
  }
}

final class Run(o: Opts, out: PrintStream) {
  private val attempted = mutable.ArrayBuffer.empty[Boolean]
  private val record = mutable.ArrayBuffer.empty[(String, String)]
  /** Live heap at the end of each timed pass, with its outputs still held. */
  private val liveHeapMb = mutable.ArrayBuffer.empty[Double]
  private var timing = false

  private def session(cores: Int): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (Host.cores * 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass plus its check; the wall time when it completed, whatever the
    * check said, and whether it passed. */
  private def runOne(w: Workload, t: Tracer, p: Int): (Option[Double], Boolean) =
    try {
      val (res, wall) = t.runPass(p)(w.pass(t)) { r =>
        if (t.traced) w.probes(t, r)
        // a full collection after every pass, so that no pass pays for its
        // predecessor's garbage
        val live = Host.liveHeapMb()
        if (timing) liveHeapMb += live
      }
      val err = w.check(res)
      err.foreach(e => System.err.println(s"[perfbench] pass $p failed its check: $e"))
      attempted += err.isEmpty
      (Some(wall), err.isEmpty)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] pass $p threw")
        e.printStackTrace()
        attempted += false
        (None, false)
    }

  /** Closed loop, one client: the next pass starts when the last one ended,
    * until `seconds` have gone by and at least `min` passes ran. Returns the
    * wall times of the passes that passed their check; `onPass` runs right
    * after each of them. */
  private def loop(w: Workload, t: Tracer, firstId: Int, seconds: Double, min: Int,
      onPass: Int => Unit = _ => ()): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val walls = mutable.ArrayBuffer.empty[Double]
    var p = firstId
    while (System.nanoTime() < deadline || p - firstId < min) {
      val (wall, ok) = runOne(w, t, p)
      if (ok) wall.foreach { x => walls += x; onPass(p) }
      p += 1
    }
    walls.toSeq
  }

  private def inputRecord(w: Workload): Unit =
    record ++= Seq("input_lines" -> w.lines.toString, "input_docs" -> w.docs.toString,
      "input_bytes" -> w.inputBytes.toString)

  def run(): Unit = {
    Files.createDirectories(o.work)
    Files.createDirectories(o.records)
    val load0 = Host.load1()
    val steal0 = Host.stealTicks()
    record ++= Seq("workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "seconds" -> o.seconds.toString, "nproc" -> Host.cores.toString,
      "master" -> Json.str(s"local[${Host.cores}]"), "heap_max_mb" -> Json.num(Host.heapMaxMb)) ++
      Host.versions.map { case (k, v) => k -> Json.str(v) }

    val metrics = if (o.trace) traced() else untraced()

    val steal1 = Host.stealTicks()
    record ++= Seq("load1_before" -> Json.num(load0), "load1_after" -> Json.num(Host.load1()),
      "steal_ticks_delta" -> (if (steal0 >= 0 && steal1 >= 0) steal1 - steal0 else -1L).toString)
    val recordJson = Json.obj(record.toSeq)
    Files.write(o.records.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      recordJson.getBytes(StandardCharsets.UTF_8))
    out.println(s"run_record $recordJson")
    metrics.foreach { case (k, v, u) => out.println(f"$k%-44s ${Json.num(v)}%s $u%s") }
    val failed = attempted.count(!_)
    out.println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })
    )))
  }

  /** End-to-end metrics, tracing off. */
  private def untraced(): Seq[(String, Double, String)] = {
    val t0 = System.nanoTime()
    val spark = session(Host.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val w = Workloads(o.workload, spark, o.seed, o.work)
      val setups = (1 to Main.SetupReps).map(_ => timed(w.setup()))
      w.expect()
      inputRecord(w)
      val t = new Tracer(spark.sparkContext, None)
      val (firstWall, _) = runOne(w, t, 0)
      timing = true
      val walls = loop(w, t, 1, o.seconds, 1)
      timing = false
      val p50 = Workloads.median(walls)
      val (tail, pct, beyond) = Run.tail(walls)
      record ++= Seq(
        "session_start_s" -> Json.num(sessionS),
        "setup_reps_s" -> setups.map(Json.num).mkString("[", ",", "]"),
        "pass_s" -> walls.map(Json.num).mkString("[", ",", "]"),
        "pass_s_tail_percentile" -> Json.num(pct),
        "pass_s_tail_samples_beyond" -> beyond.toString,
        "timed_passes" -> walls.size.toString
      ) ++ w.record.map { case (k, v) => k -> Json.num(v) }
      out.println(f"pass_s_tail is p$pct%.1f of ${walls.size} timed passes ($beyond beyond it)")
      val v = Map(
        "setup_s" -> (sessionS + Workloads.median(setups)),
        "first_pass_s" -> firstWall.getOrElse(0.0),
        "pass_s_p50" -> p50,
        "pass_s_tail" -> tail,
        "lines_per_s" -> (if (p50 > 0) w.lines / p50 else 0.0),
        "docs_per_s" -> (if (p50 > 0) w.docs / p50 else 0.0),
        "peak_heap_mb" -> liveHeapMb.maxOption.getOrElse(0.0)
      )
      Metrics.EndToEnd.map { case (k, u) => (k, v(k), u) }
    } finally spark.stop()
  }

  /** Per-layer metrics: untraced passes, then traced passes on the same
    * inputs, then (for [[Main.ScalingWorkload]]) the same pass on one core. */
  private def traced(): Seq[(String, Double, String)] = {
    var spark = session(Host.cores)
    try {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val w = Workloads(o.workload, spark, o.seed, o.work)
      w.setup()
      w.expect()
      inputRecord(w)
      val plain = new Tracer(spark.sparkContext, None)
      runOne(w, plain, 0)
      val untracedP50 = Workloads.median(loop(w, plain, 1, o.seconds / 2.0, Main.MinTraced))

      val t = new Tracer(spark.sparkContext, Some(listener))
      val extras = mutable.Map.empty[Int, Seq[(String, Double)]]
      val tracedP50 = Workloads.median(
        loop(w, t, 1000, o.seconds / 2.0, Main.MinTraced, p => extras(p) = w.layerExtras))
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val perPass = extras.toSeq.sortBy(_._1).map { case (p, e) => layerValues(t, p) ++ e }
      writeSpans(t)

      val scaling =
        if (o.workload != Main.ScalingWorkload) 0.0
        else {
          spark.stop()
          spark = session(1)
          val w1 = Workloads(o.workload, spark, o.seed, o.work)
          w1.setup()
          w1.expect()
          val one = new Tracer(spark.sparkContext, None)
          runOne(w1, one, 0)
          val p50One = Workloads.median((1 to Main.MinTraced).flatMap(i => runOne(w1, one, i)._1))
          record += "pass_s_p50_one_core" -> Json.num(p50One)
          if (untracedP50 > 0) p50One / (Host.cores * untracedP50) else 0.0
        }
      record ++= Seq("untraced_pass_s_p50" -> Json.num(untracedP50), "traced_pass_s_p50" -> Json.num(tracedP50),
        "traced_passes" -> perPass.size.toString)

      val fixed = Map("trace.overhead_s" -> (tracedP50 - untracedP50), "diag.scaling_eff" -> scaling)
      Metrics.PerLayer.map { case (k, u) =>
        val v = fixed.getOrElse(k, Workloads.median(perPass.flatMap(_.get(k))))
        (k, v, u)
      }
    } finally spark.stop()
  }

  /** Per-layer values of traced pass `p`; layers the pass did not call are
    * absent (and report 0). */
  private def layerValues(t: Tracer, p: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.pass == p)
    val root = spans.find(_.name == Tracer.Root).get
    val layers = spans.filter(_.inSum)
    val v = mutable.Map.empty[String, Double]
    for (s <- layers) {
      val m = t.metricsOf(s.name, p)
      v ++= Seq(
        s"${s.name}.busy_s" -> s.seconds,
        s"${s.name}.cpu_s" -> m.cpuNs / 1e9,
        s"${s.name}.gc_s" -> m.gcMs / 1e3,
        s"${s.name}.shuffle_write_bytes" -> m.shuffleWriteBytes.toDouble,
        s"${s.name}.spill_bytes" -> m.spillBytes.toDouble,
        s"${s.name}.task_skew" -> m.skew,
        s"${s.name}.jobs" -> m.jobs.toDouble,
        s"${s.name}.rows_out" -> t.rowsOf(s.name, p).getOrElse(0L).toDouble
      )
    }
    spans.filter(s => !s.inSum && s.name != Tracer.Root).foreach(s => v(s"${s.name}.probe_s") = s.seconds)
    for (pp <- v.get("tf.per_player.busy_s"); asm <- v.get("tf.per_player_assembly.probe_s"))
      v("tf.per_player_sort.probe_s") = pp - asm
    for (env <- t.rowsOf("tf.envelope", p); routed <- t.rowsOf("tf.route", p) if env > 0)
      v("tf.route.routed_share") = routed.toDouble / env
    v("trace.remainder_s") = root.seconds - layers.map(_.seconds).sum
    v.toMap
  }

  private def writeSpans(t: Tracer): Unit = {
    val origin = t.spans.map(_.startNs).minOption.getOrElse(0L)
    val json = t.spans.map { s =>
      Json.obj(Seq("name" -> Json.str(s.name), "pass" -> s.pass.toString, "parent" -> Json.str(s.parent),
        "start_s" -> Json.num((s.startNs - origin) / 1e9), "end_s" -> Json.num((s.endNs - origin) / 1e9),
        "in_sum" -> s.inSum.toString))
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(o.records.resolve(s"${o.workload}-seed${o.seed}.spans.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}

object Run {
  /** The highest percentile with at least ten samples beyond it: its value,
    * the percentile and the number beyond. With ten samples or fewer no
    * percentile qualifies, and the maximum is reported with 0 beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0.0, 0)
    else if (s.length <= 10) (s.last, 100.0, 0)
    else {
      val k = s.length - 10
      (s(k - 1), 100.0 * k / s.length, 10)
    }
  }
}

object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** Full-precision number; non-finite values have no JSON form. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
