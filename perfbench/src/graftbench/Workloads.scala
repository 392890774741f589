package graftbench

import graft.loggen.LogGen
import graft.ops.Dedup
import graft.pipeline.{JsonEmit, Route, TfPipeline}
import graft.sim.{ReferenceSim, SimExpectations}
import graft.sources.LogFiles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One named set of inputs and the pass the closed loop repeats over them.
  * The program receives only the inputs generated here from the seed. */
abstract class Workload {
  type Out

  /** Creates (or re-creates) the inputs; repeated to time set-up. */
  def setup(): Unit

  /** Derives the expected outputs from the reference simulation; runs once,
    * after set-up and outside every timed region. */
  def expect(): Unit

  /** One pass over the inputs. */
  def pass(t: Tracer): Out

  /** Checks one pass's output; None when it is correct. Runs outside the
    * pass's wall time and releases what the pass left behind. */
  def check(out: Out): Option[String]

  /** Forces fused layers on their own after a traced pass. */
  def probes(t: Tracer, out: Out): Unit = ()

  def lines: Long
  def docs: Long
  def inputBytes: Long

  /** Workload-specific figures for the run record, as medians over passes. */
  def record: Seq[(String, Double)] = Nil

  /** Workload-specific per-layer metrics of the last traced pass, read right
    * after its check and probes. */
  def layerExtras: Seq[(String, Double)] = Nil
}

object Workloads {
  val Names: Seq[String] = Seq("route_store", "raw_match_logs", "corpus_dedup")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "route_store" => new RouteStore(spark, seed, work)
    case "raw_match_logs" => new RawMatchLogs(spark, seed, work)
    case "corpus_dedup" => new CorpusDedup(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally walk.close()
    }

  /** Data files under `dir`: not hidden, not checksums or commit markers. */
  def dataFiles(dir: Path): Seq[File] =
    if (!Files.exists(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try {
        val it = walk.iterator()
        val out = mutable.ArrayBuffer.empty[File]
        while (it.hasNext) {
          val f = it.next().toFile
          if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) out += f
        }
        out.toSeq
      } finally walk.close()
    }
}

/** One route_store pass: the store it committed, both write results, the
  * frames its aggregates read, their row counts and its two phase times. */
final case class StoreOut(dir: Path, write: Route.RouteResult, resume: Route.RouteResult,
    routed: DataFrame, dim: DataFrame, players: Long, chat: Long, writeSec: Double, querySec: Double)

/** A cached `LogGen.generate` table -> Route.writeRouted into a fresh
  * directory, a resume call that must be a no-op, then the aggregates
  * (perPlayer ordered, chat) read back from the committed store. */
final class RouteStore(spark: SparkSession, seed0: Long, work: Path) extends Workload {
  private val nDocs = 40
  private val linesPerDoc = 500
  private val seed = seed0 ^ 0x3c6ef372fe94f82bL
  private var input: DataFrame = _
  private var nLines = 0L
  private var tokenBytes = 0L
  private var expectedCounts = Map.empty[String, Long]
  /** Per-player output rows and docs with chat, over the whole input. */
  private var expectedPlayers = 0L
  private var expectedChatDocs = 0L
  private val writeS = mutable.ArrayBuffer.empty[Double]
  private val queryS = mutable.ArrayBuffer.empty[Double]
  private val storeRatio = mutable.ArrayBuffer.empty[Double]
  /** (bytes, data files) of the last committed store. */
  private var lastStore = (0L, 0L)
  private var passNo = 0

  type Out = StoreOut

  def setup(): Unit = {
    if (input != null) input.unpersist(blocking = true)
    input = LogGen.generate(spark, nDocs, linesPerDoc, seed).toDF().persist()
    val r = input.agg(count(lit(1)), sum(col("n_tok"))).head()
    nLines = r.getLong(0)
    tokenBytes = r.getLong(1) * 4L
  }

  def expect(): Unit = {
    val acc = mutable.Map.empty[String, Long]
    expectedPlayers = 0L
    expectedChatDocs = 0L
    for (d <- 0L until nDocs.toLong) {
      val lines = LogGen.docLines(seed, d, linesPerDoc)
      SimExpectations.routeCounts(lines, acc)
      val sim = ReferenceSim.run(lines)
      require(!sim.hardError, s"generated doc $d aborts the reference")
      expectedPlayers += sim.perPlayer.length
      if (sim.chat.nonEmpty) expectedChatDocs += 1
    }
    expectedCounts = acc.toMap
  }

  def pass(t: Tracer): Out = {
    passNo += 1
    val dir = work.resolve(s"store-$passNo")
    Workloads.deleteTree(dir)
    val routable = t.cut("tf.routable", TfPipeline.routable(TfPipeline.envelope(input)))
    val w0 = System.nanoTime()
    val (fp, write) = t.layer("route.write") {
      val fp = Route.fingerprint(input)
      (fp, Route.writeRouted(spark, routable, dir.toString, fp))
    }
    val w1 = System.nanoTime()
    t.rowsOut("route.write", write.counts.values.sum)
    val resume = Route.writeRouted(spark, routable, dir.toString, fp)
    val q0 = System.nanoTime()
    val routed = t.cut("route.read", TfPipeline.routedFromStore(spark.read.parquet(s"$dir/data")))
    // persisted but left lazy untraced, as the store query runs it
    val dim = t.keep(TfPipeline.subjectDim(routed))
    if (t.traced) t.layer("tf.subject_dim")(t.count("tf.subject_dim", dim))
    val players = t.layer("tf.per_player")(t.sink("tf.per_player", TfPipeline.perPlayer(routed, dim)))
    val chat = t.layer("tf.chat")(t.sink("tf.chat", TfPipeline.chat(routed, dim)))
    StoreOut(dir, write, resume, routed, dim, players, chat, (w1 - w0) / 1e9, (System.nanoTime() - q0) / 1e9)
  }

  def check(out: Out): Option[String] = {
    val files = Workloads.dataFiles(out.dir.resolve("data"))
    val bytes = (files ++ Workloads.dataFiles(out.dir.resolve("audit"))).map(_.length).sum
    lastStore = (bytes, files.length.toLong)
    writeS += out.writeSec
    queryS += out.querySec
    storeRatio += bytes.toDouble / tokenBytes
    Workloads.deleteTree(out.dir)
    if (out.write.resumed) Some("fresh store write reported a resume")
    else if (out.write.counts != expectedCounts) Some("manifest route counts differ from the reference sim")
    else if (!out.resume.resumed) Some("second write of the same input was not a resume")
    else if (out.resume.counts != expectedCounts) Some("resumed route counts differ from the reference sim")
    else if (out.players != expectedPlayers) Some(s"per_player rows ${out.players}, expected $expectedPlayers")
    else if (out.chat != expectedChatDocs) Some(s"chat rows ${out.chat}, expected $expectedChatDocs")
    else None
  }

  /** The module aggregates and the unordered assembly that perPlayer fuses,
    * each forced alone on the pass's materialized routed frame and dim. */
  override def probes(t: Tracer, out: Out): Unit = {
    t.probe("tf.class_stats")(Workloads.noop(TfPipeline.classStats(out.routed)))
    t.probe("tf.heal_spread")(Workloads.noop(TfPipeline.healSpread(out.routed)))
    t.probe("tf.medic_stats")(Workloads.noop(TfPipeline.medicStats(out.routed)))
    t.probe("tf.per_player_assembly")(Workloads.noop(TfPipeline.perPlayerAssembled(out.routed, out.dim)))
  }

  override def record: Seq[(String, Double)] = Seq(
    "store_write_s" -> Workloads.median(writeS.toSeq),
    "store_query_s" -> Workloads.median(queryS.toSeq),
    "store_bytes_per_input_byte" -> Workloads.median(storeRatio.toSeq)
  )

  override def layerExtras: Seq[(String, Double)] =
    Seq("route.write.bytes_written" -> lastStore._1.toDouble, "route.write.files" -> lastStore._2.toDouble)

  def lines: Long = nLines
  def docs: Long = nDocs.toLong
  def inputBytes: Long = tokenBytes
}

/** Raw `.log` / `.log.gz` match logs -> readLogs -> routedWithUniverse ->
  * subjectDim -> JsonEmit.emit, collected to the driver: the ParseLog path. */
final class RawMatchLogs(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val nFiles = 8
  private val linesPerDoc = 4000
  private val gzShare = 0.3
  private val logSeed = seed ^ 0xa54ff53a5f1d36f1L
  private val dir = work.resolve("logs")
  private var nLines = 0L
  private var nBytes = 0L
  private var expected = Map.empty[String, String]

  type Out = Map[String, String]

  private def fileName(d: Int, gz: Boolean): String = f"match-$d%04d.log" + (if (gz) ".gz" else "")

  def setup(): Unit = {
    Workloads.deleteTree(dir)
    Files.createDirectories(dir)
    val rng = new java.util.SplittableRandom(logSeed)
    var lines = 0L
    var bytes = 0L
    for (d <- 0 until nFiles) {
      val gz = rng.nextDouble() < gzShare
      val doc = LogGen.docLines(logSeed, d.toLong, linesPerDoc)
      val body = doc.map(l => s"L $l\n").mkString
      val raw = body.getBytes(StandardCharsets.UTF_8)
      val f = dir.resolve(fileName(d, gz))
      val os = {
        val fos = Files.newOutputStream(f)
        if (gz) new java.util.zip.GZIPOutputStream(fos) else fos
      }
      try os.write(raw)
      finally os.close()
      lines += doc.length
      bytes += raw.length
    }
    nLines = lines
    nBytes = bytes
  }

  def expect(): Unit =
    expected = Workloads.dataFiles(dir).map { f =>
      val lines = LogFiles.splitLines(LogFiles.readLogFile(f.getPath))
      f.getName -> SimExpectations.renderDocJson(ReferenceSim.run(lines))
    }.toMap

  def pass(t: Tracer): Out = {
    val input = t.cut("sources.read_logs", LogFiles.readLogs(spark, dir.toString))
    val env = t.cut("tf.envelope", TfPipeline.envelope(input))
    val (universe, routed0) = TfPipeline.routedWithUniverse(env)
    // ParseLog caches routed; emit's assembly counts it before fanning out
    val routed = t.keep(routed0)
    t.layer("tf.route")(t.count("tf.route", routed))
    val dim = t.cut("tf.subject_dim", TfPipeline.subjectDim(routed))
    val rows = t.layer("json.emit")(JsonEmit.emit(universe, routed, dim).collect())
    t.rowsOut("json.emit", rows.length.toLong)
    rows.map(r => Paths.get(r.getString(0)).getFileName.toString -> r.getString(1)).toMap
  }

  def check(out: Out): Option[String] =
    if (out.keySet != expected.keySet) Some(s"${out.size} JSON docs, expected ${expected.size}")
    else expected.collectFirst { case (k, v) if out(k) != v => s"$k: JSON differs from the reference sim" }

  def lines: Long = nLines
  def docs: Long = nFiles.toLong
  def inputBytes: Long = nBytes
}

/** Seeded corpus with planted chains of near-duplicates -> shingles ->
  * MinHash-LSH candidates (xxhash path) -> connected components -> one
  * cluster id per document. */
final class CorpusDedup(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val baseDocs = 2000
  private val chains = 200
  private val vocab = 4000
  private val path = work.resolve("corpus")
  private var nDocs = 0L
  private var nBytes = 0L
  /** (copy, original) of every planted exact copy. */
  private var copies = Vector.empty[(Long, Long)]
  /** Planted chain of each chain member; absent for unrelated docs. */
  private var chainOf = Map.empty[Long, Int]
  private var clusterCount = -1L
  private var lastUseful = 0.0

  type Out = (Map[Long, Long], DataFrame)

  def setup(): Unit = {
    Workloads.deleteTree(path)
    val rng = new java.util.SplittableRandom(seed ^ 0xbb67ae8584caa73bL)
    // skewed word choice, so shingles are shared the way text shares them
    def word(): String = "w" + (vocab * math.pow(rng.nextDouble(), 2)).toInt
    def doc(): Vector[String] = Vector.fill(40 + rng.nextInt(80))(word())
    val texts = mutable.ArrayBuffer.empty[Vector[String]]
    val cps = Vector.newBuilder[(Long, Long)]
    val fam = Map.newBuilder[Long, Int]
    for (_ <- 0 until baseDocs) texts += doc()
    // chain: original -> exact copy -> copy with a few words edited -> its
    // exact copy -> ...; edits accumulate along the chain, so its ends need
    // not be LSH candidates of each other and components span several hops
    for (c <- 0 until chains) {
      // distinct originals, so that chains never merge
      var cur = (c * (baseDocs / chains) + rng.nextInt(baseDocs / chains)).toLong
      fam += cur -> c
      for (step <- 0 until 3 + rng.nextInt(4)) {
        val id = texts.length.toLong
        if (step % 2 == 0) {
          texts += texts(cur.toInt)
          cps += id -> cur
        } else {
          val edited = texts(cur.toInt).toArray
          for (_ <- 0 until 2 + rng.nextInt(3)) edited(rng.nextInt(edited.length)) = word()
          texts += edited.toVector
        }
        fam += id -> c
        cur = id
      }
    }
    copies = cps.result()
    chainOf = fam.result()
    nDocs = texts.length.toLong
    nBytes = texts.map(_.mkString(" ").length.toLong).sum
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
      .repartition(Host.cores)
      .write.parquet(path.toString)
  }

  def expect(): Unit = ()

  def pass(t: Tracer): Out = {
    val docs = spark.read.parquet(path.toString)
    val sh = t.cut("ops.shingles", docs.select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh")))
    val pairs = t.cut("ops.lsh_candidates", Dedup.lshCandidates(sh, col("doc_id"), col("sh"), 8, 2))
    val clusters = t.layer("ops.connected_components") {
      val cc = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      docs
        .select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .collect()
    }
    t.rowsOut("ops.connected_components", clusters.length.toLong)
    (clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap, pairs)
  }

  def check(out: Out): Option[String] = {
    val cl = out._1
    val n = cl.values.toSet.size.toLong
    if (clusterCount < 0) clusterCount = n
    if (cl.size.toLong != nDocs) Some(s"${cl.size} cluster ids for $nDocs docs")
    else if (n != clusterCount) Some(s"$n clusters, first pass had $clusterCount")
    else copies.collectFirst { case (c, o) if cl(c) != cl(o) => s"planted copy $c is not in the cluster of $o" }
  }

  /** Share of candidate pairs whose two docs belong to one planted chain. */
  override def probes(t: Tracer, out: Out): Unit = {
    val ps = out._2.collect()
    val hits = ps.count(r => chainOf.get(r.getLong(0)).exists(c => chainOf.get(r.getLong(1)).contains(c)))
    lastUseful = if (ps.isEmpty) 0.0 else hits.toDouble / ps.length
  }

  override def layerExtras: Seq[(String, Double)] = Seq("ops.lsh_candidates.useful_ratio" -> lastUseful)

  def lines: Long = nDocs
  def docs: Long = nDocs
  def inputBytes: Long = nBytes
}
