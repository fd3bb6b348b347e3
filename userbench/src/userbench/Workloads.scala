package userbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.Pipelines
import graft.functions.Text
import graft.operators._
import graft.streaming.StreamingTracker

/** What the benchmark knows about one request once it has run. */
final case class Outcome(digest: String, failures: Seq[String])

/** One closed-loop workload. `generate` makes the inputs from the seed,
  * `start` builds what must exist once, `prepare` stages request `i`'s
  * inputs outside the timed region, `request` is the timed call, `after`
  * checks its outputs and `finish` makes the whole-run checks.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path,
                        val trace: Trace) {
  def name: String
  def describe: String
  def warmups: Int
  /** input rows (detections or documents) of request `i` */
  def rows(i: Int): Long
  def generate(): Unit = ()
  def start(): Unit = ()
  def prepare(i: Int): Unit = ()
  def request(i: Int): Unit
  def after(i: Int): Outcome
  def finish(): Seq[String] = Nil
  /** per-layer figures only the workload can see, by metric name */
  def layerFigures: Map[String, Double] = Map.empty

  protected def dir(parts: String*): String = parts.foldLeft(work)(_.resolve(_)).toString
  protected def span[T](name: String)(body: => T): T = trace.span(name)(body)
}

object Workload {
  val IouThreshold = 0.5
  val IdfFloor = 0.8
  val MotaFloor = 0.7

  def hashOf(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString


  def writeText(path: String, lines: Iterator[String]): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(l => { w.write(l); w.write('\n') }) finally w.close()
  }

  /** MOTA and IDF1 of a metrics row with the MotEval columns. */
  def motaIdf1(m: Map[String, Double]): (Double, Double) = {
    val fp = m("Dets") - m("CLR_TP")
    ((m("CLR_TP") - fp - m("IDSW")) / m("GT_Dets"), m("IDF1"))
  }

  def qualityFailures(what: String, m: Map[String, Double]): Seq[String] = {
    val (mota, idf1) = motaIdf1(m)
    (if (idf1 < IdfFloor) Seq(f"$what IDF1 $idf1%.3f below $IdfFloor") else Nil) ++
      (if (mota < MotaFloor) Seq(f"$what MOTA $mota%.3f below $MotaFloor") else Nil)
  }

  def apply(name: String, spark: SparkSession, seed: Long, work: Path, trace: Trace): Workload =
    name match {
      case "mot_short" => new MotShort(spark, seed, work, trace)
      case "corpus_ingest" => new CorpusIngest(spark, seed, work, trace)
      case "mot_stream" => new MotStream(spark, seed, work, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

import Workload._

/** The reference's command-line surface on one small sequence in MOT
  * files: detection post-processing (filter cascade, NMS, nested-box
  * removal) to det.txt, then `track`, then `eval` and the metric tables.
  * The fixed per-call cost (planning, codegen, scheduling) dominates.
  */
final class MotShort(spark: SparkSession, seed: Long, work: Path, trace: Trace)
    extends Workload(spark, seed, work, trace) {
  val spec = MotSpec(seqs = 1, frames = 60, objects = 8, missRate = 0.05,
    fpRate = 0.05, dupRate = 0.2, embDim = 8)
  val ConfThreshold = 0.1
  def name = "mot_short"
  def describe = spec.describe + ", new sequence per request"
  def warmups = 1
  private var data: MotData = _
  private val rowsOf = mutable.Map.empty[Int, Long]
  def rows(i: Int): Long = rowsOf(i)
  private var table = ""
  private val keptRatio = mutable.ArrayBuffer.empty[Double]

  private val rawSchema = StructType(Seq("seq", "frame").map(StructField(_, StringType)) ++
    Seq(StructField("id", IntegerType)) ++
    Seq("x1", "y1", "x2", "y2", "score").map(StructField(_, DoubleType)))
  private val embSchema = StructType(Seq(StructField("frame", StringType),
    StructField("id", IntegerType), StructField("vector", ArrayType(FloatType))))

  /** The detections post-processing must keep, with the per-frame ordinals
    * it assigns (score desc, raw id asc): every real detection and every
    * false positive at or above the confidence threshold.
    */
  private def expectedKept(d: MotData): Map[(Int, Int), DetRow] =
    d.dets.filter(x => x.kind == 0 || (x.kind == 2 && x.conf >= ConfThreshold))
      .groupBy(_.frame).toSeq.flatMap { case (f, xs) =>
        xs.sortBy(x => (-x.conf, x.id)).zipWithIndex.map { case (x, k) => (f, k + 1) -> x }
      }.toMap

  override def prepare(i: Int): Unit = {
    data = MotGen.generate(spec, seed * 7919L + i)
    rowsOf(i) = data.dets.length.toLong
    val r = dir(s"req$i")
    writeText(s"$r/raw.csv", data.dets.iterator.map(x =>
      s"${x.seq},${MotGen.frameStr(x.frame)},${x.id},${x.x},${x.y},${x.x + x.w},${x.y + x.h},${x.conf}"))
    writeText(s"$r/gt.txt", data.gt.iterator.map(g =>
      s"${g.frame},${g.id},${g.x},${g.y},${g.w},${g.h},1,1,-1,-1"))
    // the appearance model's output for the kept detections, by det.txt id
    writeText(s"$r/emb.json", expectedKept(data).iterator.map { case ((f, k), x) =>
      s"""{"frame":"${MotGen.frameStr(f)}","id":$k,"vector":[${x.emb.mkString(",")}]}"""
    })
  }

  def request(i: Int): Unit = {
    val r = dir(s"req$i")
    span("nms") {
      Pipelines.detectPostprocess(spark, spark.read.schema(rawSchema).csv(s"$r/raw.csv"),
        s"$r/det", imgW = 10000, imgH = 10000, confThreshold = ConfThreshold)
    }
    span("tracker") {
      Pipelines.track(spark, s"$r/det", spark.read.schema(embSchema).json(s"$r/emb.json"),
        s"$r/track")
    }
    table = span("moteval") {
      val (perSeq, combined) = Pipelines.eval(spark, s"$r/gt.txt", s"$r/track", s"$r/eval")
      Pipelines.formatMetricTables(perSeq, combined)
    }
  }

  /** The COMBINED row of every metric table, by column name. */
  private def combinedRow(t: String): Map[String, Double] =
    t.split("=" * 80).iterator.map(_.trim).filter(_.nonEmpty).flatMap { block =>
      val lines = block.split("\n").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("-"))
      val header = lines(1).split("\\s+")
      lines.find(_.startsWith("COMBINED")).toSeq.flatMap { row =>
        header.zip(row.split("\\s+")).drop(1).map { case (k, v) => k -> v.toDouble }
      }
    }.toMap

  /** det.txt must hold exactly the expected boxes under the expected ids:
    * no planted duplicate, no filtered false positive, every real box.
    */
  def after(i: Int): Outcome = {
    val det = new File(dir(s"req$i", "det")).listFiles().filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
    val got = det.map(_.split(",")).map(c => (c(0).toInt, c(1).toInt) -> (c(2).toDouble, c(3).toDouble)).toMap
    val want = expectedKept(data)
    keptRatio += got.size.toDouble / data.dets.length
    val dups = data.dets.count(x => x.kind == 1 &&
      got.valuesIterator.contains((x.x, x.y)))
    val wrong = want.count { case (k, x) => !got.get(k).contains((x.x, x.y)) }
    val fails =
      (if (dups > 0) Seq(s"post-processing kept $dups planted duplicates") else Nil) ++
      (if (wrong > 0 || det.length != want.size)
        Seq(s"det.txt has ${det.length} boxes, $wrong of the ${want.size} expected missing or moved")
       else Nil) ++
      qualityFailures("tracker", combinedRow(table))
    Outcome(hashOf(det.sorted.mkString("\n") + table), fails)
  }

  override def layerFigures: Map[String, Double] =
    if (keptRatio.isEmpty) Map.empty else Map("nms.kept_ratio" -> keptRatio.sum / keptRatio.size)
}

/** Corpus dedup ingest: probe each batch's LSH bands against the corpus
  * band table, verify candidates by exact Jaccard, and merge the verified
  * edges into cluster labels carried from request to request.
  */
final class CorpusIngest(spark: SparkSession, seed: Long, work: Path, trace: Trace)
    extends Workload(spark, seed, work, trace) {
  import spark.implicits._
  /** Where each figure comes from (userbench/README.md has the details):
    * document length (the 10th to 90th percentile of distinct tokens),
    * the cluster-size law and cap, the oversized cluster's share (5%) and
    * the batch's share of the table (1 in 20) are measured on the
    * `documents` table of the catalog's d09/d15 dedup queries (sf0.1);
    * the near-duplicate share is the RealNews figure of Lee et al. 2022;
    * the corpus size, the vocabulary and the half-duplicate share are
    * design choices whose reasons the README gives.
    */
  val spec = CorpusSpec(docs = 3000, minTokens = 15, maxTokens = 29, vocab = 20000,
    oversized = 150, maxCluster = 24, clusterExp = 1.0 / 3, batchDocs = 158,
    nearDupShare = 0.14, halfDupShare = 0.1)
  val NumHashes = 64
  val Bands = 16
  val MinJaccard = 0.8
  def name = "corpus_ingest"
  def describe = spec.describe
  def warmups = 5
  def rows(i: Int): Long = spec.batchDocs.toLong
  private var gen: CorpusGen = _
  private var labels = ""
  private var buildS = 0.0
  private val candidates = mutable.ArrayBuffer.empty[Long]
  private val verified = mutable.ArrayBuffer.empty[Long]
  private val edgeDirs = mutable.ArrayBuffer.empty[String]

  /** The band table through the engine's `graft_bandsigs` expression. */
  private def bandTable(docs: DataFrame): DataFrame =
    docs.withColumn("__toks", Text.tokens(col("text")))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), posexplode(call_function("graft_bandsigs",
        col("__toks"), lit(NumHashes), lit(Bands))).as(Seq("band", "band_sig")))

  override def generate(): Unit = {
    gen = new CorpusGen(spec, seed)
    gen.corpus
  }

  /** Builds the corpus's band table, gram sets and cluster labels. */
  override def start(): Unit = {
    ParquetOut.writeDocs(dir("corpus.parquet"), gen.corpus.toSeq, spark.sparkContext.hadoopConfiguration)
    val t0 = System.nanoTime()
    val corpus = spark.read.parquet(dir("corpus.parquet"))
    bandTable(corpus).write.parquet(dir("bands"))
    Dedup.gramSets(corpus).write.parquet(dir("sets"))
    val cands = Dedup.minhashCandidatesFromBands(spark.read.parquet(dir("bands")))
    Dedup.jaccardPairsFromSets(spark.read.parquet(dir("sets")), cands, MinJaccard)
      .select("doc_a", "doc_b").write.parquet(dir("edges0"))
    Dedup.connectedComponents(spark.read.parquet(dir("edges0"))).write.parquet(dir("labels0"))
    buildS = (System.nanoTime() - t0) / 1e9
    labels = dir("labels0")
    edgeDirs += dir("edges0")
  }

  override def prepare(i: Int): Unit =
    ParquetOut.writeDocs(dir(s"req$i", "docs.parquet"), gen.batch(i).docs.toSeq,
      spark.sparkContext.hadoopConfiguration)

  def request(i: Int): Unit = {
    val r = dir(s"req$i")
    val docs = spark.read.parquet(s"$r/docs.parquet")
    span("dedup.probe") {
      Dedup.minhashCandidatesAgainstFromBands(bandTable(docs), spark.read.parquet(dir("bands")))
        .write.parquet(s"$r/cands")
    }
    span("dedup.verify") {
      val sets = Dedup.gramSets(docs).unionByName(spark.read.parquet(dir("sets")))
      Dedup.jaccardPairsFromSets(sets, spark.read.parquet(s"$r/cands"), MinJaccard)
        .select("doc_a", "doc_b").write.parquet(s"$r/edges")
    }
    span("dedup.merge") {
      Dedup.ccIncremental(spark.read.parquet(labels), spark.read.parquet(s"$r/edges"))
        .write.parquet(s"$r/labels")
    }
  }

  def after(i: Int): Outcome = {
    val r = dir(s"req$i")
    labels = s"$r/labels"
    edgeDirs += s"$r/edges"
    val edges = spark.read.parquet(s"$r/edges").as[(Long, Long)].collect()
    candidates += spark.read.parquet(s"$r/cands").count()
    verified += edges.length
    val found = edges.toSet
    val missed = gen.batch(i).planted.filter(p => p.jaccard >= MinJaccard && !found((p.a, p.b)))
    val nLabels = spark.read.parquet(labels).count()
    Outcome(hashOf(edges.map(e => s"${e._1},${e._2}").sorted.mkString("\n") + s"|$nLabels"),
      if (missed.isEmpty) Nil
      else Seq(s"batch $i missed ${missed.length} planted near-duplicate pairs"))
  }

  /** Incremental labels must equal one batch connected-components run over
    * every edge verified so far.
    */
  override def finish(): Seq[String] = {
    val all = edgeDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val batch = Dedup.connectedComponents(all).select("doc_id", "cluster_id")
    val incr = spark.read.parquet(labels).select("doc_id", "cluster_id")
    val diff = batch.exceptAll(incr).count() + incr.exceptAll(batch).count()
    if (diff == 0) Nil else Seq(s"incremental labels differ from batch CC in $diff rows")
  }

  override def layerFigures: Map[String, Double] = {
    Map("dedup.build_s" -> buildS) ++
      (if (candidates.isEmpty) Map.empty else Map(
        "dedup.candidates" -> candidates.sum.toDouble / candidates.size,
        "dedup.verified_ratio" -> verified.sum.toDouble / math.max(1L, candidates.sum)))
  }
}

/** A running `StreamingTracker.track` query over a parquet source
  * directory: each request lands one file of new frames and waits for the
  * query to process it.
  */
final class MotStream(spark: SparkSession, seed: Long, work: Path, trace: Trace)
    extends Workload(spark, seed, work, trace) {
  import spark.implicits._
  val FramesPerFile = 10
  val MaxFiles = 200
  val spec = MotSpec(seqs = 8, frames = FramesPerFile * MaxFiles, objects = 8,
    missRate = 0.05, fpRate = 0.05, dupRate = 0.0, embDim = 8)
  def name = "mot_stream"
  def describe = spec.describe + s", $FramesPerFile frames per file"
  def warmups = 6
  private var byFile: Array[Array[TrackerIn]] = Array.empty
  def rows(i: Int): Long = byFile(i).length.toLong
  private var query: StreamingQuery = _
  private val out = new java.util.concurrent.ConcurrentLinkedQueue[SeqTrackOut]()
  private var landed = 0
  private val durations = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var progressSeen = 0L
  private var tracedFiles = 0
  private val allOut = mutable.ArrayBuffer.empty[SeqTrackOut]
  private var stateRows = 0.0
  private var stateMb = 0.0

  override def generate(): Unit = {
    val d = MotGen.generate(spec, seed)
    byFile = d.dets.groupBy(x => (x.frame - 1) / FramesPerFile).toArray.sortBy(_._1)
      .map(_._2.map(x => TrackerIn(x.seq, MotGen.frameStr(x.frame), x.id,
        x.x, x.y, x.w, x.h, x.conf, x.emb)))
  }

  override def start(): Unit = {
    Files.createDirectories(work.resolve("source"))
    val schema = Seq.empty[TrackerIn].toDS().schema
    val sink: (Dataset[SeqTrackOut], Long) => Unit = (batch, _) => batch.collect().foreach(out.add)
    query = StreamingTracker.track(spark.readStream.schema(schema).parquet(dir("source")).as[TrackerIn])
      .writeStream.option("checkpointLocation", dir("checkpoint"))
      .outputMode("append").foreachBatch(sink).start()
  }

  override def prepare(i: Int): Unit = {
    require(i < MaxFiles, s"mot_stream ran out of generated files ($MaxFiles)")
    ParquetOut.writeDets(dir("staging", f"f$i%05d.parquet"), byFile(i).toSeq,
      spark.sparkContext.hadoopConfiguration)
  }

  def request(i: Int): Unit = span("streaming") {
    val name = f"f$i%05d.parquet"
    Files.move(work.resolve("staging").resolve(name), work.resolve("source").resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    landed = i + 1
    query.processAllAvailable()
  }

  def after(i: Int): Outcome = {
    val rows = Iterator.continually(out.poll()).takeWhile(_ != null).toSeq
    val progress = query.recentProgress.filter(_.batchId >= progressSeen)
    if (trace.enabled && trace.spans.exists(_.req == i)) {
      tracedFiles += 1
      progress.foreach { p =>
        val d = p.durationMs
        def s(k: String) = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        durations("streaming.add_batch_s") += s("addBatch")
        durations("streaming.commit_s") += s("walCommit") + s("commitOffsets")
        durations("streaming.planning_s") += s("queryPlanning")
        durations("streaming.latest_offset_s") += s("latestOffset")
      }
    }
    progress.lastOption.foreach(p => progressSeen = p.batchId + 1)
    allOut ++= rows
    val frames = byFile(i).map(_.frame).toSet
    Outcome(hashOf(rows.map(_.toString).sorted.mkString("\n")),
      if (rows.exists(r => !frames(r.frame))) Seq(s"file $i: output for frames not in the file")
      else Nil)
  }

  /** The streamed output must equal the batch tracker over the same frames. */
  override def finish(): Seq[String] = {
    val last = query.lastProgress
    if (last != null && last.stateOperators.nonEmpty) {
      stateRows = last.stateOperators.head.numRowsTotal.toDouble
      stateMb = last.stateOperators.head.memoryUsedBytes / 1048576.0
    }
    query.stop()
    val input = byFile.take(landed).flatten.toSeq
    val batch = Tracker.track(input.toDS()).collect().map(_.toString).sorted
    val streamed = allOut.map(_.toString).sorted.toArray
    if (batch.sameElements(streamed)) Nil
    else Seq(s"streaming output (${streamed.length} rows) differs from Tracker.track (${batch.length} rows)")
  }

  override def layerFigures: Map[String, Double] =
    durations.map { case (k, v) => k -> v / math.max(1, tracedFiles) }.toMap ++
      Map("streaming.state_rows" -> stateRows, "streaming.state_mb" -> stateMb)
}
