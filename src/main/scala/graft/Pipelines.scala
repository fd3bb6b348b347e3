package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.mot.MotCsv
import graft.operators._

/** The reference's pipeline entry points (SURVEY §3) as composed library
  * calls over MOT files — the complete user surface: someone running
  * `run_pipeline.py track|eval|features|detect` today calls these
  * instead.
  *
  * File layout follows the reference convention: det.txt + embeddings →
  * track.txt → eval.txt → metric tables.
  *
  * One sequence's MOT file per call, as in the reference's CLI (the
  * steps that read MOT files stamp `seq0`), so each input is coalesced
  * to ONE partition right after its read. A one-partition plan reports `SinglePartition`, which already
  * satisfies the clustering the per-group kernels (`groupByKey`,
  * `flatMapSortedGroups`, `cogroup`) and the embedding join require, so
  * Catalyst plans every step with no exchange: `detectPostprocess` and
  * `track` run one Spark job each, `eval` three (eval.txt, the metrics
  * row, the COMBINED row). At this size the job and exchange overhead,
  * not the operators, is the cost of a call. Multi-sequence Datasets
  * call the operators directly and keep their parallel plans.
  */
object Pipelines {

  /** A MOT file of the call's sequence with its detection-shaped key
    * columns `frameIdx` and `seq`.
    */
  private def motSeq(spark: SparkSession, file: String): DataFrame =
    // reference gap math requires int-castable frames
    // (src/utils/eval.py:308 — same limitation, documented)
    MotCsv.read(spark, file).coalesce(1)
      .select(col("*"), col("frame").cast("int").as("frameIdx"), lit("seq0").as("seq"))

  /** The embeddings table (frame, id, vector: array<float>) as the
    * nullable `emb` column to left-join onto a sequence's rows.
    */
  private def embColumn(embeddings: DataFrame): DataFrame =
    embeddings.select(col("frame"), col("id"), col("vector").as("emb")).coalesce(1)

  /** §3.1 `track` — det.txt + embeddings table (frame, id,
    * vector: array<float>) → track.txt. Embeddings are joined onto
    * detections (not broadcast wholesale, SURVEY P8 at scale): a
    * shuffled hash join, which over two one-partition sides needs no
    * exchange and no broadcast job.
    */
  def track(spark: SparkSession, detFile: String, embeddings: DataFrame,
            outFile: String, cfg: TrackerConfig = TrackerConfig()): Unit = {
    import spark.implicits._
    val dets = MotCsv.read(spark, detFile).coalesce(1)
      .join(embColumn(embeddings).hint("shuffle_hash"), Seq("frame", "id"), "left")
      .select(lit("seq0").as("seq"), col("frame"), col("id"),
        col("x"), col("y"), col("w"), col("h"), col("conf"), col("emb"))
      .as[TrackerIn]
    val out = Tracker.track(dets, cfg)
    MotCsv.write(
      out.toDF().select(col("frame"), col("trackId").as("id"),
        col("x"), col("y"), col("w"), col("h"), col("conf")),
      outFile)
  }

  /** §3.3 `eval` — the reference's two-pass design: (1) strict-threshold
    * GT filter → eval.txt; (2) metrics of GT vs the filtered tracks.
    * Returns (perSequence, combined) metric rows; perSequence is already
    * collected (a local relation).
    */
  def eval(spark: SparkSession, gtFile: String, trackFile: String,
           evalFile: String, iouThreshold: Double = 0.3): (DataFrame, DataFrame) = {
    val gt = motSeq(spark, gtFile)
    val filtered = MotEval.gtFilteredTracks(gt, motSeq(spark, trackFile), iouThreshold)
    MotCsv.write(filtered.select("frame", "id", "x", "y", "w", "h", "conf"), evalFile)
    // the per-sequence rows come back as a local relation: collecting
    // perSeq runs no job, and combine aggregates the collected rows
    val metrics = MotEval.metrics(gt, motSeq(spark, evalFile), iouThreshold)
    val perSeq = spark.createDataFrame(java.util.Arrays.asList(metrics.collect(): _*), metrics.schema)
    // one partition: the global aggregate then needs no exchange
    (perSeq, MotEval.combine(perSeq.coalesce(1)))
  }

  /** §3 entry point 4 `features` — GT-derived matching thresholds. */
  def gtThresholds(spark: SparkSession, gtFile: String,
                   embeddings: DataFrame): DataFrame = {
    val gt = motSeq(spark, gtFile)
      .join(embColumn(embeddings), Seq("frame", "id"), "left")
    GtThresholds.thresholds(GtThresholds.pairFeatures(gt))
  }

  /** §3.2 `detect` post-processing — raw model outputs (corner boxes +
    * scores) → filter cascade → NMS → nested removal → det.txt with
    * per-frame ordinals (reference src/detection.py:1392-1423, 641).
    * One kernel call per frame runs `Nms.suppressFrame` and numbers the
    * kept boxes from 1 in `Nms.RankOrder`, the order a `row_number`
    * window over (score desc, id asc) would give them.
    */
  def detectPostprocess(spark: SparkSession, raw: DataFrame, outFile: String,
                        imgW: Int, imgH: Int,
                        confThreshold: Double = 0.1, minSize: Double = 0.0,
                        edgeTol: Double = 0.0, nmsThreshold: Double = 0.5): Unit = {
    import spark.implicits._
    val filtered = DetectFilters.cascade(raw.coalesce(1), col("score"),
      col("x1"), col("y1"), col("x2"), col("y2"),
      lit(imgW), lit(imgH), confThreshold, minSize, edgeTol)
    val boxes = filtered.select(col("seq"), col("frame"), col("id"),
      col("x1"), col("y1"), col("x2"), col("y2"), col("score")).as[DetBox]
    // per-frame detection ordinals from 1 (reference detection.py:641)
    val ranked = boxes.groupByKey(d => (d.seq, d.frame)).flatMapGroups { (_, it) =>
      Nms.suppressFrame(it.toSeq, nmsThreshold).sorted(Nms.RankOrder).iterator
        .zipWithIndex.map { case (d, k) => d.copy(id = k + 1) }
    }
    MotCsv.write(
      ranked.toDF().select(col("frame"), col("id"),
        col("x1").as("x"), col("y1").as("y"),
        (col("x2") - col("x1")).as("w"), (col("y2") - col("y1")).as("h"),
        col("score").as("conf")),
      outFile)
  }

  /** §3 `visualize` — annotate frames with an annotation source and
    * render the sequence video (reference annotate_icebergs +
    * render_video, src/utils/visualize.py:182-233,235-338). Canvas
    * dims come from the first image, exactly like the reference's
    * video writer (visualize.py:270-272). Returns
    * (framesAnnotated, framesInVideo).
    */
  def visualize(spark: SparkSession, annFile: String, imagesDir: String,
                outImagesDir: String, videoDir: String,
                drawIds: Boolean = true, drawBoxes: Boolean = true,
                startIndex: Int = 0, lengthLimit: Option[Int] = None,
                fps: Int = 7): (Long, Long) = {
    val boxes = MotCsv.readLenient(spark, annFile)
      .select(lit("seq0").as("seq"), col("frame"), col("id"),
        col("x").as("x1"), col("y").as("y1"),
        (col("x") + col("w")).as("x2"), (col("y") + col("h")).as("y2"))
    // F9 frame-range slice on the sorted frame list (reference
    // _get_selection, visualize.py:371-377); frames-per-sequence is
    // tracker-state-bounded, so the per-seq window is fine here
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seq").orderBy("frame")
    val images = graft.sources.Multimodal
      .readMediaDir(spark, imagesDir, glob = "*.{png,jpg,jpeg,PNG,JPG}")
      .select(lit("seq0").as("seq"),
        graft.functions.Geometry.framePad(
          regexp_extract(col("path"), "([0-9]+)\\.[A-Za-z]+$", 1)).as("frame"),
        col("content"))
      .withColumn("rn", row_number().over(w) - lit(1))
      .filter(col("rn") >= startIndex &&
        lengthLimit.map(l => col("rn") < startIndex + l).getOrElse(lit(true)))
      .drop("rn")
    // canvas dims from the FIRST selected frame — deterministically
    // (reference reads the actual first image, visualize.py:270-272;
    // a bare head() on a file scan returns whichever file packed
    // first, typically the largest)
    val first = images.orderBy("frame").select("content").take(1)
    require(first.nonEmpty, s"No frame images found under $imagesDir")
    val dims = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(first.head.getAs[Array[Byte]](0)))
    require(dims != null, s"Could not decode first image under $imagesDir")
    // both sinks consume the same frames: persist, or the raster work
    // (decode + draw + PNG encode, the dominant cost) runs twice
    val annotated = graft.sinks.Render.annotateFrames(
      images, boxes, dims.getWidth, dims.getHeight,
      drawIds = drawIds, drawBoxes = drawBoxes).persist()
    try {
      val nImg = graft.sinks.Render.exportImages(annotated, outImagesDir).count()
      val nVid = graft.sinks.Render.renderVideo(annotated, videoDir, fps)
        .agg(sum("n_frames")).head().getLong(0)
      (nImg, nVid)
    } finally annotated.unpersist()
  }

  /** TrackEval-style metric tables (print_all_metrics, reference
    * src/utils/eval.py:511-636): Count, CLEAR, Identity, Derived.
    */
  def formatMetricTables(perSeq: DataFrame, combined: DataFrame): String = {
    val rows = (perSeq.collect().toSeq ++ combined.collect().toSeq)
      .map(r => r.getValuesMap[Any](r.schema.fieldNames))
    def f(m: Map[String, Any], k: String): String = m(k) match {
      case d: Double => f"$d%.3f"
      case v => v.toString
    }
    val sb = new StringBuilder
    def table(title: String, cols: Seq[String]): Unit = {
      sb.append("=" * 80).append('\n').append(title).append(":\n")
      sb.append(("Sequence" +: cols).map(c => f"$c%-12s").mkString(" ")).append('\n')
      sb.append("-" * 80).append('\n')
      rows.foreach { m =>
        sb.append((f(m, "seq") +: cols.map(f(m, _))).map(c => f"$c%-12s").mkString(" "))
        sb.append('\n')
      }
      sb.append('\n')
    }
    table("Count", Seq("Dets", "GT_Dets", "IDs", "GT_IDs"))
    table("CLEAR", Seq("CLR_Re", "LocA", "MTR", "PTR", "MLR", "CLR_TP", "CLR_FN",
      "IDSW", "Frag", "MT", "PT", "ML"))
    table("Identity", Seq("IDF1", "IDR", "IDP", "IDTP", "IDFN", "IDFP"))
    sb.toString
  }
}
