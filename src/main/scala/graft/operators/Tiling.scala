package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Sliding-window inference tiling (SURVEY §2.8 note + §4 P10;
  * reference src/detection.py:1340-1397): 2-D spatial tiling with
  * fractional overlap and edge snapping — in-engine this is a
  * partitioning strategy for image-batch inference, expressed as a
  * tile-spec GENERATOR (explode of computed offsets), not a temporal
  * window.
  *
  * Faithful details: step = floor(window·(1−overlap)); offsets walk
  * range(0, dim, step) and any tile overrunning the edge SNAPS to
  * `dim − window` (reference reassigns the loop variable per iteration,
  * so several trailing offsets can snap to the SAME edge tile —
  * duplicates are preserved, not deduped). `useWindows` gates tiling on
  * max(h,w) > window.
  */
object Tiling {

  /** Pure generator for one (h, w): list of (x, y) tile origins. */
  def tileOrigins(h: Int, w: Int, winH: Int, winW: Int, overlap: Double): Seq[(Int, Int)] = {
    val stepX = (winW * (1 - overlap)).toInt
    val stepY = (winH * (1 - overlap)).toInt
    val ys = Range(0, h, math.max(stepY, 1)).map(y => if (y + winH > h) h - winH else y)
    val xs = Range(0, w, math.max(stepX, 1)).map(x => if (x + winW > w) w - winW else x)
    for (y <- ys; x <- xs) yield (x, y)
  }

  /** Plan-level generator: input rows carry image dims (`hCol`, `wCol`,
    * already scaled); output = one row per tile with `tile_x`, `tile_y`.
    * Images not exceeding the window emit a single (0,0) "direct" tile.
    */
  def tiles(images: DataFrame, hCol: String, wCol: String,
            winH: Int, winW: Int, overlap: Double): DataFrame = {
    val stepX = math.max((winW * (1 - overlap)).toInt, 1)
    val stepY = math.max((winH * (1 - overlap)).toInt, 1)
    val h = col(hCol).cast("int")
    val w = col(wCol).cast("int")
    val useWindows = greatest(h, w) > math.max(winH, winW)
    // range(0, dim, step) == sequence(0, dim-1, step) for dim >= 1
    val ys = transform(sequence(lit(0), h - 1, lit(stepY)),
      y => when(y + winH > h, h - winH).otherwise(y))
    val xs = transform(sequence(lit(0), w - 1, lit(stepX)),
      x => when(x + winW > w, w - winW).otherwise(x))
    images
      .withColumn("__ys", when(useWindows, ys).otherwise(array(lit(0))))
      .withColumn("__xs", when(useWindows, xs).otherwise(array(lit(0))))
      .withColumn("tile_y", explode(col("__ys")))
      .withColumn("tile_x", explode(col("__xs")))
      .withColumn("direct", !useWindows)
      .drop("__ys", "__xs")
  }

  /** M1 merge stage (reference src/detection.py:1385-1423): per-tile
    * detections in TILE-LOCAL scaled coordinates → original-image
    * coordinates (`box += tile origin; box /= scale`) → cross-tile/
    * cross-scale greedy NMS → nested-detection removal, per image.
    *
    * Input columns: `img`, `id` (unique per img), `score`, `scale`,
    * `tile_x`, `tile_y`, `lx1..ly2`. The translation is a pure codegen
    * projection; the merge reuses the oracle-checked NMS kernels with
    * the image as the group key — on a cluster every image merges
    * independently (parallelism = #images), which is the reference's
    * own merge boundary (one `_detect_multiscale` call per image).
    * The model inference producing the per-tile boxes stays external
    * by design (SURVEY §2.8 M1); validity filtering (F1–F5) composes
    * upstream via `Detect.cascade`.
    */
  def mergeTileDetections(tileDets: DataFrame, nmsThreshold: Double): Dataset[DetBox] = {
    val s = tileDets.sparkSession
    import s.implicits._
    val global = tileDets.selectExpr(
      "img AS seq", "'0' AS frame", "CAST(id AS INT) AS id",
      "(lx1 + tile_x) / scale AS x1",
      "(ly1 + tile_y) / scale AS y1",
      "(lx2 + tile_x) / scale AS x2",
      "(ly2 + tile_y) / scale AS y2",
      "CAST(score AS DOUBLE) AS score").as[DetBox]
    // Both kernel passes share the image group key, so they FUSE into
    // one flatMapGroups — the whole merge is a single shuffle (chaining
    // Nms.nms andThen Nms.removeNested would shuffle twice: object-
    // mapped groups don't carry their partitioning to the next
    // groupByKey).
    global.groupByKey(d => d.seq)
      .flatMapGroups((_, it) => Nms.suppressFrame(it.toSeq, nmsThreshold).iterator)
  }
}
