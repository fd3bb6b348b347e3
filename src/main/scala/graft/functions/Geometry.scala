package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bbox / geometry scalar-expression library (SURVEY §2.7 E1–E14).
  *
  * Boxes are `(x, y, w, h)` top-left + extent, mirroring the reference's
  * MOT-Challenge layout (reference src/utils/helpers.py:421-439). All
  * functions are pure Catalyst `Column` expressions — whole-stage
  * codegen'd, no UDFs — so they inline into scans and joins and survive
  * predicate pushdown at 100 TB.
  */
object Geometry {

  /** Box centers (reference src/utils/feature_extraction.py:241-246). */
  def centerX(x: Column, w: Column): Column = x + w / 2.0
  def centerY(y: Column, h: Column): Column = y + h / 2.0

  /** E1 — Euclidean distance between centers of two (x,y,w,h) boxes
    * (get_distance, reference src/utils/feature_extraction.py:228-252).
    */
  def centerDist(x1: Column, y1: Column, w1: Column, h1: Column,
                 x2: Column, y2: Column, w2: Column, h2: Column): Column = {
    val dx = centerX(x1, w1) - centerX(x2, w2)
    val dy = centerY(y1, h1) - centerY(y2, h2)
    sqrt(dx * dx + dy * dy)
  }

  def area(w: Column, h: Column): Column = w * h

  /** E2 — size similarity `min(a1,a2)/max(a1,a2)`, 0 when either area is 0
    * (get_size_similarity, reference src/utils/feature_extraction.py:300-332).
    */
  def sizeSim(w1: Column, h1: Column, w2: Column, h2: Column): Column = {
    val a1 = area(w1, h1)
    val a2 = area(w2, h2)
    when(a1 === 0.0 || a2 === 0.0, lit(0.0))
      .otherwise(least(a1, a2) / greatest(a1, a2))
  }

  /** E5 — min-max normalization `(v-lo)/(hi-lo)` with NO clamp: callers
    * that wrap it in `1 - minMaxNorm(d, 0, τ)` can go negative when d>τ,
    * replicated exactly (reference src/utils/feature_extraction.py:362-378
    * and the unclamped call at src/tracking.py:897-902).
    */
  def minMaxNorm(v: Column, lo: Column, hi: Column): Column =
    when(hi === lo, lit(0.0)).otherwise((v - lo) / (hi - lo))

  /** E6 — IoU of two (x,y,w,h) boxes; 0 on no overlap or zero union
    * (calculate_iou, reference src/utils/helpers.py:533-569).
    */
  def iou(x1: Column, y1: Column, w1: Column, h1: Column,
          x2: Column, y2: Column, w2: Column, h2: Column): Column = {
    val ix = greatest(lit(0.0), least(x1 + w1, x2 + w2) - greatest(x1, x2))
    val iy = greatest(lit(0.0), least(y1 + h1, y2 + h2) - greatest(y1, y2))
    val inter = ix * iy
    val union = area(w1, h1) + area(w2, h2) - inter
    when(union <= 0.0, lit(0.0)).otherwise(inter / union)
  }

  /** E7 — containment ratio, not IoU: DIRECTIONAL intersection /
    * area(first box) — the fraction of box1 inside box2
    * (_calculate_intersection_ratio divides by its first argument's
    * area, reference src/detection.py:1295-1302).
    */
  def containmentRatio(x1: Column, y1: Column, w1: Column, h1: Column,
                       x2: Column, y2: Column, w2: Column, h2: Column): Column = {
    val ix = greatest(lit(0.0), least(x1 + w1, x2 + w2) - greatest(x1, x2))
    val iy = greatest(lit(0.0), least(y1 + h1, y2 + h2) - greatest(y1, y2))
    val a1 = area(w1, h1)
    when(a1 <= 0.0, lit(0.0)).otherwise(ix * iy / a1)
  }

  /** E4 — weighted mean of similarity features over the sum of weights
    * (get_score, reference src/utils/feature_extraction.py:335-359).
    */
  def weightedScore(feats: Seq[(Column, Double)]): Column = {
    val totalW = feats.map(_._2).sum
    feats.map { case (c, w) => c * lit(w) }.reduce(_ + _) / lit(totalW)
  }

  /** E9 — frame canonicalization: numeric frame ids zero-padded to 6
    * digits, non-numeric passed through (reference
    * src/utils/helpers.py:369-373,425-428).
    */
  def framePad(frame: Column): Column =
    when(frame.rlike("^[0-9]+$"), format_string("%06d", frame.cast("int")))
      .otherwise(frame)

  /** E14 — spatial-grid cell id `floor(center / cellSize)` (reference
    * src/tracking.py:497-507). The grid IS an equi-join key: quantizing
    * centers turns the radius join into a hash join (SURVEY §4 P1).
    */
  def cellKey(c: Column, cellSize: Double): Column =
    floor(c / lit(cellSize)).cast("long")

  /** E13 — deterministic color from an object id (reference
    * src/utils/visualize.py:581-607 seeds an RNG per id; here an
    * md5-derived RGB — visual-only, engine-deterministic).
    */
  def colorForId(id: Column): Column = {
    val h = md5(id.cast("string"))
    struct(
      conv(substring(h, 1, 2), 16, 10).cast("int").as("r"),
      conv(substring(h, 3, 2), 16, 10).cast("int").as("g"),
      conv(substring(h, 5, 2), 16, 10).cast("int").as("b"))
  }
}
