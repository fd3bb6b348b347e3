package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.Dataset

/** Greedy suppression kernels (SURVEY §2.6 O5/O6): order-dependent with
  * result-dependent iteration — NMS mutates its candidate list and nested
  * removal can evict already-kept boxes — so neither is a window; both
  * run as per-(seq,frame) kernels under `groupByKey.flatMapGroups`.
  * Parallelism unit = frame: on a big cluster every frame suppresses
  * independently after a single hash shuffle on (seq, frame).
  *
  * Boxes are corner-format; tie-breaking is pinned to
  * `(score desc, id asc)` where the reference relies on Python's stable
  * sort of file order (SURVEY §7.3 item 1 — documented deviation only
  * when scores tie).
  */
final case class DetBox(
    seq: String, frame: String, id: Int,
    x1: Double, y1: Double, x2: Double, y2: Double, score: Double)

object Nms {

  /** IoU on corner boxes (calculate_iou, reference
    * src/utils/helpers.py:533-569).
    */
  def iouCorners(a: DetBox, b: DetBox): Double = {
    val ix = math.max(0.0, math.min(a.x2, b.x2) - math.max(a.x1, b.x1))
    val iy = math.max(0.0, math.min(a.y2, b.y2) - math.max(a.y1, b.y1))
    val inter = ix * iy
    val union = (a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1) - inter
    if (union <= 0.0) 0.0 else inter / union
  }

  /** Containment: DIRECTIONAL — intersection / area of `a`, i.e. the
    * fraction of `a` inside `b` (_calculate_intersection_ratio divides
    * by its FIRST argument's area, reference src/detection.py:1295-1302;
    * the "smaller"/"larger" parameter names are the caller's intent, not
    * enforced).
    */
  def containment(a: DetBox, b: DetBox): Double = {
    val ix = math.max(0.0, math.min(a.x2, b.x2) - math.max(a.x1, b.x1))
    val iy = math.max(0.0, math.min(a.y2, b.y2) - math.max(a.y1, b.y1))
    val areaA = (a.x2 - a.x1) * (a.y2 - a.y1)
    if (areaA <= 0.0) 0.0 else ix * iy / areaA
  }

  /** O5 — greedy NMS for one frame (reference `_nms`,
    * src/detection.py:1223-1261): keep best score, drop IoU ≥ threshold,
    * repeat.
    */
  def nmsFrame(dets: Seq[DetBox], iouThreshold: Double): Seq[DetBox] = {
    var remaining = dets.sortBy(d => (-d.score, d.id)).toList
    val keep = mutable.ArrayBuffer.empty[DetBox]
    while (remaining.nonEmpty) {
      val best = remaining.head
      keep += best
      remaining = remaining.tail.filter(d => iouCorners(best, d) < iouThreshold)
    }
    keep.toSeq
  }

  /** O6 — nested-detection removal for one frame
    * (_remove_nested_detections, reference src/detection.py:1120-1198):
    * score-desc greedy with the high/low-confidence precedence matrix;
    * a high-confidence newcomer can EVICT already-kept low-confidence
    * boxes (remove_indices), replicated exactly. `scoreThreshold` is the
    * NMS threshold reused as the "high confidence" cutoff (reference
    * quirk, SURVEY §2.6 O6).
    */
  def removeNestedFrame(dets: Seq[DetBox], nmsThreshold: Double): Seq[DetBox] = {
    val sorted = dets.sortBy(d => (-d.score, d.id))
    val keep = mutable.ArrayBuffer.empty[DetBox]
    sorted.foreach { current =>
      val curHigh = current.score > nmsThreshold
      var shouldKeep = true
      val removeIdx = mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < keep.length && shouldKeep) {
        val kept = keep(i)
        val keptHigh = kept.score > nmsThreshold
        val curInKept = containment(current, kept)
        val keptInCur = containment(kept, current)
        if (curInKept >= nmsThreshold) {
          if (keptHigh) shouldKeep = false
          else if (curHigh) removeIdx += i
          else shouldKeep = false
        } else if (keptInCur >= nmsThreshold) {
          if (curHigh) removeIdx += i
          else if (keptHigh) shouldKeep = false
          else shouldKeep = false
        }
        i += 1
      }
      removeIdx.reverseIterator.foreach(keep.remove(_))
      if (shouldKeep) keep += current
    }
    keep.toSeq
  }

  /** O5 then O6 for one frame: the detection post-processing kernel
    * that `Pipelines.detectPostprocess` and `Tiling.mergeTileDetections`
    * run per group.
    */
  def suppressFrame(dets: Seq[DetBox], nmsThreshold: Double): Seq[DetBox] =
    removeNestedFrame(nmsFrame(dets, nmsThreshold), nmsThreshold)

  /** Spark's sort order for `(score desc, id asc)`, as a window's
    * `row_number` numbers a frame: NaN scores first, -0.0 equal to 0.0.
    */
  val RankOrder: Ordering[DetBox] = (a: DetBox, b: DetBox) => {
    val c = if (a.score == b.score) 0 else java.lang.Double.compare(b.score, a.score)
    if (c != 0) c else Integer.compare(a.id, b.id)
  }

  /** Distributed drivers: one kernel invocation per (seq, frame). */
  def nms(dets: Dataset[DetBox], iouThreshold: Double): Dataset[DetBox] = {
    val spark = dets.sparkSession
    import spark.implicits._
    dets.groupByKey(d => (d.seq, d.frame))
      .flatMapGroups((_, it) => nmsFrame(it.toSeq, iouThreshold).iterator)
  }

  def removeNested(dets: Dataset[DetBox], nmsThreshold: Double): Dataset[DetBox] = {
    val spark = dets.sparkSession
    import spark.implicits._
    dets.groupByKey(d => (d.seq, d.frame))
      .flatMapGroups((_, it) => removeNestedFrame(it.toSeq, nmsThreshold).iterator)
  }
}
