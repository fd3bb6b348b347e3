package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.functions._

/** One per-sequence CLEAR / Identity / Count row (`MotEval.metrics`). */
final case class SeqMetrics(
    seq: String, GT_Dets: Long, GT_IDs: Long, Dets: Long, IDs: Long,
    CLR_TP: Long, LocA: Double, IDSW: Long, Frag: Long,
    MT: Long, PT: Long, ML: Long, IDTP: Long, CLR_FN: Long,
    CLR_Re: Double, MTR: Double, PTR: Double, MLR: Double,
    IDFN: Long, IDFP: Long, IDR: Double, IDP: Double, IDF1: Double)

/** One GT id's best track in one frame (`MotEval.matchFrames`). */
final case class FrameMatch(seq: String, frameIdx: Int, gt_id: Int, track_id: Int, iou: Double)

/** CLEAR / Identity / Count MOT metrics (SURVEY §2.3 J5, §2.4 A2–A14) —
  * the reference's one loop per sequence (compute_sequence_metrics,
  * reference src/utils/eval.py:174-457) as kernels over one per-frame
  * matcher, run under `groupByKey(...).cogroup` like `Tracker` and `Nms`:
  *   - `metrics`: parallelism unit = sequence. The identity runs (IDSW,
  *     Frag, IDTP) carry state across frames, so each sequence is one
  *     kernel call; everything it needs comes from one shuffle per input.
  *   - `matchFrames` / `gtFilteredTracks`: parallelism unit = frame. They
  *     carry no cross-frame state, so every (seq, frameIdx) matches
  *     independently.
  * Inside a call the rows are copied to primitive columns and ordered by
  * packed-long sorts, so a 350k-row sequence stays one sort-bound task.
  *
  * Inputs are detection-shaped DataFrames with columns
  * `seq: string, frameIdx: int, id: int, x, y, w, h` (numeric; anything
  * else passes through). `seq` and `id` must be non-null. A row with a
  * null `frameIdx` (a non-integer frame) or a null box coordinate counts
  * in every total and never matches.
  *
  * Faithfulness notes (replicated, not "fixed" — SURVEY §7.3 item 5):
  *   - Greedy per-GT argmax lets two GTs claim the same track in a frame
  *     (reference eval.py:248 overwrites track_to_gt).
  *   - IDTP is the longest-contiguous-run approximation, not optimal
  *     bipartite IDF1 (reference eval.py:355-418).
  *   - Metrics matching uses `iou >= τ`; the eval.txt filter uses strict
  *     `iou > τ` plus per-(frame,track) dedup (reference eval.py:244 vs 770).
  *   - Reference tie-break on equal IoU is first-encountered dict order;
  *     we pin the deterministic `(iou desc, track id asc)`.
  */
object MotEval {

  /** One side's boxes in primitive columns. `framed(i)`: the row has a
    * frame; `live(i)`: it also has a full box, so it can match.
    */
  private final class Boxes(rows: Iterator[Row], at: Array[Int]) {
    private val fb, ib = new mutable.ArrayBuilder.ofInt
    private val cb = Array.fill(4)(new mutable.ArrayBuilder.ofDouble)
    private val framedB, liveB = new mutable.ArrayBuilder.ofBoolean
    rows.foreach { r =>
      val hasFrame = !r.isNullAt(at(0))
      fb += (if (hasFrame) r.getInt(at(0)) else 0)
      if (r.isNullAt(at(1)))
        throw new IllegalArgumentException(s"MotEval: null id in row $r")
      ib += r.getInt(at(1))
      var box = true
      var k = 0
      while (k < 4) {
        val c = at(2 + k)
        if (r.isNullAt(c)) { box = false; cb(k) += 0.0 }
        else cb(k) += r.getAs[Number](c).doubleValue
        k += 1
      }
      framedB += hasFrame
      liveB += hasFrame && box
    }
    val frame: Array[Int] = fb.result()
    val id: Array[Int] = ib.result()
    val Array(x, y, w, h) = cb.map(_.result())
    val framed: Array[Boolean] = framedB.result()
    val live: Array[Boolean] = liveB.result()
    def n: Int = id.length
  }

  // built once: Encoders.product reflects over the case class on every call
  private val SeqMetricsEnc = Encoders.product[SeqMetrics]
  private val FrameMatchEnc = Encoders.product[FrameMatch]
  private val FrameKeyEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaInt)

  /** Column positions of frameIdx, id, x, y, w, h in `boxCols` rows. */
  private val BoxAt = Array(1, 2, 3, 4, 5, 6)

  private def boxCols(df: DataFrame): DataFrame =
    df.select("seq", "frameIdx", "id", "x", "y", "w", "h")

  /** `rows` ordered by (major, minor, row index): two primitive sorts of
    * packed (key << 32 | position) longs, minor key first.
    */
  private def order(rows: Array[Int], major: Array[Int], minor: Array[Int]): Array[Int] =
    sortedBy(sortedBy(rows, minor), major)

  /** `rows` ordered by (key, position in `rows`) — a stable sort. */
  private def sortedBy(rows: Array[Int], key: Array[Int]): Array[Int] = {
    val packed = new Array[Long](rows.length)
    var i = 0
    while (i < rows.length) { packed(i) = (key(rows(i)).toLong << 32) | i; i += 1 }
    java.util.Arrays.sort(packed)
    val out = new Array[Int](rows.length)
    i = 0
    while (i < rows.length) { out(i) = rows(packed(i).toInt); i += 1 }
    out
  }

  private def indices(n: Int, keep: Array[Boolean]): Array[Int] =
    Array.range(0, n).filter(keep(_))

  // Spark's double semantics, so the IoU and its threshold tests equal
  // Geometry.iou's plan bit for bit: NaN sorts above every number and
  // equals itself; greatest/least keep the earlier argument on a tie.
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
  private def greatest(a: Double, b: Double): Double = if (cmp(b, a) > 0) b else a
  private def least(a: Double, b: Double): Double = if (cmp(b, a) < 0) b else a

  /** `Geometry.iou` of GT row `i` and track row `j`. */
  private def iou(g: Boxes, i: Int, t: Boxes, j: Int): Double = {
    val ix = greatest(0.0, least(g.x(i) + g.w(i), t.x(j) + t.w(j)) - greatest(g.x(i), t.x(j)))
    val iy = greatest(0.0, least(g.y(i) + g.h(i), t.y(j) + t.h(j)) - greatest(g.y(i), t.y(j)))
    val inter = ix * iy
    val union = g.w(i) * g.h(i) + t.w(j) * t.h(j) - inter
    if (cmp(union, 0.0) <= 0) 0.0 else inter / union
  }

  /** J5 — the per-frame greedy matcher. `gs`/`ts`: live rows of both
    * sides, each ordered by (frame, id). For every frame on both sides
    * and each GT id in it (ascending), emits `(gtId, trackRow, iou)` for
    * the best track by `(iou desc, track id asc)` among those passing
    * `iou >= τ` (strict: `iou > τ`) and `iou > 0` — the reference's
    * best_iou starts at 0.0 with a strict `>`. Repeated rows of one GT id
    * in a frame pool their candidates into one match.
    */
  private def matchAll(g: Boxes, gs: Array[Int], t: Boxes, ts: Array[Int],
                       tau: Double, strict: Boolean)(emit: (Int, Int, Double) => Unit): Unit = {
    var a = 0
    var b = 0
    while (a < gs.length && b < ts.length) {
      val f = g.frame(gs(a))
      val tf = t.frame(ts(b))
      if (tf < f) b += 1
      else if (f < tf) a += 1
      else {
        var tEnd = b
        while (tEnd < ts.length && t.frame(ts(tEnd)) == f) tEnd += 1
        while (a < gs.length && g.frame(gs(a)) == f) {
          val gid = g.id(gs(a))
          var best = -1
          var bestIou = 0.0
          while (a < gs.length && g.frame(gs(a)) == f && g.id(gs(a)) == gid) {
            val i = gs(a)
            var k = b
            while (k < tEnd) {
              val j = ts(k)
              val v = iou(g, i, t, j)
              val c = cmp(v, tau)
              if ((if (strict) c > 0 else c >= 0) && cmp(v, 0.0) > 0) {
                val d = if (best < 0) 1 else cmp(v, bestIou)
                if (d > 0 || (d == 0 && t.id(j) < t.id(best))) {
                  best = j; bestIou = v
                }
              }
              k += 1
            }
            a += 1
          }
          if (best >= 0) emit(gid, best, bestIou)
        }
        b = tEnd
      }
    }
  }

  private def liveByFrame(b: Boxes): Array[Int] = order(indices(b.n, b.live), b.frame, b.id)

  /** Rows with a (seq, frameIdx) key, grouped by it. */
  private def byFrame(df: DataFrame): KeyValueGroupedDataset[(String, Int), Row] = {
    val (s, f) = (df.schema.fieldIndex("seq"), df.schema.fieldIndex("frameIdx"))
    df.filter(col("seq").isNotNull && col("frameIdx").isNotNull)
      .groupByKey((r: Row) => (r.getString(s), r.getInt(f)))(FrameKeyEnc)
  }

  /** J5 — per-frame greedy IoU argmax: for each GT id in a frame the best
    * track row by IoU above threshold. One kernel call per (seq, frameIdx).
    */
  def matchFrames(gt: DataFrame, tracks: DataFrame, iouThreshold: Double,
                  strict: Boolean = false): DataFrame =
    byFrame(boxCols(gt)).cogroup(byFrame(boxCols(tracks))) { case ((seq, frame), gIt, tIt) =>
      val g = new Boxes(gIt, BoxAt)
      val t = new Boxes(tIt, BoxAt)
      val out = mutable.ArrayBuffer.empty[FrameMatch]
      matchAll(g, liveByFrame(g), t, liveByFrame(t), iouThreshold, strict) { (gid, j, v) =>
        out += FrameMatch(seq, frame, gid, t.id(j), v)
      }
      out
    }(FrameMatchEnc).toDF()

  /** S6/O8 — the eval.txt filter (match_tracking_to_gt, reference
    * src/utils/eval.py:701-794): strict-threshold match, then every track
    * row whose (seq, frameIdx, id) won a match, columns passed through.
    */
  def gtFilteredTracks(gt: DataFrame, tracks: DataFrame, iouThreshold: Double): DataFrame = {
    val at = Array("frameIdx", "id", "x", "y", "w", "h").map(tracks.schema.fieldIndex)
    byFrame(boxCols(gt)).cogroup(byFrame(tracks)) { (_, gIt, tIt) =>
      val rows = tIt.toArray
      val g = new Boxes(gIt, BoxAt)
      val t = new Boxes(rows.iterator, at)
      val won = mutable.HashSet.empty[Int]
      matchAll(g, liveByFrame(g), t, liveByFrame(t), iouThreshold, strict = true) {
        (_, j, _) => won += t.id(j)
      }
      rows.indices.iterator.filter(k => won(t.id(k))).map(rows)
    }(Encoders.row(tracks.schema)).toDF()
  }

  /** A7 — Spark's `round(iou * 1e9)` (HALF_UP on the shortest decimal
    * form of the double) as a long: exact integer sums make LocA
    * independent of summation order.
    */
  private def quantized(iou: Double): Long =
    java.math.BigDecimal.valueOf(iou * 1e9)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  private def ratio(a: Long, b: Long): Double = if (b > 0) a.toDouble / b.toDouble else 0.0

  /** Distinct values of `ids` with their multiplicities, ascending. */
  private def counted(ids: Array[Int]): (Array[Int], Array[Long]) = {
    val s = ids.clone()
    java.util.Arrays.sort(s)
    val vs = new mutable.ArrayBuilder.ofInt
    val ns = new mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < s.length) {
      var j = i
      while (j < s.length && s(j) == s(i)) j += 1
      vs += s(i); ns += (j - i).toLong
      i = j
    }
    (vs.result(), ns.result())
  }

  /** A2–A14 for one sequence (None when it has no GT rows). */
  private def sequenceMetrics(seq: String, gIt: Iterator[Row], tIt: Iterator[Row],
                              tau: Double): Option[SeqMetrics] = {
    val g = new Boxes(gIt, BoxAt)
    if (g.n == 0) return None
    require(seq != null, "MotEval.metrics: null seq")
    val t = new Boxes(tIt, BoxAt)

    // GT rows must be unique per (seq, frameIdx, id): a repeated row
    // would count twice in its id's frame total but match once.
    val gFramed = order(indices(g.n, g.framed), g.frame, g.id)
    var k = 1
    while (k < gFramed.length) {
      val (p, c) = (gFramed(k - 1), gFramed(k))
      if (g.frame(p) == g.frame(c) && g.id(p) == g.id(c))
        throw new IllegalArgumentException(s"MotEval.metrics: duplicate GT rows for " +
          s"(seq=$seq, frameIdx=${g.frame(c)}, id=${g.id(c)}); GT must be unique per " +
          "(seq, frameIdx, id)")
      k += 1
    }

    // the match table, in (frame, gt id) order
    val mf, mg, mt = new mutable.ArrayBuilder.ofInt
    val mi = new mutable.ArrayBuilder.ofDouble
    matchAll(g, gFramed.filter(g.live(_)), t, liveByFrame(t), tau, strict = false) { (gid, j, v) =>
      mf += t.frame(j); mg += gid; mt += t.id(j); mi += v
    }
    val (mFrame, mGt, mTr, mIou) = (mf.result(), mg.result(), mt.result(), mi.result())
    val nm = mFrame.length
    val all = Array.range(0, nm)
    val locQ = mIou.map(quantized).sum

    // GT side, per id by frame: IDSW and Frag (A10, A11 — identity holds
    // across gaps), the longest same-track run (A12), and MT/PT (A9:
    // matched frames / all GT rows of the id; an id never matched is ML)
    val (gIds, gTot) = counted(g.id)
    val byGt = sortedBy(all, mGt)
    var idsw, frag, idtp, mtc, ptc = 0L
    k = 0
    while (k < nm) {
      val gid = mGt(byGt(k))
      var (n, run, best) = (0, 0, 0)
      while (k < nm && mGt(byGt(k)) == gid) {
        val m = byGt(k)
        val prev = if (n > 0) byGt(k - 1) else -1
        val same = prev >= 0 && mTr(m) == mTr(prev)
        if (prev >= 0 && !same) idsw += 1
        if (prev >= 0 && mFrame(m).toLong > mFrame(prev).toLong + 1) frag += 1
        run = if (same) run + 1 else 1
        best = math.max(best, run)
        n += 1; k += 1
      }
      idtp += best
      val cov = n.toDouble / gTot(java.util.Arrays.binarySearch(gIds, gid)).toDouble
      if (cov >= 0.8) mtc += 1 else if (cov >= 0.2) ptc += 1
    }

    // track side (A12): one GT per (frame, track) — the reference's
    // track_to_gt dict keeps the last claim; pinned to the highest gt id
    // — then per track by frame the longest same-GT run
    val byTr = sortedBy(all, mTr)
    var idtpTr = 0L
    k = 0
    while (k < nm) {
      val tid = mTr(byTr(k))
      var (prevGt, run, best) = (0, 0, 0)
      while (k < nm && mTr(byTr(k)) == tid) {
        while (k + 1 < nm && mTr(byTr(k + 1)) == tid &&
               mFrame(byTr(k + 1)) == mFrame(byTr(k))) k += 1
        val gid = mGt(byTr(k))
        run = if (run > 0 && gid == prevGt) run + 1 else 1
        best = math.max(best, run)
        prevGt = gid; k += 1
      }
      idtpTr += best
    }

    val tp = nm.toLong
    val gtDets = g.n.toLong
    val gtIds = gIds.length.toLong
    val mlc = gtIds - mtc - ptc
    val idfn = tp - idtp
    val idfp = tp - idtpTr
    Some(SeqMetrics(seq,
      GT_Dets = gtDets, GT_IDs = gtIds, Dets = t.n.toLong, IDs = counted(t.id)._1.length.toLong,
      CLR_TP = tp, LocA = if (nm == 0) 0.0 else locQ.toDouble / tp.toDouble / 1e9,
      IDSW = idsw, Frag = frag, MT = mtc, PT = ptc, ML = mlc, IDTP = idtp,
      CLR_FN = gtDets - tp, CLR_Re = ratio(tp, gtDets),
      MTR = ratio(mtc, gtIds), PTR = ratio(ptc, gtIds), MLR = ratio(mlc, gtIds),
      IDFN = idfn, IDFP = idfp, IDR = ratio(idtp, idtp + idfn), IDP = ratio(idtp, idtp + idfp),
      IDF1 = ratio(2 * idtp, 2 * idtp + idfn + idfp)))
  }

  /** A2–A14 — the full per-sequence metrics row: one kernel call per
    * sequence over its GT and track rows. Returns one row per sequence
    * with GT rows; `combine` folds them into the reference's COMBINED row
    * (combine_metrics, reference src/utils/eval.py:460-508 — count sums +
    * recomputed ratios + TP-weighted LocA). Fails with an
    * IllegalArgumentException on GT rows repeated per (seq, frameIdx, id).
    */
  def metrics(gt: DataFrame, tracks: DataFrame, iouThreshold: Double): DataFrame = {
    def bySeq(df: DataFrame) = boxCols(df).groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
    bySeq(gt).cogroup(bySeq(tracks)) { (seq, gIt, tIt) =>
      sequenceMetrics(seq, gIt, tIt, iouThreshold)
    }(SeqMetricsEnc).toDF()
  }

  /** A6 — COMBINED row across sequences (combine_metrics, reference
    * src/utils/eval.py:460-508): sum the 14 count metrics, recompute the
    * ratios, CLR_TP-weighted mean of LocA. One aggregate and one
    * projection over it.
    */
  def combine(perSeq: DataFrame): DataFrame = {
    val counts = Seq("Dets", "GT_Dets", "IDs", "GT_IDs", "CLR_TP", "CLR_FN",
      "IDSW", "Frag", "MT", "PT", "ML", "IDTP", "IDFN", "IDFP")
    def ratio(num: Column, den: Column): Column = when(den > 0, num / den).otherwise(0.0)
    val (tp, idtp) = (col("CLR_TP"), col("IDTP"))
    perSeq.groupBy().agg(
        sum(counts.head).as(counts.head),
        counts.tail.map(c => sum(c).as(c)) :+ sum(col("LocA") * tp).as("locaNum"): _*)
      .select(counts.map(col) ++ Seq(
        lit("COMBINED").as("seq"),
        ratio(col("locaNum"), tp).as("LocA"),
        ratio(tp, col("GT_Dets")).as("CLR_Re"),
        ratio(col("MT"), col("GT_IDs")).as("MTR"),
        ratio(col("PT"), col("GT_IDs")).as("PTR"),
        ratio(col("ML"), col("GT_IDs")).as("MLR"),
        ratio(idtp, idtp + col("IDFN")).as("IDR"),
        ratio(idtp, idtp + col("IDFP")).as("IDP"),
        ratio(lit(2) * idtp, lit(2) * idtp + col("IDFN") + col("IDFP")).as("IDF1")): _*)
  }
}
