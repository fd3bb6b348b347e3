package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Geometry

/** The relational form of `operators.MotEval`'s matching, eval.txt filter
  * and per-sequence metrics: a (seq, frameIdx) equi-join with an IoU theta
  * filter, a window argmax, gaps-and-islands run windows and grouped
  * aggregates joined on `seq`. Kept as a test reference only: the
  * differential spec asserts the kernels return exactly these rows.
  */
object MotEvalReference {

  private def renamed(df: DataFrame, prefix: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$prefix$c"))

  /** J5 — per-frame greedy IoU argmax: for each GT row the best track row
    * by IoU above threshold. Join partitions by (seq, frameIdx): at 100 TB
    * the per-frame track lists stay small so AQE picks broadcast/shuffled
    * hash, never a cross join over frames.
    */
  def matchFrames(gt: DataFrame, tracks: DataFrame, iouThreshold: Double,
                  strict: Boolean = false): DataFrame = {
    val g = renamed(gt.select("seq", "frameIdx", "id", "x", "y", "w", "h"), "gt_")
    val t = renamed(tracks.select("seq", "frameIdx", "id", "x", "y", "w", "h"), "tr_")
    val pairs = g.join(t,
        g("gt_seq") === t("tr_seq") && g("gt_frameIdx") === t("tr_frameIdx"))
      .withColumn("iou", Geometry.iou(
        col("gt_x"), col("gt_y"), col("gt_w"), col("gt_h"),
        col("tr_x"), col("tr_y"), col("tr_w"), col("tr_h")))
      .filter(if (strict) col("iou") > iouThreshold else col("iou") >= iouThreshold)
      .filter(col("iou") > 0.0) // reference: best_iou starts 0.0 with strict >
    val w = Window.partitionBy("gt_seq", "gt_frameIdx", "gt_id")
      .orderBy(col("iou").desc, col("tr_id").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .select(
        col("gt_seq").as("seq"), col("gt_frameIdx").as("frameIdx"),
        col("gt_id"), col("tr_id").as("track_id"), col("iou"))
  }

  /** S6/O8 — the eval.txt filter (match_tracking_to_gt, reference
    * src/utils/eval.py:701-794): strict-threshold match, then one output
    * row per (frame, track).
    */
  def gtFilteredTracks(gt: DataFrame, tracks: DataFrame, iouThreshold: Double): DataFrame = {
    // name-based semi join: the match output shares lineage with
    // `tracks`, and dataframe-reference join conditions on a shared
    // cached plan hit Spark 4.1's unresolved-exprId wart.
    val m = matchFrames(gt, tracks, iouThreshold, strict = true)
      .select(col("seq"), col("frameIdx"), col("track_id").as("id"))
      .dropDuplicates("seq", "frameIdx", "id")
    tracks.join(m, Seq("seq", "frameIdx", "id"), "left_semi")
  }

  /** A2–A14 — the full per-sequence metrics row, one row per sequence. */
  def metrics(gt: DataFrame, tracks: DataFrame, iouThreshold: Double): DataFrame = {
    val mm = matchFrames(gt, tracks, iouThreshold)
    val gts = gt
    val trs = tracks

    // Count metrics (A2)
    val gtCounts = gts.groupBy("seq").agg(
      count(lit(1)).as("GT_Dets"), countDistinct("id").as("GT_IDs"))
    val trCounts = trs.groupBy("seq").agg(
      count(lit(1)).as("Dets"), countDistinct("id").as("IDs"))

    // One (seq, gt_id)-windowed pass feeds THREE metric families:
    //   - IDSW + Frag (A10, A11): lag over matched frames only —
    //     identity persists across gaps (reference eval.py:291-316);
    //   - CLR_TP / LocA (A7, A8): the window is 1:1 row-preserving, so
    //     the per-seq count and the 1e-9-quantized IoU sum (exact
    //     integer arithmetic — shuffle-order-independent, ≤1e-9 from
    //     the reference's np.mean, documented) aggregate the same rows
    //     in the SAME groupBy as IDSW/Frag;
    //   - the gt-side IDTP run ids (A12): `chg` is the identical lag
    //     test longestRunSum would recompute over the same window.
    val wGt = Window.partitionBy("seq", "gt_id").orderBy("frameIdx")
    val lagged = mm
      .withColumn("prev_track", lag("track_id", 1).over(wGt))
      .withColumn("prev_frame", lag("frameIdx", 1).over(wGt))
      .withColumn("chg",
        when(col("prev_track").isNull || col("prev_track") =!= col("track_id"), 1)
          .otherwise(0))
      .withColumn("run_id", sum("chg").over(
        wGt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tpSwitches = lagged.groupBy("seq").agg(
      count(lit(1)).as("CLR_TP"),
      (sum(round(col("iou") * 1e9).cast("long")).cast("double") /
        count(lit(1)) / 1e9).as("LocA"),
      sum(when(col("prev_track").isNotNull && col("prev_track") =!= col("track_id"), 1)
        .otherwise(0)).as("IDSW"),
      sum(when(col("prev_frame").isNotNull && col("frameIdx") > col("prev_frame") + 1, 1)
        .otherwise(0)).as("Frag"))

    // MT/PT/ML coverage buckets (A9): per GT id, matched/total frames.
    // mm keeps AT MOST one row per (seq, frameIdx, gt_id) (the argmax
    // window), so (with GT unique per (seq, frameIdx, id)) the row-level
    // gts-left-join-mm form is equivalent to joining the two per-(seq, id)
    // counts; LONG/LONG division yields the same DOUBLE cov either way.
    val gtTotals = gts.groupBy("seq", "id").agg(count(lit(1)).as("__tot"))
    val matchedCnt = mm.select(col("seq"), col("gt_id").as("id"))
      .groupBy("seq", "id").agg(count(lit(1)).as("__m"))
    val coverage = gtTotals.join(matchedCnt, Seq("seq", "id"), "left")
      .select(col("seq"), col("id"),
        (coalesce(col("__m"), lit(0L)) / col("__tot")).as("cov"))
    val buckets = coverage.groupBy("seq").agg(
      sum(when(col("cov") >= 0.8, 1).otherwise(0)).as("MT"),
      sum(when(col("cov") >= 0.2 && col("cov") < 0.8, 1).otherwise(0)).as("PT"),
      sum(when(col("cov") < 0.2, 1).otherwise(0)).as("ML"))

    // IDTP (A12): gaps-and-islands — runs break on track change only (not
    // frame gaps); per GT the longest run, summed.
    def longestRunSum(df: DataFrame, part: String, other: String): DataFrame = {
      val w1 = Window.partitionBy("seq", part).orderBy("frameIdx")
      val runs = df
        .withColumn("chg",
          when(lag(other, 1).over(w1).isNull ||
            lag(other, 1).over(w1) =!= col(other), 1).otherwise(0))
        .withColumn("run_id", sum("chg").over(
          w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      runs.groupBy(col("seq"), col(part), col(other), col("run_id")).agg(count(lit(1)).as("runLen"))
        .groupBy("seq", part).agg(max("runLen").as("best"))
        .groupBy("seq").agg(sum("best"))
    }
    // gt-side IDTP reuses `lagged`'s run ids (identical chg/run_id to
    // what longestRunSum would recompute over the same window)
    val idtpGt = lagged
      .groupBy(col("seq"), col("gt_id"), col("track_id"), col("run_id"))
      .agg(count(lit(1)).as("runLen"))
      .groupBy("seq", "gt_id").agg(max("runLen").as("best"))
      .groupBy("seq").agg(sum("best"))
      .withColumnRenamed("sum(best)", "IDTP")
    // Track-side trajectories keep ONE gt per (frame, track): the
    // reference's track_to_gt dict is overwritten on duplicate claims
    // (eval.py:248, last-in-dict-order wins). Deterministic pin: highest
    // gt_id (documented tie-break deviation).
    val wTr = Window.partitionBy("seq", "frameIdx", "track_id")
      .orderBy(col("gt_id").desc)
    val mmTr = mm.withColumn("rn_tr", row_number().over(wTr))
      .filter(col("rn_tr") === 1).drop("rn_tr")
    val idtpTr = longestRunSum(mmTr, "track_id", "gt_id")
      .withColumnRenamed("sum(best)", "IDTP_tracks")

    val joined = gtCounts
      .join(trCounts, Seq("seq"), "left")
      .join(tpSwitches, Seq("seq"), "left")
      .join(buckets, Seq("seq"), "left")
      .join(idtpGt, Seq("seq"), "left")
      .join(idtpTr, Seq("seq"), "left")
      .na.fill(0, Seq("Dets", "IDs", "CLR_TP", "IDSW", "Frag", "MT", "PT", "ML",
        "IDTP", "IDTP_tracks"))
      .na.fill(0.0, Seq("LocA"))

    val out = joined
      .withColumn("CLR_FN", col("GT_Dets") - col("CLR_TP"))
      .withColumn("CLR_Re",
        when(col("GT_Dets") > 0, col("CLR_TP") / col("GT_Dets")).otherwise(0.0))
      .withColumn("MTR", when(col("GT_IDs") > 0, col("MT") / col("GT_IDs")).otherwise(0.0))
      .withColumn("PTR", when(col("GT_IDs") > 0, col("PT") / col("GT_IDs")).otherwise(0.0))
      .withColumn("MLR", when(col("GT_IDs") > 0, col("ML") / col("GT_IDs")).otherwise(0.0))
      .withColumn("IDFN", col("CLR_TP") - col("IDTP"))
      .withColumn("IDFP", col("CLR_TP") - col("IDTP_tracks"))
      .withColumn("IDR", when(col("IDTP") + col("IDFN") > 0,
        col("IDTP") / (col("IDTP") + col("IDFN"))).otherwise(0.0))
      .withColumn("IDP", when(col("IDTP") + col("IDFP") > 0,
        col("IDTP") / (col("IDTP") + col("IDFP"))).otherwise(0.0))
      .withColumn("IDF1", when(lit(2) * col("IDTP") + col("IDFN") + col("IDFP") > 0,
        lit(2) * col("IDTP") / (lit(2) * col("IDTP") + col("IDFN") + col("IDFP")))
        .otherwise(0.0))
      .drop("IDTP_tracks")
    out
  }
}
