package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Geometry

/** CLEAR / Identity / Count MOT metrics (SURVEY §2.3 J5, §2.4 A2–A14) —
  * the reference's purest relational program (compute_sequence_metrics,
  * reference src/utils/eval.py:174-457), re-expressed as Catalyst plans:
  * one equi-join on (seq, frame) with an IoU theta filter, window argmax,
  * gaps-and-islands sessionization, and grouped aggregation. No kernels,
  * no state — every stage is shuffle-partitioned by its natural key
  * ((seq,frame) for matching, (seq,gt_id)/(seq,track_id) for identity
  * windows) and scales linearly with executors.
  *
  * Inputs are detection-shaped DataFrames with columns
  * `seq, frameIdx:int, id, x, y, w, h` (+ anything else, passed through).
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

  /** A2–A14 — the full per-sequence metrics row. Pass the same DataFrames
    * given to matchFrames. Returns one row per sequence; union with
    * `metrics(...)` over the rollup for the reference's COMBINED row
    * (combine_metrics, reference src/utils/eval.py:460-508 — count sums +
    * recomputed ratios + TP-weighted LocA, which over raw matches is just
    * the global avg IoU).
    */
  def metrics(gt: DataFrame, tracks: DataFrame, iouThreshold: Double): DataFrame =
    // The match table feeds FIVE aggregation branches (TP/LocA, IDSW/
    // Frag, coverage, both IDTP sides); without persisting it, Spark
    // recomputes the frame join + argmax window once per branch — and
    // re-derives the inputs upstream of it each time. One cache entry,
    // bounded by matched GT rows (eval-scale, not corpus-scale data).
    // Values are unaffected: the row set is deterministic and every
    // downstream aggregate is shuffle-order-independent.
    // NOT unpersisted here, nor by the catalog queries (MotQ, ExtQ,
    // KernelQ) that call this: Spark's CacheManager dedupes cache
    // entries by canonicalized plan, so repeated metrics calls over the
    // same inputs SHARE one entry (storage growth = #distinct input
    // plans, not #calls) and warm re-runs hit it. An explicit per-call
    // unpersist was measured to destroy that reuse (m11 0.6 s → 3.8 s
    // warm) while saving nothing. Callers whose inputs are never
    // evaluated twice (Pipelines.eval: fresh files per call) cache the
    // match table themselves, call metricsFrom, and release it once
    // the metric rows are collected.
    metricsFrom(matchFrames(gt, tracks, iouThreshold).cache(), gt, tracks)

  /** The metrics row of `metrics` over an already-built match table `mm`
    * (`matchFrames(gt, tracks, τ)`, which the caller should persist: five
    * branches read it).
    */
  def metricsFrom(mm: DataFrame, gt: DataFrame, tracks: DataFrame): DataFrame = {
    val gts = gt
    val trs = tracks

    // Count metrics (A2)
    val gtCounts = gts.groupBy("seq").agg(
      count(lit(1)).as("GT_Dets"), countDistinct("id").as("GT_IDs"))
    val trCounts = trs.groupBy("seq").agg(
      count(lit(1)).as("Dets"), countDistinct("id").as("IDs"))

    // One (seq, gt_id)-windowed pass feeds THREE metric families
    // (round 22 plan-shrink — the per-query driver cost of this plan is
    // ~25 sequential AQE stage jobs, so every merged branch removes a
    // planning + codegen + scheduling round trip, not just task work):
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
    // window), so the row-level gts-left-join-mm form is equivalent to
    // joining the two per-(seq, id) counts — the 3600-row frame-level
    // exchange and join disappear (round 22 plan-shrink; LONG/LONG
    // division yields the same DOUBLE cov either way).
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

  /** A6 — COMBINED row across sequences (combine_metrics, reference
    * src/utils/eval.py:460-508): sum the 14 count metrics, recompute the
    * ratios, CLR_TP-weighted mean of LocA.
    */
  def combine(perSeq: DataFrame): DataFrame = {
    val counts = Seq("Dets", "GT_Dets", "IDs", "GT_IDs", "CLR_TP", "CLR_FN",
      "IDSW", "Frag", "MT", "PT", "ML", "IDTP", "IDFN", "IDFP")
    perSeq.groupBy().agg(
        sum(counts.head).as(counts.head),
        counts.tail.map(c => sum(c).as(c)) :+
          (sum(col("LocA") * col("CLR_TP"))).as("locaNum"): _*)
      .withColumn("seq", lit("COMBINED"))
      .withColumn("LocA", when(col("CLR_TP") > 0, col("locaNum") / col("CLR_TP"))
        .otherwise(0.0)).drop("locaNum")
      .withColumn("CLR_Re",
        when(col("GT_Dets") > 0, col("CLR_TP") / col("GT_Dets")).otherwise(0.0))
      .withColumn("MTR", when(col("GT_IDs") > 0, col("MT") / col("GT_IDs")).otherwise(0.0))
      .withColumn("PTR", when(col("GT_IDs") > 0, col("PT") / col("GT_IDs")).otherwise(0.0))
      .withColumn("MLR", when(col("GT_IDs") > 0, col("ML") / col("GT_IDs")).otherwise(0.0))
      .withColumn("IDR", when(col("IDTP") + col("IDFN") > 0,
        col("IDTP") / (col("IDTP") + col("IDFN"))).otherwise(0.0))
      .withColumn("IDP", when(col("IDTP") + col("IDFP") > 0,
        col("IDTP") / (col("IDTP") + col("IDFP"))).otherwise(0.0))
      .withColumn("IDF1", when(lit(2) * col("IDTP") + col("IDFN") + col("IDFP") > 0,
        lit(2) * col("IDTP") / (lit(2) * col("IDTP") + col("IDFN") + col("IDFP")))
        .otherwise(0.0))
  }
}
