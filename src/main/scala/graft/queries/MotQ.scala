package graft.queries

import org.apache.spark.sql.functions._
import graft.Derived

/** MOT-domain operator queries over the Derived gt/tracks tables (see
  * Derived.scala — shared CTE text makes the inputs bit-identical, so
  * the oracle checks the OPERATOR: the Scala library plan vs a
  * hand-written DuckDB equivalent). Kernel queries (no SQL form) are in
  * KernelQ.
  */
object MotQ {

  private val W = s"WITH ${Derived.motCtes}"

  /** Shared CTE chain for the CLEAR/Identity metrics oracle: everything
    * up to (not including) the final per-sequence SELECT. Reused by the
    * m09 combined-metrics oracle with a different final projection, and
    * (via [[metricsBody]]) by the m11 anchor oracle over differently
    * derived gt/tracks inputs.
    */
  val metricsBody: String = s"""pairs AS (
        |  SELECT g.seq, g.frameIdx, g.id AS gt_id, t.id AS track_id,
        |    CASE WHEN (g.w * g.h + t.w * t.h
        |            - greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |              * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)) <= 0 THEN 0.0
        |      ELSE greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |            * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)
        |        / (g.w * g.h + t.w * t.h
        |            - greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |              * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)) END AS iou
        |  FROM gt g JOIN tracks t ON g.seq = t.seq AND g.frameIdx = t.frameIdx
        |),
        |m AS (
        |  SELECT seq, frameIdx, gt_id, track_id, iou FROM (
        |    SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, gt_id ORDER BY iou DESC, track_id ASC) AS rn
        |    FROM pairs WHERE iou >= 0.3 AND iou > 0.0) t
        |  WHERE rn = 1
        |),
        |gt_counts AS (
        |  SELECT seq, count(*) AS GT_Dets, count(DISTINCT id) AS GT_IDs FROM gt GROUP BY seq
        |),
        |tr_counts AS (
        |  SELECT seq, count(*) AS Dets, count(DISTINCT id) AS IDs FROM tracks GROUP BY seq
        |),
        |tp AS (
        |  SELECT seq, count(*) AS CLR_TP,
        |    CAST(CAST(sum(CAST(ROUND(iou * 1e9) AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) / 1e9 AS LocA
        |  FROM m GROUP BY seq
        |),
        |lagged AS (
        |  SELECT seq, gt_id, frameIdx, track_id,
        |    lag(track_id) OVER w AS prev_track, lag(frameIdx) OVER w AS prev_frame
        |  FROM m WINDOW w AS (PARTITION BY seq, gt_id ORDER BY frameIdx)
        |),
        |switches AS (
        |  SELECT seq,
        |    CAST(sum(CASE WHEN prev_track IS NOT NULL AND prev_track <> track_id THEN 1 ELSE 0 END) AS BIGINT) AS IDSW,
        |    CAST(sum(CASE WHEN prev_frame IS NOT NULL AND frameIdx > prev_frame + 1 THEN 1 ELSE 0 END) AS BIGINT) AS Frag
        |  FROM lagged GROUP BY seq
        |),
        |cov AS (
        |  SELECT g.seq, g.id,
        |    CAST(sum(CASE WHEN m.gt_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS cov
        |  FROM gt g LEFT JOIN m ON m.seq = g.seq AND m.frameIdx = g.frameIdx AND m.gt_id = g.id
        |  GROUP BY g.seq, g.id
        |),
        |buckets AS (
        |  SELECT seq,
        |    CAST(sum(CASE WHEN cov >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS MT,
        |    CAST(sum(CASE WHEN cov >= 0.2 AND cov < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS PT,
        |    CAST(sum(CASE WHEN cov < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS ML
        |  FROM cov GROUP BY seq
        |),
        |runs_gt AS (
        |  SELECT seq, gt_id, track_id,
        |    sum(chg) OVER (PARTITION BY seq, gt_id ORDER BY frameIdx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM (SELECT *, CASE WHEN lag(track_id) OVER w IS NULL OR lag(track_id) OVER w <> track_id THEN 1 ELSE 0 END AS chg
        |        FROM m WINDOW w AS (PARTITION BY seq, gt_id ORDER BY frameIdx)) t
        |),
        |idtp_gt AS (
        |  SELECT seq, CAST(sum(best) AS BIGINT) AS IDTP FROM (
        |    SELECT seq, gt_id, max(run_len) AS best FROM (
        |      SELECT seq, gt_id, track_id, run_id, count(*) AS run_len
        |      FROM runs_gt GROUP BY seq, gt_id, track_id, run_id) a
        |    GROUP BY seq, gt_id) b GROUP BY seq
        |),
        |m_tr AS (
        |  SELECT seq, frameIdx, gt_id, track_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, track_id ORDER BY gt_id DESC) AS rn_tr
        |    FROM m) t WHERE rn_tr = 1
        |),
        |runs_tr AS (
        |  SELECT seq, track_id, gt_id,
        |    sum(chg) OVER (PARTITION BY seq, track_id ORDER BY frameIdx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM (SELECT *, CASE WHEN lag(gt_id) OVER w IS NULL OR lag(gt_id) OVER w <> gt_id THEN 1 ELSE 0 END AS chg
        |        FROM m_tr WINDOW w AS (PARTITION BY seq, track_id ORDER BY frameIdx)) t
        |),
        |idtp_tr AS (
        |  SELECT seq, CAST(sum(best) AS BIGINT) AS IDTP_tracks FROM (
        |    SELECT seq, track_id, max(run_len) AS best FROM (
        |      SELECT seq, track_id, gt_id, run_id, count(*) AS run_len
        |      FROM runs_tr GROUP BY seq, track_id, gt_id, run_id) a
        |    GROUP BY seq, track_id) b GROUP BY seq
        |)""".stripMargin

  val metricsCtes: String = s"$W,\n$metricsBody"

  /** Final per-sequence projection; `round` toggles output rounding so
    * the combined oracle can aggregate unrounded per-seq values.
    */
  def metricsSelect(rounded: Boolean): String = {
    val sel = s"""
        |SELECT g.seq,
        |  coalesce(t.Dets, 0) AS Dets, g.GT_Dets, coalesce(t.IDs, 0) AS IDs, g.GT_IDs,
        |  coalesce(p.CLR_TP, 0) AS CLR_TP,
        |  g.GT_Dets - coalesce(p.CLR_TP, 0) AS CLR_FN,
        |  ROUND(CASE WHEN g.GT_Dets > 0 THEN CAST(coalesce(p.CLR_TP, 0) AS DOUBLE) / g.GT_Dets ELSE 0.0 END, 9) AS CLR_Re,
        |  ROUND(coalesce(p.LocA, 0.0), 9) AS LocA,
        |  coalesce(s.IDSW, 0) AS IDSW, coalesce(s.Frag, 0) AS Frag,
        |  coalesce(b.MT, 0) AS MT, coalesce(b.PT, 0) AS PT, coalesce(b.ML, 0) AS ML,
        |  coalesce(ig.IDTP, 0) AS IDTP,
        |  coalesce(p.CLR_TP, 0) - coalesce(ig.IDTP, 0) AS IDFN,
        |  coalesce(p.CLR_TP, 0) - coalesce(it.IDTP_tracks, 0) AS IDFP,
        |  ROUND(CASE WHEN 2 * coalesce(ig.IDTP, 0) + (coalesce(p.CLR_TP, 0) - coalesce(ig.IDTP, 0)) + (coalesce(p.CLR_TP, 0) - coalesce(it.IDTP_tracks, 0)) > 0
        |    THEN 2.0 * coalesce(ig.IDTP, 0) / (2 * coalesce(ig.IDTP, 0) + (coalesce(p.CLR_TP, 0) - coalesce(ig.IDTP, 0)) + (coalesce(p.CLR_TP, 0) - coalesce(it.IDTP_tracks, 0)))
        |    ELSE 0.0 END, 9) AS IDF1
        |FROM gt_counts g
        |LEFT JOIN tr_counts t ON g.seq = t.seq
        |LEFT JOIN tp p ON g.seq = p.seq
        |LEFT JOIN switches s ON g.seq = s.seq
        |LEFT JOIN buckets b ON g.seq = b.seq
        |LEFT JOIN idtp_gt ig ON g.seq = ig.seq
        |LEFT JOIN idtp_tr it ON g.seq = it.seq""".stripMargin
    if (rounded) sel
    else sel.replace("ROUND(CASE", "(CASE").replace(", 9) AS CLR_Re", ") AS CLR_Re")
      .replace("ROUND(coalesce(p.LocA, 0.0), 9) AS LocA", "coalesce(p.LocA, 0.0) AS LocA")
      .replace(", 9) AS IDF1", ") AS IDF1")
  }

  val defs: Seq[Q] = Seq(

    // J5 — per-frame greedy IoU argmax (MotEval.matchFrames).
    Q("m01_iou_match", Seq(Derived.GtStore, Derived.TracksStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
        val tr = Derived.table(s, d, "tracks")
        graft.operators.MotEval.matchFrames(gt, tr, 0.3)
          .select(col("seq"), col("frameIdx"), col("gt_id"), col("track_id"),
            round(col("iou"), 9).as("iou"))
      },
      Some(s"""$W,
        |pairs AS (
        |  SELECT g.seq, g.frameIdx, g.id AS gt_id, t.id AS track_id,
        |    CASE WHEN (g.w * g.h + t.w * t.h
        |            - greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |              * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)) <= 0 THEN 0.0
        |      ELSE greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |            * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)
        |        / (g.w * g.h + t.w * t.h
        |            - greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |              * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)) END AS iou
        |  FROM gt g JOIN tracks t ON g.seq = t.seq AND g.frameIdx = t.frameIdx
        |)
        |SELECT seq, frameIdx, gt_id, track_id, ROUND(iou, 9) AS iou FROM (
        |  SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, gt_id ORDER BY iou DESC, track_id ASC) AS rn
        |  FROM pairs WHERE iou >= 0.3 AND iou > 0.0) t
        |WHERE rn = 1""".stripMargin)),

    // A2/A7-A14 — full CLEAR + Identity metrics per sequence.
    Q("m02_clear_metrics", Seq(Derived.GtStore, Derived.TracksStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
        val tr = Derived.table(s, d, "tracks")
        val m = graft.operators.MotEval.metrics(gt, tr, 0.3)
        m.select(col("seq"),
          col("Dets").cast("long").as("Dets"),
          col("GT_Dets").cast("long").as("GT_Dets"),
          col("IDs").cast("long").as("IDs"),
          col("GT_IDs").cast("long").as("GT_IDs"),
          col("CLR_TP").cast("long").as("CLR_TP"),
          col("CLR_FN").cast("long").as("CLR_FN"),
          round(col("CLR_Re"), 9).as("CLR_Re"),
          round(col("LocA"), 9).as("LocA"),
          col("IDSW").cast("long").as("IDSW"),
          col("Frag").cast("long").as("Frag"),
          col("MT").cast("long").as("MT"),
          col("PT").cast("long").as("PT"),
          col("ML").cast("long").as("ML"),
          col("IDTP").cast("long").as("IDTP"),
          col("IDFN").cast("long").as("IDFN"),
          col("IDFP").cast("long").as("IDFP"),
          round(col("IDF1"), 9).as("IDF1"))
      },
      Some(MotQ.metricsCtes + "\n" + MotQ.metricsSelect(rounded = true))),

    // J1 — grid band join ≡ exact radius join: candidate-pair counts per
    // sequence (the oracle is the NAIVE theta join — proving the
    // cell-key construction loses and invents nothing).
    Q("m03_band_join", Seq(Derived.GtStore, Derived.TracksStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
          .withColumn("cx", col("x") + col("w") / 2)
          .withColumn("cy", col("y") + col("h") / 2)
        val tr = Derived.table(s, d, "tracks")
          .withColumn("cx", col("x") + col("w") / 2)
          .withColumn("cy", col("y") + col("h") / 2)
        graft.operators.Matching.bandJoin(
            gt.select(col("seq"), col("frameIdx"), col("id"), col("cx"), col("cy")),
            tr.select(col("seq"), col("frameIdx"), col("id"), col("cx"), col("cy")),
            Seq("seq", "frameIdx"), radius = 150.0, cellSize = 100.0)
          .groupBy("seq").agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("l_id")).as("n_tracks_with_cand"))
      },
      Some(s"""$W
        |SELECT g.seq, count(*) AS n_pairs, count(DISTINCT g.id) AS n_tracks_with_cand
        |FROM gt g JOIN tracks t ON g.seq = t.seq AND g.frameIdx = t.frameIdx
        |WHERE sqrt(pow((g.x + g.w / 2) - (t.x + t.w / 2), 2) + pow((g.y + g.h / 2) - (t.y + t.h / 2), 2)) <= 150.0
        |GROUP BY g.seq""".stripMargin)),

    // J1 via the OPTIMIZER RULE (BandJoinRewrite): declarative
    // graft_dist_le predicate, automatically rewritten to the cell
    // equi-join. Oracle = the same naive theta join as m03 — proving
    // rule-rewritten results match the unoptimized semantics.
    Q("m10_distance_join_rule", Seq(Derived.GtStore, Derived.TracksStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
          .withColumn("cx", col("x") + col("w") / 2)
          .withColumn("cy", col("y") + col("h") / 2)
        val tr = Derived.table(s, d, "tracks")
          .withColumn("cx", col("x") + col("w") / 2)
          .withColumn("cy", col("y") + col("h") / 2)
        graft.operators.Matching.distanceJoin(
            gt.select(col("seq"), col("frameIdx"), col("id"), col("cx"), col("cy")),
            tr.select(col("seq"), col("frameIdx"), col("id"), col("cx"), col("cy")),
            Seq("seq", "frameIdx"), radius = 150.0)
          .groupBy("seq").agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("l_id")).as("n_tracks_with_cand"))
      },
      Some(s"""$W
        |SELECT g.seq, count(*) AS n_pairs, count(DISTINCT g.id) AS n_tracks_with_cand
        |FROM gt g JOIN tracks t ON g.seq = t.seq AND g.frameIdx = t.frameIdx
        |WHERE sqrt(pow((g.x + g.w / 2) - (t.x + t.w / 2), 2) + pow((g.y + g.h / 2) - (t.y + t.h / 2), 2)) <= 150.0
        |GROUP BY g.seq""".stripMargin)),

    // J3 — mutual-best match with the restricted det-side rank
    // (reference src/tracking.py:1002-1011 subtlety).
    Q("m04_mutual_best", Seq(Derived.GtStore, Derived.TracksStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
          .withColumn("cx", col("x") + col("w") / 2)
          .withColumn("cy", col("y") + col("h") / 2)
        val tr = Derived.table(s, d, "tracks")
          .withColumn("cx", col("x") + col("w") / 2)
          .withColumn("cy", col("y") + col("h") / 2)
        val pairs = graft.operators.Matching.bandJoin(
            gt.select(col("seq"), col("frameIdx"), col("id"), col("cx"), col("cy"),
              col("w"), col("h")),
            tr.select(col("seq"), col("frameIdx"), col("id"), col("cx"), col("cy"),
              col("w"), col("h")),
            Seq("seq", "frameIdx"), radius = 150.0, cellSize = 100.0)
          .withColumn("sim", round(
            (least(col("l_w") * col("l_h"), col("r_w") * col("r_h")) /
              greatest(col("l_w") * col("l_h"), col("r_w") * col("r_h")) +
              lit(1.0) / (lit(1.0) + col("dist"))) / 2.0, 9))
        graft.operators.Matching.mutualBest(pairs, Seq("seq", "frameIdx"),
            "l_id", "r_id", "sim")
          .select(col("seq"), col("frameIdx"), col("l_id").as("gt_id"),
            col("r_id").as("track_id"), col("sim"))
      },
      Some(s"""$W,
        |pairs AS (
        |  SELECT g.seq, g.frameIdx, g.id AS l_id, t.id AS r_id,
        |    ROUND((least(g.w * g.h, t.w * t.h) / greatest(g.w * g.h, t.w * t.h)
        |      + 1.0 / (1.0 + sqrt(pow((g.x + g.w / 2) - (t.x + t.w / 2), 2) + pow((g.y + g.h / 2) - (t.y + t.h / 2), 2)))) / 2.0, 9) AS sim
        |  FROM gt g JOIN tracks t ON g.seq = t.seq AND g.frameIdx = t.frameIdx
        |  WHERE sqrt(pow((g.x + g.w / 2) - (t.x + t.w / 2), 2) + pow((g.y + g.h / 2) - (t.y + t.h / 2), 2)) <= 150.0
        |),
        |track_best AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, l_id ORDER BY sim DESC, r_id ASC) AS rn_t
        |    FROM pairs WHERE sim > 0.0) t WHERE rn_t = 1
        |)
        |SELECT seq, frameIdx, l_id AS gt_id, r_id AS track_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, r_id ORDER BY sim DESC, l_id ASC) AS rn_d
        |  FROM track_best) t
        |WHERE rn_d = 1""".stripMargin)),

    // J7 — consecutive-frame self-join with pair features (E1/E2).
    Q("m05_consecutive_pairs", Seq(Derived.GtStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
        graft.operators.Matching.consecutiveMatches(gt)
          .withColumn("size_similarity", round(graft.functions.Geometry.sizeSim(
            col("w"), col("h"), col("next_w"), col("next_h")), 9))
          .withColumn("distance", round(graft.functions.Geometry.centerDist(
            col("x"), col("y"), col("w"), col("h"),
            col("next_x"), col("next_y"), col("next_w"), col("next_h")), 9))
          .select("seq", "frameIdx", "nextFrameIdx", "id", "size_similarity", "distance")
      },
      Some(s"""$W,
        |frames AS (
        |  SELECT seq, frameIdx,
        |    lead(frameIdx) OVER (PARTITION BY seq ORDER BY frameIdx) AS nextFrameIdx
        |  FROM (SELECT DISTINCT seq, frameIdx FROM gt) t
        |)
        |SELECT g.seq, g.frameIdx, f.nextFrameIdx, g.id,
        |  ROUND(CASE WHEN g.w * g.h = 0 OR n.w * n.h = 0 THEN 0.0
        |    ELSE least(g.w * g.h, n.w * n.h) / greatest(g.w * g.h, n.w * n.h) END, 9) AS size_similarity,
        |  ROUND(sqrt(pow((g.x + g.w / 2) - (n.x + n.w / 2), 2) + pow((g.y + g.h / 2) - (n.y + n.h / 2), 2)), 9) AS distance
        |FROM gt g
        |JOIN frames f ON f.seq = g.seq AND f.frameIdx = g.frameIdx AND f.nextFrameIdx IS NOT NULL
        |JOIN gt n ON n.seq = g.seq AND n.frameIdx = f.nextFrameIdx AND n.id = g.id""".stripMargin)),

    // A4 — GT-derived thresholds with quantized-cosine appearance (E3).
    Q("m06_gt_thresholds", Seq(Derived.GtEmbStore),
      (s, d) => {
        import graft.functions.Vectors
        val gt = Derived.table(s, d, "gt_emb")
        val m = graft.operators.Matching.consecutiveMatches(gt)
        val withNext = m.join(
          gt.select(col("seq"), col("frameIdx").as("nextFrameIdx"), col("id"),
            col("emb").as("next_emb")),
          Seq("seq", "nextFrameIdx", "id"))
        withNext
          .withColumn("size_similarity", graft.functions.Geometry.sizeSim(
            col("w"), col("h"), col("next_w"), col("next_h")))
          .withColumn("distance", graft.functions.Geometry.centerDist(
            col("x"), col("y"), col("w"), col("h"),
            col("next_x"), col("next_y"), col("next_w"), col("next_h")))
          .withColumn("appearance_similarity",
            round((Vectors.cosineQNative(col("emb"), col("next_emb")) + 1.0) / 2.0, 9))
          .agg(
            round(min("appearance_similarity"), 9).as("appearance"),
            round(max("distance"), 9).as("distance"),
            round(min("size_similarity"), 9).as("size"),
            count(lit(1)).as("n_pairs"))
      },
      Some(s"""$W,
        |${Derived.motEmbCte},
        |frames AS (
        |  SELECT seq, frameIdx,
        |    lead(frameIdx) OVER (PARTITION BY seq ORDER BY frameIdx) AS nextFrameIdx
        |  FROM (SELECT DISTINCT seq, frameIdx FROM gt_emb) t
        |),
        |pairs AS (
        |  SELECT g.seq, g.frameIdx, g.id,
        |    g.x, g.y, g.w, g.h, n.x AS nx, n.y AS ny, n.w AS nw, n.h AS nh,
        |    g.emb AS ea, n.emb AS eb
        |  FROM gt_emb g
        |  JOIN frames f ON f.seq = g.seq AND f.frameIdx = g.frameIdx AND f.nextFrameIdx IS NOT NULL
        |  JOIN gt_emb n ON n.seq = g.seq AND n.frameIdx = f.nextFrameIdx AND n.id = g.id
        |),
        |feat AS (
        |  SELECT p.seq, p.frameIdx, p.id,
        |    CASE WHEN p.w * p.h = 0 OR p.nw * p.nh = 0 THEN 0.0
        |      ELSE least(p.w * p.h, p.nw * p.nh) / greatest(p.w * p.h, p.nw * p.nh) END AS size_similarity,
        |    sqrt(pow((p.x + p.w / 2) - (p.nx + p.nw / 2), 2) + pow((p.y + p.h / 2) - (p.ny + p.nh / 2), 2)) AS distance,
        |    ROUND((CASE WHEN d.nq = 0 OR d.nc = 0 THEN 0.0
        |      ELSE CAST(d.dq AS DOUBLE) / (sqrt(CAST(d.nq AS DOUBLE)) * sqrt(CAST(d.nc AS DOUBLE))) END + 1.0) / 2.0, 9) AS appearance_similarity
        |  FROM pairs p
        |  JOIN (
        |    SELECT p2.seq, p2.frameIdx, p2.id,
        |      CAST(sum(CAST(ROUND(CAST(p2.ea[i + 1] AS DOUBLE) * CAST(p2.eb[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |      CAST(sum(CAST(ROUND(CAST(p2.ea[i + 1] AS DOUBLE) * CAST(p2.ea[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
        |      CAST(sum(CAST(ROUND(CAST(p2.eb[i + 1] AS DOUBLE) * CAST(p2.eb[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |    FROM pairs p2, range(64) r(i) GROUP BY p2.seq, p2.frameIdx, p2.id
        |  ) d ON d.seq = p.seq AND d.frameIdx = p.frameIdx AND d.id = p.id
        |)
        |SELECT ROUND(min(appearance_similarity), 9) AS appearance,
        |       ROUND(max(distance), 9) AS distance,
        |       ROUND(min(size_similarity), 9) AS size,
        |       count(*) AS n_pairs
        |FROM feat""".stripMargin)),

    // S6/O8 — the eval.txt GT filter (strict threshold + dedup).
    Q("m07_eval_filter", Seq(Derived.GtStore, Derived.TracksStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
        val tr = Derived.table(s, d, "tracks")
        graft.operators.MotEval.gtFilteredTracks(gt, tr, 0.3)
          .select("seq", "frameIdx", "id", "x", "y", "w", "h", "conf")
      },
      Some(s"""$W,
        |pairs AS (
        |  SELECT g.seq, g.frameIdx, g.id AS gt_id, t.id AS track_id,
        |    CASE WHEN (g.w * g.h + t.w * t.h
        |            - greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |              * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)) <= 0 THEN 0.0
        |      ELSE greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |            * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)
        |        / (g.w * g.h + t.w * t.h
        |            - greatest(least(g.x + g.w, t.x + t.w) - greatest(g.x, t.x), 0)
        |              * greatest(least(g.y + g.h, t.y + t.h) - greatest(g.y, t.y), 0)) END AS iou
        |  FROM gt g JOIN tracks t ON g.seq = t.seq AND g.frameIdx = t.frameIdx
        |),
        |matched AS (
        |  SELECT DISTINCT seq, frameIdx, track_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, gt_id ORDER BY iou DESC, track_id ASC) AS rn
        |    FROM pairs WHERE iou > 0.3) t
        |  WHERE rn = 1
        |)
        |SELECT tr.seq, tr.frameIdx, tr.id, tr.x, tr.y, tr.w, tr.h, tr.conf
        |FROM tracks tr
        |WHERE EXISTS (SELECT 1 FROM matched m
        |  WHERE m.seq = tr.seq AND m.frameIdx = tr.frameIdx AND m.track_id = tr.id)""".stripMargin)),

    // J8 — seeded negative-pair sampling (anti-join + deterministic
    // hash-ordered row_number).
    Q("m08_negative_pairs", Seq(Derived.GtStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
        val m = graft.operators.Matching.consecutiveMatches(gt)
        graft.operators.Matching.negativePairs(m, gt, n = 2, seed = 42)
          .select("seq", "frameIdx", "nextFrameIdx", "id", "neg_id")
      },
      Some(s"""$W,
        |frames AS (
        |  SELECT seq, frameIdx,
        |    lead(frameIdx) OVER (PARTITION BY seq ORDER BY frameIdx) AS nextFrameIdx
        |  FROM (SELECT DISTINCT seq, frameIdx FROM gt) t
        |),
        |matches AS (
        |  SELECT g.seq, g.frameIdx, f.nextFrameIdx, g.id
        |  FROM gt g
        |  JOIN frames f ON f.seq = g.seq AND f.frameIdx = g.frameIdx AND f.nextFrameIdx IS NOT NULL
        |  JOIN gt n ON n.seq = g.seq AND n.frameIdx = f.nextFrameIdx AND n.id = g.id
        |),
        |cands AS (
        |  SELECT m.seq, m.frameIdx, m.nextFrameIdx, m.id, n2.id AS neg_id
        |  FROM matches m
        |  JOIN gt n2 ON n2.seq = m.seq AND n2.frameIdx = m.nextFrameIdx AND n2.id <> m.id
        |)
        |SELECT seq, frameIdx, nextFrameIdx, id, neg_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, id
        |    ORDER BY md5('42' || '_' || seq || '_' || CAST(frameIdx AS VARCHAR) || '_' || CAST(id AS VARCHAR) || '_' || CAST(neg_id AS VARCHAR)), neg_id) AS rn
        |  FROM cands) t
        |WHERE rn <= 2""".stripMargin))
  )
}
