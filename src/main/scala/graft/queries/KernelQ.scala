package graft.queries

import org.apache.spark.sql.functions._
import graft.Derived
import graft.operators.{DetBox, Nms, Tracker, TrackerConfig, TrackerIn}
import graft.sources.{Artifact, Multimodal}
import graft.streaming.{StreamingTracker, TimedTrackerIn}

/** Sequential-kernel queries (SURVEY §7.1 layer 2). EVERY kernel here
  * is oracle-checked despite being order- and state-dependent: the
  * DuckDB oracles replay the exact sequential scans as recursive CTEs —
  * pairwise suppress/block/evict relations precomputed vectorized for
  * the NMS kernels (k01/k02), and the full per-frame tracker step
  * (predict → match → update → delete → create → emit) replayed
  * state-recursively for ALL FOUR tracker configs: no-Kalman
  * mutual-best (k08), no-Kalman greedy (k09), and the Kalman + spatial
  * index pair (k03 bidirectional, k04 greedy) via the block-diagonal
  * Kalman transcription in `kalmanTrackOracle`; the streaming host
  * (k05) checks against the same oracle as k03. Independent python
  * ports in tools/nms_oracle.py + tools/tracker_oracle.py cross-check
  * the same kernels.
  */
object KernelQ {

  private def detBoxes(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Derived.table(s, d, "dets")
      .select(col("seq"), col("frame").cast("string").as("frame"), col("id"),
        col("x1"), col("y1"), col("x2"), col("y2"), col("score"))
      .as[DetBox]
  }

  /** gt boxes + per-(id,frame) embeddings as the tracker's detection
    * stream; frame zero-padded so lexicographic order == numeric order.
    * The embedding is sliced to 2 dims so the oracle's appearance cosine
    * is exact shared-text arithmetic on both sides (the full-dim cosine
    * path is covered by TrackerSpec).
    */
  private def trackerInput(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Derived.table(s, d, "gt_emb")
      .select(col("seq"),
        format_string("%06d", col("frameIdx")).as("frame"),
        col("id"), col("x"), col("y"), col("w"), col("h"),
        lit(1.0).as("conf"), slice(col("emb"), 1, 2).as("emb"))
      .as[TrackerIn]
  }

  /** Shared output projection for the oracle-checked tracker queries. */
  private def trackRows(out: org.apache.spark.sql.Dataset[graft.operators.SeqTrackOut]) =
    out.toDF()
      .select(col("seq"), col("frame").cast("int").as("frame"),
        col("trackId"), col("detId"),
        col("x"), col("y"), col("w"), col("h"))

  /** Per-frame greedy-NMS oracle: boxes ordered (score desc, id asc)
    * per (seq, frame); `sup_pairs` holds every ordered pair whose IoU
    * ≥ τ (vectorized); the recursion walks the order once, keeping box
    * i iff no already-KEPT box suppresses it (`list_intersect` of the
    * kept list with box i's precomputed suppressor list). MATERIALIZED
    * stops DuckDB re-inlining the group table into every iteration.
    *
    * CTE chain replaying greedy NMS over `input` (columns seq, frame,
    * id, x1..y2, score), every relation suffixed with `sfx` so chains
    * can stack stages in one WITH RECURSIVE (f04 runs NMS then nested
    * removal, exactly the reference's merge). Ends with
    * `nkept$sfx(seq, frame, id, score)` — the kept rows.
    */
  private def nmsCtes(input: String, sfx: String): String = s"""ordd$sfx AS (
    |  SELECT seq, frame, id, x1, y1, x2, y2, score,
    |    CAST(row_number() OVER (PARTITION BY seq, frame ORDER BY score DESC, id) AS INT) AS ord
    |  FROM $input
    |),
    |sup_pairs$sfx AS (
    |  SELECT a.seq, a.frame, b.ord AS i, a.ord AS j
    |  FROM ordd$sfx a JOIN ordd$sfx b ON a.seq = b.seq AND a.frame = b.frame AND a.ord < b.ord
    |  WHERE CASE WHEN (a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1)
    |             - greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
    |               * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0) <= 0 THEN 0.0
    |        ELSE (greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
    |               * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0))
    |           / ((a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1)
    |             - greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
    |               * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0)) END >= 0.5
    |),
    |g$sfx AS MATERIALIZED (
    |  SELECT o.seq, o.frame, count(*) AS n,
    |    list(o.id ORDER BY o.ord) AS ids,
    |    list(o.score ORDER BY o.ord) AS ss,
    |    list(coalesce(p.js, []) ORDER BY o.ord) AS sups
    |  FROM ordd$sfx o LEFT JOIN (
    |    SELECT seq, frame, i, list(j) AS js FROM sup_pairs$sfx GROUP BY seq, frame, i
    |  ) p ON p.seq = o.seq AND p.frame = o.frame AND p.i = o.ord
    |  GROUP BY o.seq, o.frame
    |),
    |step$sfx(seq, frame, i, kept) AS (
    |  SELECT seq, frame, 1, [CAST(1 AS INT)] FROM g$sfx
    |  UNION ALL
    |  SELECT s.seq, s.frame, s.i + 1,
    |    CASE WHEN len(list_intersect(s.kept, g$sfx.sups[s.i + 1])) = 0
    |      THEN list_append(s.kept, CAST(s.i + 1 AS INT)) ELSE s.kept END
    |  FROM step$sfx s JOIN g$sfx ON g$sfx.seq = s.seq AND g$sfx.frame = s.frame
    |  WHERE s.i < g$sfx.n
    |),
    |final$sfx AS (
    |  SELECT s.seq AS fseq, s.frame AS fframe, unnest(s.kept) AS k
    |  FROM step$sfx s JOIN g$sfx ON g$sfx.seq = s.seq AND g$sfx.frame = s.frame
    |  WHERE s.i = g$sfx.n
    |),
    |nkept$sfx AS (
    |  SELECT f.fseq AS seq, f.fframe AS frame, g$sfx.ids[f.k] AS id, g$sfx.ss[f.k] AS score
    |  FROM final$sfx f JOIN g$sfx ON g$sfx.seq = f.fseq AND g$sfx.frame = f.fframe
    |)""".stripMargin

  private val nmsOracle: String = s"""WITH RECURSIVE ${Derived.detCte},
    |${nmsCtes("dets", "")}
    |SELECT seq, frame, id, score FROM nkept""".stripMargin

  /** Nested-removal oracle: same recursive-scan machinery with the
    * high/low-confidence precedence matrix. Per ordered pair (kept j,
    * current i): `blk` = j stops the scan and rejects i; `rmv` = a
    * high-confidence i evicts j. The reference scan applies evictions
    * found BEFORE the first blocker, so the recursion removes
    * `rmv`-flagged kept entries with ordinal < first blocking kept
    * ordinal, and appends i only when no blocker was hit
    * (reference src/detection.py:1120-1198 exactly).
    *
    * CTE chain replaying nested-detection removal over `input` —
    * suffixed like `nmsCtes`; ends with `nkept$sfx(seq, frame, id,
    * score)`.
    */
  private def nestedCtes(input: String, sfx: String): String = s"""ordd$sfx AS (
    |  SELECT seq, frame, id, x1, y1, x2, y2, score,
    |    CAST(row_number() OVER (PARTITION BY seq, frame ORDER BY score DESC, id) AS INT) AS ord
    |  FROM $input
    |),
    |pairc$sfx AS (
    |  SELECT a.seq, a.frame, b.ord AS i, a.ord AS j,
    |    a.score > 0.5 AS kept_high, b.score > 0.5 AS cur_high,
    |    CASE WHEN (b.x2 - b.x1) * (b.y2 - b.y1) <= 0 THEN 0.0
    |      ELSE greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
    |         * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0)
    |         / ((b.x2 - b.x1) * (b.y2 - b.y1)) END AS cink,
    |    CASE WHEN (a.x2 - a.x1) * (a.y2 - a.y1) <= 0 THEN 0.0
    |      ELSE greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
    |         * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0)
    |         / ((a.x2 - a.x1) * (a.y2 - a.y1)) END AS kinc
    |  FROM ordd$sfx a JOIN ordd$sfx b ON a.seq = b.seq AND a.frame = b.frame AND a.ord < b.ord
    |),
    |flags$sfx AS (
    |  SELECT seq, frame, i, j,
    |    ((cink >= 0.5 AND (kept_high OR NOT cur_high))
    |      OR (cink < 0.5 AND kinc >= 0.5 AND NOT cur_high)) AS blk,
    |    ((cink >= 0.5 AND cur_high AND NOT kept_high)
    |      OR (cink < 0.5 AND kinc >= 0.5 AND cur_high)) AS rmv
    |  FROM pairc$sfx WHERE cink >= 0.5 OR kinc >= 0.5
    |),
    |g$sfx AS MATERIALIZED (
    |  SELECT o.seq, o.frame, count(*) AS n,
    |    list(o.id ORDER BY o.ord) AS ids,
    |    list(o.score ORDER BY o.ord) AS ss,
    |    list(coalesce(f.bs, []) ORDER BY o.ord) AS bss,
    |    list(coalesce(f.rs, []) ORDER BY o.ord) AS rss
    |  FROM ordd$sfx o LEFT JOIN (
    |    SELECT seq, frame, i,
    |      list(j) FILTER (blk) AS bs,
    |      list(j) FILTER (rmv) AS rs
    |    FROM flags$sfx GROUP BY seq, frame, i
    |  ) f ON f.seq = o.seq AND f.frame = o.frame AND f.i = o.ord
    |  GROUP BY o.seq, o.frame
    |),
    |step$sfx(seq, frame, i, kept) AS (
    |  SELECT seq, frame, 1, [CAST(1 AS INT)] FROM g$sfx
    |  UNION ALL
    |  SELECT t.seq, t.frame, t.i + 1,
    |    CASE WHEN len(t.bi) = 0
    |      THEN list_append(list_filter(t.kept, k -> NOT (list_contains(t.ri, k))), CAST(t.i + 1 AS INT))
    |      ELSE list_filter(t.kept, k -> NOT (list_contains(t.ri, k) AND k < t.p)) END
    |  FROM (
    |    SELECT s.seq, s.frame, s.i, s.kept, g$sfx.n,
    |      list_intersect(s.kept, g$sfx.bss[s.i + 1]) AS bi,
    |      list_intersect(s.kept, g$sfx.rss[s.i + 1]) AS ri,
    |      coalesce(list_min(list_intersect(s.kept, g$sfx.bss[s.i + 1])), 2147483647) AS p
    |    FROM step$sfx s JOIN g$sfx ON g$sfx.seq = s.seq AND g$sfx.frame = s.frame
    |    WHERE s.i < g$sfx.n
    |  ) t
    |),
    |final$sfx AS (
    |  SELECT s.seq AS fseq, s.frame AS fframe, unnest(s.kept) AS k
    |  FROM step$sfx s JOIN g$sfx ON g$sfx.seq = s.seq AND g$sfx.frame = s.frame
    |  WHERE s.i = g$sfx.n
    |),
    |nkept$sfx AS (
    |  SELECT f.fseq AS seq, f.fframe AS frame, g$sfx.ids[f.k] AS id, g$sfx.ss[f.k] AS score
    |  FROM final$sfx f JOIN g$sfx ON g$sfx.seq = f.fseq AND g$sfx.frame = f.fframe
    |)""".stripMargin

  private val nestedOracle: String = s"""WITH RECURSIVE ${Derived.detCte},
    |${nestedCtes("dets", "")}
    |SELECT seq, frame, id, score FROM nkept""".stripMargin

  /** M1 merge oracle: the tile/scale derivation is SHARED TEXT with the
    * Spark query (same arithmetic, same duplicate leg from a shifted
    * neighboring tile), then the two kernel replays chain inside one
    * WITH RECURSIVE — NMS over the translated detections, nested
    * removal over the NMS survivors — exactly `_nms` then
    * `_remove_nested_detections` (reference src/detection.py:1420-1422).
    */
  private val tileMergeOracle: String = s"""WITH RECURSIVE ${Derived.detCte},
    |base AS (
    |  SELECT seq || ':' || CAST(frame AS VARCHAR) AS img, id, score,
    |    CASE WHEN id % 2 = 0 THEN 0.5 ELSE 1.0 END AS scale,
    |    CAST((id % 3) * 200 AS DOUBLE) AS tile_x,
    |    CAST((id % 4) * 150 AS DOUBLE) AS tile_y,
    |    x1, y1, x2, y2
    |  FROM dets
    |),
    |tloc AS (
    |  SELECT img, id, score, scale, tile_x, tile_y,
    |    x1 * scale - tile_x AS lx1, y1 * scale - tile_y AS ly1,
    |    x2 * scale - tile_x AS lx2, y2 * scale - tile_y AS ly2
    |  FROM base
    |  UNION ALL
    |  SELECT img, -id AS id, score * 0.9 AS score, scale,
    |    tile_x + 37.0 AS tile_x, tile_y + 23.0 AS tile_y,
    |    x1 * scale - (tile_x + 37.0) AS lx1, y1 * scale - (tile_y + 23.0) AS ly1,
    |    x2 * scale - (tile_x + 37.0) AS lx2, y2 * scale - (tile_y + 23.0) AS ly2
    |  FROM base WHERE id % 5 = 0
    |),
    |tdets AS (
    |  SELECT img AS seq, 0 AS frame, id,
    |    (lx1 + tile_x) / scale AS x1, (ly1 + tile_y) / scale AS y1,
    |    (lx2 + tile_x) / scale AS x2, (ly2 + tile_y) / scale AS y2,
    |    score
    |  FROM tloc
    |),
    |${nmsCtes("tdets", "1")},
    |j1 AS (
    |  SELECT k.seq, k.frame, k.id, k.score, t.x1, t.y1, t.x2, t.y2
    |  FROM nkept1 k JOIN tdets t ON t.seq = k.seq AND t.id = k.id
    |),
    |${nestedCtes("j1", "2")}
    |SELECT k.seq AS img, k.id, k.score, t.x1, t.y1, t.x2, t.y2
    |FROM nkept2 k JOIN tdets t ON t.seq = k.seq AND t.id = k.id""".stripMargin

  /** Render a config constant so DuckDB computes with it in DOUBLE.
    * Bare decimal literals parse as DECIMAL and stay exact through
    * arithmetic (e.g. 0.2+0.2+0.5+0.1 = 1.0 exactly), while the kernel
    * sums the same weights in doubles (= 0.9999999999999999): every
    * oracle similarity then sits ~1 ulp off the kernel's. Mutual-best
    * argmax survives that (per-track comparisons, ulp ties are
    * measure-zero) but the GLOBAL greedy sort ranks near-tied pairs
    * across tracks, where a 1-ulp flip cascades — k04 diverged at
    * sf0.1 exactly this way. CASTing each constant forces the whole
    * expression into IEEE double, bit-identical to the Scala kernel.
    */
  private def D(v: Double): String = s"CAST($v AS DOUBLE)"

  /** Center distance between a track struct `t` and det struct `d` —
    * shared by the similarity's Euclidean terms and the k11 radius
    * gate, so both sides of the gate boundary use the identical IEEE
    * expression.
    */
  private def k08Dist(t: String, d: String): String =
    s"sqrt((($t.x + $t.w / 2) - ($d.x + $d.w / 2)) * (($t.x + $t.w / 2) - ($d.x + $d.w / 2)) " +
      s"+ (($t.y + $t.h / 2) - ($d.y + $d.h / 2)) * (($t.y + $t.h / 2) - ($d.y + $d.h / 2)))"

  /** The similarity cascade of `Tracker.similarity` under
    * `useKalman=false` (predicted == lastBbox, so the Kalman and
    * Euclidean distance terms coincide), as SQL text over two struct
    * refs carrying (x, y, w, h, e1, e2). Gates return NULL (the
    * kernel's NaN); every arithmetic step mirrors the Scala
    * double-precision order of operations exactly, so threshold
    * comparisons and argmax decisions are bit-identical.
    *
    * Gated no-Kalman similarity. With `radiusGated` the spatial-index
    * distance gate rides as the FIRST NULL branch of the SAME flat CASE
    * chain the ungated replay uses (k09's 14/14-stable shape) — NOT a
    * nested CASE around it, which re-trips the DuckDB 1.0
    * nondeterministic-evaluation bug the k04 note documents.
    */
  private def k08Sim(t: String, d: String, c: TrackerConfig,
                     radiusGated: Boolean = false): String = {
    // Config constants are interpolated from the SAME TrackerConfig the
    // Spark query runs (Double.toString of the defaults renders the
    // exact literals this text was validated with), so a config change
    // in a query can never silently diverge from its oracle.
    val sizeS = s"(CASE WHEN $t.w * $t.h = 0.0 OR $d.w * $d.h = 0.0 THEN 0.0 " +
      s"ELSE least($t.w * $t.h, $d.w * $d.h) / greatest($t.w * $t.h, $d.w * $d.h) END)"
    val appS = s"(CASE WHEN $t.e1 * $t.e1 + $t.e2 * $t.e2 = 0.0 " +
      s"OR $d.e1 * $d.e1 + $d.e2 * $d.e2 = 0.0 THEN 0.5 " +
      s"ELSE (($t.e1 * $d.e1 + $t.e2 * $d.e2) / " +
      s"(sqrt($t.e1 * $t.e1 + $t.e2 * $t.e2) * sqrt($d.e1 * $d.e1 + $d.e2 * $d.e2)) + 1.0) / 2.0 END)"
    val dist = k08Dist(t, d)
    val gate =
      if (radiusGated)
        s"WHEN $dist > ${D(c.thresholdDistance)} * (1 + ${D(c.tolerance)}) THEN NULL "
      else ""
    s"(CASE ${gate}WHEN $sizeS < ${D(c.thresholdSize)} * (1 - ${D(c.tolerance)}) THEN NULL " +
      s"WHEN $appS < ${D(c.thresholdAppearance)} * (1 - ${D(c.tolerance)}) THEN NULL " +
      s"ELSE (($appS - ${D(c.thresholdAppearance)}) / (1.0 - ${D(c.thresholdAppearance)}) * ${D(c.wAppearance)} " +
      s"+ (1 - $dist / ${D(c.thresholdDistance)}) * ${D(c.wEuclidean)} + (1 - $dist / ${D(c.thresholdDistance)}) * ${D(c.wKalman)} " +
      s"+ ($sizeS - ${D(c.thresholdSize)}) / (1.0 - ${D(c.thresholdSize)}) * ${D(c.wSize)}) / (${D(c.wAppearance)} + ${D(c.wEuclidean)} + ${D(c.wKalman)} + ${D(c.wSize)}) END)"
  }

  /** T1/T4/T5/J3/F7/F8 oracle — a full recursive-CTE replay of the
    * no-Kalman tracker (`useKalman=false, useSpatialIndex=false,
    * minTrackLength=2`), parameterized over the per-frame MATCHER so
    * both matching policies are covered:
    *
    *  - MUTUAL-BEST (k08, `bidirectional=true`): declarative per frame —
    *    track-best = first det index attaining the max gated similarity
    *    (strict `>` from 0.0 ⇒ max, first-wins), det-best among
    *    track-best pairs = first track index (buffer order = ascending
    *    creation order) attaining the max.
    *  - GLOBAL GREEDY (k09, `bidirectional=false`, reference
    *    src/tracking.py:1037-1133): ALL non-gated pairs — including
    *    non-positive similarities, the kernel's matchGreedy has no
    *    `> 0` floor — sorted (sim desc, track idx, det idx) exactly as
    *    the kernel's stable sort over (track, det) build order, then
    *    folded one-to-one with `list_reduce` (each element arrives
    *    pre-assigned as {mt:[ti], md:[dj], out:[pair]}; the fold keeps
    *    an element only when neither side is taken — the greedy scan).
    *
    * The recursion only carries the evolving track list — struct arrays
    * updated with indexed list lambdas — plus the next-track-id counter,
    * and emits each frame's matched/created rows at its own iteration.
    * Validated row-identical against an independent python port at
    * sf0.001 and sf0.01. Reference semantics: src/tracking.py:764-854
    * (step), 983-1011 (mutual best), 1037-1133 (greedy).
    */
  private def trackOracle(greedy: Boolean, cfg: TrackerConfig): String = {
    // this replay models predicted == lastBbox; without Kalman the
    // spatial-index radius is the CONSTANT thresholdDistance*(1+tol)
    // (operators/Tracker.scala candidatesFor), so the gate is replayed
    // as a NULL'd sort key — supported for the greedy matcher (k11)
    require(!cfg.useKalman,
      "trackOracle replays the no-Kalman kernel only")
    require(!cfg.useSpatialIndex || greedy,
      "the radius-gate replay covers the greedy matcher only")
    require(greedy == !cfg.bidirectional,
      "matcher replay must follow the config: greedy <=> !bidirectional")
    val simTD = k08Sim("t", "d", cfg)
    // Radius gate: pairs are built with separate sim ('k') and distance
    // ('g') fields in an INNER projection, and the gate runs as a plain
    // field comparison in the outer list_filter — the filtered struct
    // is then re-projected to the exact {k, ti, dj} shape the ungated
    // fold sorts (so similarity-tie breaks are unchanged). Gating
    // INSIDE the similarity CASE — nested or flattened — trips the
    // DuckDB 1.0 nondeterministic-evaluation bug (sweep-verified: 3
    // distinct results in 30 runs); this two-stage form is the one
    // that sweeps clean.
    val keyExpr = s"-($simTD)"
    val gateRadius = s"${D(cfg.thresholdDistance)} * (1 + ${D(cfg.tolerance)})"
    // the aged-tracks source both matchers read (already stripped of
    // margins — embedded verbatim inside the template below)
    val agedSrc =
      """(
        |          SELECT s.seq, f.fidx, f.frameIdx, s.nid, f.ds,
        |            list_transform(s.tks, t ->
        |              {'tid': t.tid, 'x': t.x, 'y': t.y, 'w': t.w, 'h': t.h,
        |               'e1': t.e1, 'e2': t.e2, 'did': t.did, 'tsu': t.tsu + 1}) AS aged
        |          FROM step s JOIN fr2 f ON f.seq = s.seq AND f.fidx = s.fidx + 1
        |        )""".stripMargin
    // layers between `aged` and the frame update: produce `mt`, a list
    // of {ti, dj} matched index pairs (1-based track/det positions)
    val matchLayers =
      if (!greedy)
        s"""      SELECT seq, fidx, frameIdx, nid, ds, aged,
      |        list_filter(tb, q ->
      |          q.ti = list_min(list_transform(
      |            list_filter(tb, r -> r.dj = q.dj AND r.s =
      |              list_max(list_transform(list_filter(tb, u -> u.dj = q.dj), u -> u.s))),
      |            r -> r.ti))) AS mt
      |      FROM (
      |        SELECT seq, fidx, frameIdx, nid, ds, aged,
      |          list_filter(
      |            list_transform(aged, (t, ti) ->
      |              {'ti': ti,
      |               'dj': list_position(
      |                 list_transform(ds, d -> $simTD),
      |                 list_max(list_filter(list_transform(ds, d -> $simTD),
      |                                      v -> v IS NOT NULL AND v > 0.0))),
      |               's': list_max(list_filter(list_transform(ds, d -> $simTD),
      |                                         v -> v IS NOT NULL AND v > 0.0))}),
      |            q -> q.dj IS NOT NULL) AS tb
      |        FROM AGED_SRC
      |      )""".stripMargin
      else
        // the greedy fold accumulates STRINGS, not lists: DuckDB 1.0's
        // list_reduce silently drops list-valued accumulator state
        // after two iterations (verified minimal repro), so taken
        // track/det sets ride as '|id|' tokens and matches as a
        // 'ti:dj;' run, parsed back to index structs after the fold
        s"""      SELECT seq, fidx, frameIdx, nid, ds, aged,
      |        CASE WHEN len(allp) = 0 THEN CAST([] AS STRUCT(ti INT, dj INT)[])
      |          ELSE list_transform(
      |            list_filter(string_split(list_reduce(
      |              list_transform(list_sort(allp), p ->
      |                {'mt': '|' || CAST(p.ti AS VARCHAR) || '|',
      |                 'md': '|' || CAST(p.dj AS VARCHAR) || '|',
      |                 'out': CAST(p.ti AS VARCHAR) || ':' || CAST(p.dj AS VARCHAR) || ';'}),
      |              (a, e) -> CASE WHEN contains(a.mt, e.mt) OR contains(a.md, e.md) THEN a
      |                ELSE {'mt': a.mt || e.mt, 'md': a.md || e.md,
      |                      'out': a.out || e.out} END).out, ';'), x -> len(x) > 0),
      |            x -> {'ti': CAST(string_split(x, ':')[1] AS INT),
      |                  'dj': CAST(string_split(x, ':')[2] AS INT)}) END AS mt
      |      FROM (
      |        SELECT seq, fidx, frameIdx, nid, ds, aged,
      |          ${if (cfg.useSpatialIndex)
                   s"""list_transform(
      |            list_filter(
      |              flatten(list_transform(aged, (t, ti) ->
      |                list_transform(ds, (d, dj) ->
      |                  {'k': $keyExpr, 'g': ${k08Dist("t", "d")}, 'ti': CAST(ti AS INT), 'dj': CAST(dj AS INT)}))),
      |              p -> p.k IS NOT NULL AND p.g <= $gateRadius),
      |            p -> {'k': p.k, 'ti': p.ti, 'dj': p.dj}) AS allp"""
                 else
                   s"""list_filter(
      |            flatten(list_transform(aged, (t, ti) ->
      |              list_transform(ds, (d, dj) ->
      |                {'k': $keyExpr, 'ti': CAST(ti AS INT), 'dj': CAST(dj AS INT)}))),
      |            p -> p.k IS NOT NULL) AS allp"""}
      |        FROM AGED_SRC
      |      )""".stripMargin
    // One recursive step CTE, parameterized by name + sequence filter.
    // The recursion runs ONCE PER SEQUENCE with a single-row working
    // table: with both sequences in one working table, DuckDB 1.0
    // mis-evaluates the matcher fold — for the gated greedy config,
    // threads=1 is stable but WRONG (3496 rows vs the per-seq truth
    // 1748+1753=3501 at sf0.1) and default threads flip between
    // several wrong answers; the ungated fold hits the same bug rarely
    // (the r10→r11 k09 one-off parity flake). Each single-row
    // recursion sweeps clean, and the union equals the kernel output
    // exactly (the kernel resets state per sequence — T6 — so the
    // split is the MORE faithful replay). The sequence set is fixed by
    // construction (seq = 's' || l_orderkey % 2 — Derived.gtCtes), so
    // the two anchors are exhaustive.
    def stepCte(name: String, seqPred: String): String =
      s"""$name(seq, fidx, frameIdx, tks, nid, emit) AS (
      |  SELECT seq, 0, -1,
      |    CAST([] AS STRUCT(tid INT, x DOUBLE, y DOUBLE, w DOUBLE, h DOUBLE,
      |                      e1 DOUBLE, e2 DOUBLE, did INT, tsu INT)[]),
      |    1,
      |    CAST([] AS STRUCT(tid INT, did INT, x DOUBLE, y DOUBLE, w DOUBLE, h DOUBLE)[])
      |  FROM (SELECT DISTINCT seq FROM din$seqPred)
      |  UNION ALL
      |  SELECT seq, fidx, frameIdx,
      |    list_concat(kept, created) AS tks,
      |    nid + len(created) AS nid,
      |    list_transform(
      |      list_filter(list_concat(kept, created), t -> t.tsu = 0),
      |      t -> {'tid': t.tid, 'did': t.did, 'x': t.x, 'y': t.y, 'w': t.w, 'h': t.h}) AS emit
      |  FROM (
      |    SELECT seq, fidx, frameIdx, nid, ds, mt,
      |      list_transform(
      |        list_filter(
      |          list_transform(aged, (t, i) -> {'t': t,
      |            'mdj': list_min(list_transform(list_filter(mt, m -> m.ti = i), m -> m.dj))}),
      |          p -> p.mdj IS NOT NULL OR p.t.tsu <= ${cfg.maxAge}),
      |        p -> CASE WHEN p.mdj IS NOT NULL
      |          THEN {'tid': p.t.tid, 'x': ds[p.mdj].x, 'y': ds[p.mdj].y,
      |                'w': ds[p.mdj].w, 'h': ds[p.mdj].h,
      |                'e1': ds[p.mdj].e1, 'e2': ds[p.mdj].e2,
      |                'did': ds[p.mdj].id, 'tsu': 0}
      |          ELSE p.t END) AS kept,
      |      list_transform(
      |        list_filter(
      |          list_transform(ds, (d, i) -> {'d': d, 'i': i}),
      |          p -> len(list_filter(mt, m -> m.dj = p.i)) = 0
      |            AND p.d.w * p.d.h >= ${D(cfg.minIcebergSize)}),
      |        (p, j) -> {'tid': nid + j - 1, 'x': p.d.x, 'y': p.d.y,
      |              'w': p.d.w, 'h': p.d.h, 'e1': p.d.e1,
      |              'e2': p.d.e2, 'did': p.d.id, 'tsu': 0}) AS created
      |    FROM (
${matchLayers.replace("AGED_SRC", agedSrc.replace("FROM step s", s"FROM $name s"))}
      |    )
      |  )
      |)"""
    val stepCtes =
      s"${stepCte("step_s0", " WHERE seq = 's0'")},\n${stepCte("step_s1", " WHERE seq = 's1'")}"
    val stepSrc = "(SELECT * FROM step_s0 UNION ALL SELECT * FROM step_s1)"
    s"""WITH RECURSIVE ${Derived.gtCtes},
      |din AS (
      |  SELECT g.seq, g.frameIdx, g.id, g.x, g.y, g.w, g.h,
      |         CAST(e.embedding[1] AS DOUBLE) AS e1,
      |         CAST(e.embedding[2] AS DOUBLE) AS e2
      |  FROM gt g JOIN embeddings e ON e.vec_id = (g.id * 7 + g.frameIdx) % 500
      |),
      |fr2 AS MATERIALIZED (
      |  SELECT seq, frameIdx, ds,
      |    CAST(row_number() OVER (PARTITION BY seq ORDER BY frameIdx) AS INT) AS fidx
      |  FROM (
      |    SELECT seq, frameIdx,
      |      list({'id': id, 'x': x, 'y': y, 'w': w, 'h': h, 'e1': e1, 'e2': e2} ORDER BY id) AS ds
      |    FROM din GROUP BY seq, frameIdx)
      |),
      |$stepCtes
      |SELECT seq, frameIdx AS frame, u.tid AS trackId, u.did AS detId,
      |       u.x AS x, u.y AS y, u.w AS w, u.h AS h
      |FROM (SELECT seq, frameIdx, unnest(emit) AS u FROM $stepSrc WHERE fidx > 0)${
        if (cfg.minTrackLength > 1)
          s"\n      |QUALIFY count(*) OVER (PARTITION BY seq, trackId) >= ${cfg.minTrackLength}"
        else ""}""".stripMargin
  }

  /** Gated similarity of the FULL default tracker config (`useKalman=
    * true, useSpatialIndex=true`) over an aged-track struct `t` and a
    * detection struct `d`, as SQL text. Three gates precede the fusion:
    *
    *  1. SPATIAL-INDEX RADIUS (J1/E12): the grid index + exact post-
    *     filter is semantically `centerDist(predicted, det) <= max(
    *     2·sqrt(Pxx+Pyy), thresholdDistance·(1+tolerance))` (reference
    *     src/tracking.py:442-554 — the grid only prunes, the post-filter
    *     decides). `dk` is bit-identical to the in-kernel distance:
    *     (a-b)² == (b-a)² exactly in IEEE.
    *  2. size gate, 3. appearance gate — as the no-Kalman oracle.
    *
    * Fusion differs from k08Sim only in the third term: the Kalman
    * distance uses the PREDICTED bbox (post-predict state x₀,x₁,x₄,x₅)
    * while the Euclidean term keeps the last matched bbox.
    */
  private def kalmanGsim(t: String, d: String, c: TrackerConfig): String = {
    val sizeS = s"(CASE WHEN $t.lw * $t.lh = 0.0 OR $d.w * $d.h = 0.0 THEN 0.0 " +
      s"ELSE least($t.lw * $t.lh, $d.w * $d.h) / greatest($t.lw * $t.lh, $d.w * $d.h) END)"
    val appS = s"(CASE WHEN $t.e1 * $t.e1 + $t.e2 * $t.e2 = 0.0 " +
      s"OR $d.e1 * $d.e1 + $d.e2 * $d.e2 = 0.0 THEN 0.5 " +
      s"ELSE (($t.e1 * $d.e1 + $t.e2 * $d.e2) / " +
      s"(sqrt($t.e1 * $t.e1 + $t.e2 * $t.e2) * sqrt($d.e1 * $d.e1 + $d.e2 * $d.e2)) + 1.0) / 2.0 END)"
    val de = s"sqrt((($t.lx + $t.lw / 2) - ($d.x + $d.w / 2)) * (($t.lx + $t.lw / 2) - ($d.x + $d.w / 2)) " +
      s"+ (($t.ly + $t.lh / 2) - ($d.y + $d.h / 2)) * (($t.ly + $t.lh / 2) - ($d.y + $d.h / 2)))"
    val dk = s"sqrt((($t.px + $t.kw / 2) - ($d.x + $d.w / 2)) * (($t.px + $t.kw / 2) - ($d.x + $d.w / 2)) " +
      s"+ (($t.py + $t.kh / 2) - ($d.y + $d.h / 2)) * (($t.py + $t.kh / 2) - ($d.y + $d.h / 2)))"
    val radiusGate =
      if (c.useSpatialIndex)
        s"WHEN $dk > greatest(2.0 * sqrt($t.xa + $t.ya), ${D(c.thresholdDistance)} * (1 + ${D(c.tolerance)})) THEN NULL "
      else ""
    s"(CASE ${radiusGate}WHEN $sizeS < ${D(c.thresholdSize)} * (1 - ${D(c.tolerance)}) THEN NULL " +
      s"WHEN $appS < ${D(c.thresholdAppearance)} * (1 - ${D(c.tolerance)}) THEN NULL " +
      s"ELSE (($appS - ${D(c.thresholdAppearance)}) / (1.0 - ${D(c.thresholdAppearance)}) * ${D(c.wAppearance)} " +
      s"+ (1 - $de / ${D(c.thresholdDistance)}) * ${D(c.wEuclidean)} + (1 - $dk / ${D(c.thresholdDistance)}) * ${D(c.wKalman)} " +
      s"+ ($sizeS - ${D(c.thresholdSize)}) / (1.0 - ${D(c.thresholdSize)}) * ${D(c.wSize)}) / (${D(c.wAppearance)} + ${D(c.wEuclidean)} + ${D(c.wKalman)} + ${D(c.wSize)}) END)"
  }

  /** T1–T6 oracle for the KALMAN-bearing tracker configs — the same
    * recursive replay as `trackOracle`, with the per-track state widened
    * to carry the Kalman filter.
    *
    * WHY THIS IS EXACT (and small): with P₀ = 100·I, Q = q·I, R = r·I
    * and the constant-velocity F coupling only (x,vx) and (y,vy) while H
    * observes (x,y,w,h), the 6×6 covariance of `graft.mot.Kalman` stays
    * EXACTLY block-diagonal forever — two 2×2 blocks for (x,vx),(y,vy)
    * and two scalars for w,h. Cross-block entries start at 0.0 and every
    * predict/update arithmetic path feeds them only products with 0.0,
    * which IEEE-754 keeps at ±0.0; ±0.0 contributions to sums leave all
    * other doubles bit-identical. Each 6×6/4×4 matrix op therefore
    * degenerates to a short scalar sequence whose association order is
    * transcribed below EXACTLY as Kalman.scala executes it (e.g. the
    * gain is `xa * (1.0/s)` — two roundings, matching Gauss-Jordan's
    * row-divide then K = PHᵀS⁻¹ — NOT `xa/s`; the Joseph form's
    * `((1-k1)·xa)·(1-k1) + r·(k1·k1)` keeps mulT's association). Per
    * 2×2 block the carried state is (pos, vel, a=P₀₀, b=P₀₂, c=P₂₀,
    * d=P₂₂) — b and c are tracked separately because Joseph's APAᵀ
    * computes them with different association (bit-level asymmetry the
    * next predict reads on both sides).
    *
    * The decisions (gates, argmax, greedy order) are what must match —
    * emitted bboxes are raw detection coords — and bit-exact state gives
    * bit-exact decisions. Matcher layers are shared with the no-Kalman
    * oracle, with the spatial-index radius gate added inside the
    * similarity (reference fallback without the index has no gate).
    * Validated row-identical vs the Scala kernel at sf0.001/sf0.01.
    * Reference: src/tracking.py:234-369 (filterpy config), 764-854
    * (step), 407-435 (2σ search radius).
    */
  private def kalmanTrackOracle(greedy: Boolean, cfg: TrackerConfig,
                                dinWhere: String = ""): String = {
    // this replay models the Kalman predict/update; the radius gate is
    // emitted only for spatial-index configs (the reference fallback
    // without the index considers every detection, src/tracking.py:973)
    require(cfg.useKalman,
      "kalmanTrackOracle replays the Kalman-bearing kernel only")
    require(greedy == !cfg.bidirectional,
      "matcher replay must follow the config: greedy <=> !bidirectional")
    require(cfg.minTrackLength <= 1,
      "add the QUALIFY min-length clause before using a min-length config here")
    val gsim = kalmanGsim("t", "d", cfg)
    val q = D(cfg.processNoise)
    val r = D(cfg.measurementNoise)
    val agedSrc =
      s"""(
        |          SELECT s.seq, f.fidx, f.frameIdx, s.nid, f.ds,
        |            list_transform(s.tks, t ->
        |              {'tid': t.tid, 'did': t.did, 'tsu': t.tsu + 1,
        |               'lx': t.lx, 'ly': t.ly, 'lw': t.lw, 'lh': t.lh,
        |               'e1': t.e1, 'e2': t.e2,
        |               'px': t.px + t.vx, 'vx': t.vx,
        |               'xa': ((t.xa + t.xc) + (t.xb + t.xd)) + $q,
        |               'xb': t.xb + t.xd, 'xc': t.xc + t.xd, 'xd': t.xd + $q,
        |               'py': t.py + t.vy, 'vy': t.vy,
        |               'ya': ((t.ya + t.yc) + (t.yb + t.yd)) + $q,
        |               'yb': t.yb + t.yd, 'yc': t.yc + t.yd, 'yd': t.yd + $q,
        |               'kw': t.kw, 'wp': t.wp + $q,
        |               'kh': t.kh, 'hp': t.hp + $q}) AS aged
        |          FROM step s JOIN fr2 f ON f.seq = s.seq AND f.fidx = s.fidx + 1
        |        )""".stripMargin
    val matchLayers =
      if (!greedy)
        s"""      SELECT seq, fidx, frameIdx, nid, ds, aged,
      |        list_filter(tb, q ->
      |          q.ti = list_min(list_transform(
      |            list_filter(tb, r -> r.dj = q.dj AND r.s =
      |              list_max(list_transform(list_filter(tb, u -> u.dj = q.dj), u -> u.s))),
      |            r -> r.ti))) AS mt
      |      FROM (
      |        SELECT seq, fidx, frameIdx, nid, ds, aged,
      |          list_filter(
      |            list_transform(aged, (t, ti) ->
      |              {'ti': ti,
      |               'dj': list_position(
      |                 list_transform(ds, d -> $gsim),
      |                 list_max(list_filter(list_transform(ds, d -> $gsim),
      |                                      v -> v IS NOT NULL AND v > 0.0))),
      |               's': list_max(list_filter(list_transform(ds, d -> $gsim),
      |                                         v -> v IS NOT NULL AND v > 0.0))}),
      |            q -> q.dj IS NOT NULL) AS tb
      |        FROM AGED_SRC
      |      )""".stripMargin
      else
        // The Kalman similarity is HOISTED into its own projection
        // (simm = per-track list of gated sims) before the pair
        // explosion: DuckDB 1.0 evaluates the large gsim expression
        // NONDETERMINISTICALLY (~1 run in 5 diverges, rows even go
        // missing) when it sits inside the flatten(transform(
        // transform)) + sort + fold chain under the default thread
        // count. The same expression inside a plain nested
        // list_transform — the shape the stable mutual-best layer
        // uses — never misevaluates (14/14 stress runs), and
        // `SET threads=1` also suppresses the bug, so this is a
        // DuckDB vectorization defect dodged by decomposition, not a
        // semantic change: the explosion then touches only plain
        // doubles.
        s"""      SELECT seq, fidx, frameIdx, nid, ds, aged,
      |        CASE WHEN len(allp) = 0 THEN CAST([] AS STRUCT(ti INT, dj INT)[])
      |          ELSE list_transform(
      |            list_filter(string_split(list_reduce(
      |              list_transform(list_sort(allp), p ->
      |                {'mt': '|' || CAST(p.ti AS VARCHAR) || '|',
      |                 'md': '|' || CAST(p.dj AS VARCHAR) || '|',
      |                 'out': CAST(p.ti AS VARCHAR) || ':' || CAST(p.dj AS VARCHAR) || ';'}),
      |              (a, e) -> CASE WHEN contains(a.mt, e.mt) OR contains(a.md, e.md) THEN a
      |                ELSE {'mt': a.mt || e.mt, 'md': a.md || e.md,
      |                      'out': a.out || e.out} END).out, ';'), x -> len(x) > 0),
      |            x -> {'ti': CAST(string_split(x, ':')[1] AS INT),
      |                  'dj': CAST(string_split(x, ':')[2] AS INT)}) END AS mt
      |      FROM (
      |        SELECT seq, fidx, frameIdx, nid, ds, aged,
      |          list_filter(
      |            flatten(list_transform(simm, (row, ti) ->
      |              list_transform(row, (v, dj) ->
      |                {'k': -(v), 'ti': CAST(ti AS INT), 'dj': CAST(dj AS INT)}))),
      |            p -> p.k IS NOT NULL) AS allp
      |      FROM (
      |        SELECT seq, fidx, frameIdx, nid, ds, aged,
      |          list_transform(aged, t -> list_transform(ds, d -> $gsim)) AS simm
      |        FROM AGED_SRC
      |      )
      |      )""".stripMargin
    // Per-sequence recursion split — same DuckDB multi-row working
    // table dodge as trackOracle (see its stepCte comment): each
    // sequence recurses alone, and the union equals the kernel's
    // per-sequence-reset semantics (T6) exactly.
    def stepCte(name: String, seqPred: String): String =
      s"""$name(seq, fidx, frameIdx, tks, nid, emit) AS (
      |  SELECT seq, 0, -1,
      |    CAST([] AS STRUCT(tid INT, did INT, tsu INT,
      |                      lx DOUBLE, ly DOUBLE, lw DOUBLE, lh DOUBLE,
      |                      e1 DOUBLE, e2 DOUBLE,
      |                      px DOUBLE, vx DOUBLE,
      |                      xa DOUBLE, xb DOUBLE, xc DOUBLE, xd DOUBLE,
      |                      py DOUBLE, vy DOUBLE,
      |                      ya DOUBLE, yb DOUBLE, yc DOUBLE, yd DOUBLE,
      |                      kw DOUBLE, wp DOUBLE, kh DOUBLE, hp DOUBLE)[]),
      |    1,
      |    CAST([] AS STRUCT(tid INT, did INT, x DOUBLE, y DOUBLE, w DOUBLE, h DOUBLE)[])
      |  FROM (SELECT DISTINCT seq FROM din$seqPred)
      |  UNION ALL
      |  SELECT seq, fidx, frameIdx,
      |    list_concat(kept, created) AS tks,
      |    nid + len(created) AS nid,
      |    list_transform(
      |      list_filter(list_concat(kept, created), t -> t.tsu = 0),
      |      t -> {'tid': t.tid, 'did': t.did, 'x': t.lx, 'y': t.ly, 'w': t.lw, 'h': t.lh}) AS emit
      |  FROM (
      |    SELECT seq, fidx, frameIdx, nid, ds, mt,
      |      list_transform(
      |        list_transform(
      |          list_filter(
      |            list_transform(aged, (t, i) -> {'t': t,
      |              'mdj': list_min(list_transform(list_filter(mt, m -> m.ti = i), m -> m.dj))}),
      |            p -> p.mdj IS NOT NULL OR p.t.tsu <= ${cfg.maxAge}),
      |          p -> {'t': p.t, 'mdj': p.mdj,
      |            'k1x': p.t.xa * (1.0 / (p.t.xa + $r)),
      |            'k2x': p.t.xc * (1.0 / (p.t.xa + $r)),
      |            'rx': ds[p.mdj].x - p.t.px,
      |            'k1y': p.t.ya * (1.0 / (p.t.ya + $r)),
      |            'k2y': p.t.yc * (1.0 / (p.t.ya + $r)),
      |            'ry': ds[p.mdj].y - p.t.py,
      |            'kkw': p.t.wp * (1.0 / (p.t.wp + $r)),
      |            'rw': ds[p.mdj].w - p.t.kw,
      |            'kkh': p.t.hp * (1.0 / (p.t.hp + $r)),
      |            'rh': ds[p.mdj].h - p.t.kh}),
      |        p -> CASE WHEN p.mdj IS NOT NULL
      |          THEN {'tid': p.t.tid, 'did': ds[p.mdj].id, 'tsu': 0,
      |                'lx': ds[p.mdj].x, 'ly': ds[p.mdj].y,
      |                'lw': ds[p.mdj].w, 'lh': ds[p.mdj].h,
      |                'e1': ds[p.mdj].e1, 'e2': ds[p.mdj].e2,
      |                'px': p.t.px + p.k1x * p.rx, 'vx': p.t.vx + p.k2x * p.rx,
      |                'xa': ((1 - p.k1x) * p.t.xa) * (1 - p.k1x) + $r * (p.k1x * p.k1x),
      |                'xb': (((1 - p.k1x) * p.t.xa) * (0.0 - p.k2x) + (1 - p.k1x) * p.t.xb) + $r * (p.k1x * p.k2x),
      |                'xc': (((0.0 - p.k2x) * p.t.xa + p.t.xc) * (1 - p.k1x)) + $r * (p.k2x * p.k1x),
      |                'xd': ((((0.0 - p.k2x) * p.t.xa + p.t.xc) * (0.0 - p.k2x)) + ((0.0 - p.k2x) * p.t.xb + p.t.xd)) + $r * (p.k2x * p.k2x),
      |                'py': p.t.py + p.k1y * p.ry, 'vy': p.t.vy + p.k2y * p.ry,
      |                'ya': ((1 - p.k1y) * p.t.ya) * (1 - p.k1y) + $r * (p.k1y * p.k1y),
      |                'yb': (((1 - p.k1y) * p.t.ya) * (0.0 - p.k2y) + (1 - p.k1y) * p.t.yb) + $r * (p.k1y * p.k2y),
      |                'yc': (((0.0 - p.k2y) * p.t.ya + p.t.yc) * (1 - p.k1y)) + $r * (p.k2y * p.k1y),
      |                'yd': ((((0.0 - p.k2y) * p.t.ya + p.t.yc) * (0.0 - p.k2y)) + ((0.0 - p.k2y) * p.t.yb + p.t.yd)) + $r * (p.k2y * p.k2y),
      |                'kw': p.t.kw + p.kkw * p.rw,
      |                'wp': ((1 - p.kkw) * p.t.wp) * (1 - p.kkw) + $r * (p.kkw * p.kkw),
      |                'kh': p.t.kh + p.kkh * p.rh,
      |                'hp': ((1 - p.kkh) * p.t.hp) * (1 - p.kkh) + $r * (p.kkh * p.kkh)}
      |          ELSE p.t END) AS kept,
      |      list_transform(
      |        list_filter(
      |          list_transform(ds, (d, i) -> {'d': d, 'i': i}),
      |          p -> len(list_filter(mt, m -> m.dj = p.i)) = 0
      |            AND p.d.w * p.d.h >= ${D(cfg.minIcebergSize)}),
      |        (p, j) -> {'tid': nid + j - 1, 'did': p.d.id, 'tsu': 0,
      |              'lx': p.d.x, 'ly': p.d.y, 'lw': p.d.w, 'lh': p.d.h,
      |              'e1': p.d.e1, 'e2': p.d.e2,
      |              'px': p.d.x, 'vx': 0.0,
      |              'xa': 100.0, 'xb': 0.0, 'xc': 0.0, 'xd': 100.0,
      |              'py': p.d.y, 'vy': 0.0,
      |              'ya': 100.0, 'yb': 0.0, 'yc': 0.0, 'yd': 100.0,
      |              'kw': p.d.w, 'wp': 100.0,
      |              'kh': p.d.h, 'hp': 100.0}) AS created
      |    FROM (
${matchLayers.replace("AGED_SRC", agedSrc.replace("FROM step s", s"FROM $name s"))}
      |    )
      |  )
      |)"""
    s"""WITH RECURSIVE ${Derived.gtCtes},
      |din AS (
      |  SELECT g.seq, g.frameIdx, g.id, g.x, g.y, g.w, g.h,
      |         CAST(e.embedding[1] AS DOUBLE) AS e1,
      |         CAST(e.embedding[2] AS DOUBLE) AS e2
      |  FROM gt g JOIN embeddings e ON e.vec_id = (g.id * 7 + g.frameIdx) % 500$dinWhere
      |),
      |fr2 AS MATERIALIZED (
      |  SELECT seq, frameIdx, ds,
      |    CAST(row_number() OVER (PARTITION BY seq ORDER BY frameIdx) AS INT) AS fidx
      |  FROM (
      |    SELECT seq, frameIdx,
      |      list({'id': id, 'x': x, 'y': y, 'w': w, 'h': h, 'e1': e1, 'e2': e2} ORDER BY id) AS ds
      |    FROM din GROUP BY seq, frameIdx)
      |),
      |${stepCte("step_s0", " WHERE seq = 's0'")},
      |${stepCte("step_s1", " WHERE seq = 's1'")}
      |SELECT seq, frameIdx AS frame, u.tid AS trackId, u.did AS detId,
      |       u.x AS x, u.y AS y, u.w AS w, u.h AS h
      |FROM (SELECT seq, frameIdx, unnest(emit) AS u FROM (SELECT * FROM step_s0 UNION ALL SELECT * FROM step_s1) WHERE fidx > 0)""".stripMargin
  }

  /** BASELINE.md anchor derivation ("1000 frames × 50 objects" ≈ 50k gt
    * rows from lineitem). SHARED TEXT: Spark runs it via spark.sql
    * (nested subqueries — see Derived for why not WITH) and the oracle
    * embeds the same text as gt/tracks CTEs.
    *
    * The shared deduped anchor base (one lineitem scan + one dedup
    * window), keeping the jitter key columns so BOTH gt and tracks
    * derive from it — gt is a plain projection, tracks adds the jitter
    * offsets and drops every 9th row. Spark caches ONE materialization
    * of this; the oracle embeds the same text under both CTEs.
    */
  def anchorBaseSql(frames: Int = 1000): String =
    s"""SELECT seq, frameIdx, id, x, y, w, h, l_orderkey, l_suppkey
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY frameIdx, id ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
       |  FROM (
       |    SELECT 'anchor' AS seq,
       |      CAST(l_orderkey % $frames AS INT) AS frameIdx,
       |      CAST(l_partkey % 50 AS INT) AS id,
       |      CAST((l_partkey * 37) % 1600 AS DOUBLE) AS x,
       |      CAST((l_suppkey * 53) % 1600 AS DOUBLE) AS y,
       |      CAST(20 + (l_partkey % 40) AS DOUBLE) AS w,
       |      CAST(20 + (l_suppkey % 40) AS DOUBLE) AS h,
       |      l_orderkey, l_linenumber, l_partkey, l_suppkey
       |    FROM lineitem) raw) t
       |WHERE rn = 1""".stripMargin

  def anchorSql(jitter: Boolean, frames: Int = 1000): String =
    s"""SELECT seq, frameIdx, id,
       |  x${if (jitter) " + CAST(l_orderkey % 7 AS DOUBLE) - 3.0" else ""} AS x,
       |  y${if (jitter) " + CAST(l_suppkey % 7 AS DOUBLE) - 3.0" else ""} AS y, w, h
       |FROM (
       |${anchorBaseSql(frames)}
       |) base${if (jitter) "\nWHERE (l_orderkey + l_suppkey) % 9 <> 0" else ""}""".stripMargin

  /** m11's anchor base as a persisted on-disk artifact — the same
    * posture as the Derived stores: the anchor gt/tracks stand in for
    * the engine's input files (the reference READS its gt/track data
    * from disk, then computes metrics — the 10–15 s estimate covers
    * the metrics pipeline, not a synthetic-data derivation), so the
    * deterministic derivation is written once per source-data
    * generation and FileScanned thereafter. Keyed by lineitem's
    * (length, mtime).
    *
    * One artifact KIND per frame count (the Derived store rule):
    * frame counts are coexisting datasets, not params versions, so they
    * must not be `sub` values, whose sibling GC would let `Anchor
    * sweep`'s f10000 build delete m11's f1000 store.
    */
  private[graft] def anchorStore(frames: Int): Artifact =
    Artifact(s"anchor_f$frames")(s"graft_anchor_f$frames",
        Seq("lineitem.parquet")) { (s, d, dir) =>
      graft.sources.ArtifactStore.retire(s, "graft_anchor_artifact")
      graft.Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(anchorBaseSql(frames)).write.mode("overwrite").parquet(dir)
    }

  /** The m11 anchor pipeline (shared with `graft.Anchor`'s scaling
    * sweep): CLEAR/Identity metrics over the anchor derivation at any
    * frame count — 1000 frames ≈ 50k gt rows (the BASELINE.md shape),
    * 10000 frames ≈ 349k at sf0.1 (the 10× scaling point). One sequence,
    * so the metrics kernel runs it as a single task.
    */
  def anchorMetrics(s: org.apache.spark.sql.SparkSession, d: String,
                    frames: Int = 1000): org.apache.spark.sql.DataFrame = {
    // ONE cached artifact read (anchorBaseSql persisted once per data
    // generation — see anchorStore) feeds both sides: gt/tracks as
    // separate spark.sql(anchorSql(..)) each cached their own copy,
    // paying the 600k-row scan + dedup window TWICE on every first
    // touch (the bench isolation reset makes every bench run a first
    // touch). The jitter projection and %9 drop are exact integer
    // arithmetic on DOUBLE columns, so results are bit-identical to the
    // oracle's standalone gt/tracks derivations.
    val base = s.read.parquet(anchorStore(frames).resolve(s, d)).cache()
    val gt = base.select(col("seq"), col("frameIdx"), col("id"),
      col("x"), col("y"), col("w"), col("h"))
    val tracks = base
      .filter((col("l_orderkey") + col("l_suppkey")) % 9 =!= 0)
      .select(col("seq"), col("frameIdx"), col("id"),
        (col("x") + (col("l_orderkey") % 7).cast("double") - 3.0).as("x"),
        (col("y") + (col("l_suppkey") % 7).cast("double") - 3.0).as("y"),
        col("w"), col("h"))
    val m = graft.operators.MotEval.metrics(gt, tracks, 0.3)
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
  }

  // k10's late-replay predicate — ONE string shared between the input
  // builder (assigns the stale event time) and the oracle's din filter
  // (excludes the rows the watermark must drop), so the two sides can
  // never disagree about WHICH rows are late. Unqualified column names
  // are unambiguous in both contexts (embeddings has no seq/frameIdx).
  private val K10LatePred = "seq = 's0' AND frameIdx BETWEEN 60 AND 69"
  private val K10BaseMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** k10's input as three single-file parquet micro-batches, persisted
    * like the derived tables they are cut from: a pure function of the
    * source data, written once per data generation (from the gt_emb
    * artifact, read by path) under one store directory. The stream
    * clock advances ~17 min per batch (et = base + batch·1e6 ms +
    * frameIdx·1e3 ms) so event time is monotone with ARRIVAL — a
    * frame-only clock would let one sequence's later batches drag the
    * watermark past the other's still-queued on-time frames and turn
    * the drop set timing-dependent.
    * Layout:
    *
    *   batch 0: both seqs, frames 0–59 (on time)
    *   batch 1: both seqs, frames 70–89 (on time) + s0 frames 60–69
    *            replayed LATE (et = base − 100 s; the wm by then is
    *            maxEt(batch 0) − delay = base + 56 s, a 156 s margin
    *            clear of any >=/> boundary). lastFrame(s0) = 59 < 60,
    *            so the watermark — not the per-sequence lastFrame
    *            guard — is the only rule that can drop them.
    *   batch 2: both seqs, frames 90–119 (on time)
    *
    * BOTH sequences carry on-time rows in EVERY batch: Spark pre-filters
    * late rows before flatMapGroupsWithState, so a batch where a
    * sequence has only late rows makes it dataless — and a dataless
    * group whose EventTimeTimeout (armed at lastEt + delay + 1 ms) has
    * fallen behind the watermark is EVICTED and restarts its track ids
    * (observed, not hypothetical). With data in every batch each
    * sequence re-arms before the watermark can reach it; eviction
    * itself is covered by StreamingParitySpec. Files carry explicit
    * 60 s-apart modTimes — FileStreamSource processes oldest-first, so
    * batch order is deterministic.
    */
  val K10BatchStore: Artifact = Artifact("k10_batches")("graft_k10_batches",
      Seq("lineitem.parquet", "embeddings.parquet")) { (s, d, dir) =>
    writeTimedBatches(s, Derived.GtEmbStore.resolve(s, d), dir)
  }

  private def writeTimedBatches(s: org.apache.spark.sql.SparkSession,
                                gtEmb: String, dir: String): Unit = {
    val timed = s.read.parquet(gtEmb).selectExpr(
        "seq", "frameIdx", "id", "x", "y", "w", "h",
        "slice(emb, 1, 2) AS emb",
        """CASE WHEN frameIdx < 60 THEN 0
          |  WHEN frameIdx < 90 THEN 1
          |  ELSE 2 END AS batch""".stripMargin)
      .selectExpr(
        "seq",
        "format_string('%06d', frameIdx) AS frame",
        "id", "x", "y", "w", "h",
        "CAST(1.0 AS DOUBLE) AS conf",
        "emb",
        s"""CASE WHEN $K10LatePred THEN timestamp_millis($K10BaseMs - 100000)
           |  ELSE timestamp_millis($K10BaseMs + batch * 1000000 + frameIdx * 1000)
           |  END AS et""".stripMargin,
        "batch")
    (0 to 2).foreach { b =>
      timed.filter(col("batch") === b).drop("batch")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=$b")
    }
    val t0 = System.currentTimeMillis()
    (0 to 2).foreach { b =>
      new java.io.File(s"$dir/batch=$b").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          // fail loudly: a silently-ignored mtime leaves batch order to
          // near-tied write times, and the oracle premise is the order.
          // In the past, so no file is newer than the store's _SUCCESS.
          require(f.setLastModified(t0 - (2 - b) * 60000L),
            s"could not set batch mtime on $f")
        }
    }
  }

  // ONE config instance per tracker query, shared between the Spark
  // run and its oracle text so constants can never drift apart.
  private val k03Cfg = TrackerConfig()
  // Spatial index RESTORED for the greedy config (the reference's
  // primary path, src/tracking.py:442-554 + 1037-1133): the DuckDB
  // nondeterministic-evaluation bug that forced index-off in round 7
  // turned out to be a MULTI-ROW recursive-working-table defect, dodged
  // for good by the per-sequence recursion split (see trackOracle's
  // stepCte comment; round-11 sweeps: gated greedy 30/30 at sf0.1).
  private val k04Cfg = TrackerConfig(bidirectional = false)
  private val k08Cfg = TrackerConfig(useKalman = false, useSpatialIndex = false,
    minTrackLength = 2)
  private val k09Cfg = TrackerConfig(useKalman = false, useSpatialIndex = false,
    bidirectional = false, minTrackLength = 2)
  // Greedy WITH the spatial-index radius gate (useSpatialIndex = true
  // default): without Kalman the radius is constant, and the gate
  // replays as a NULL'd sort key inside the greedy fold — the
  // combination (greedy matcher + radius gate) that k04's Kalman
  // oracle cannot cover (DuckDB nondeterministic-evaluation bug, see
  // PLANS.md; this simpler gated fold is sweep-verified stable).
  private val k11Cfg = TrackerConfig(useKalman = false,
    bidirectional = false, minTrackLength = 2)

  val defs: Seq[Q] = Seq(

    // O5 — greedy NMS kernel per (seq, frame), kept rows oracle-checked
    // against the recursive-CTE replay of the same greedy scan.
    Q("k01_nms", Seq(Derived.DetsStore),
      (s, d) => {
        Nms.nms(detBoxes(s, d), iouThreshold = 0.5).toDF()
          .select(col("seq"), col("frame").cast("int").as("frame"),
            col("id"), col("score"))
      }, Some(nmsOracle)),

    // O6 — nested-detection removal kernel (containment + confidence
    // precedence matrix + eviction), kept rows oracle-checked.
    Q("k02_nested_removal", Seq(Derived.DetsStore),
      (s, d) => {
        Nms.removeNested(detBoxes(s, d), nmsThreshold = 0.5).toDF()
          .select(col("seq"), col("frame").cast("int").as("frame"),
            col("id"), col("score"))
      }, Some(nestedOracle)),

    // T1–T6 — the FULL default tracker (Kalman + spatial index +
    // bidirectional matching + lifecycle), fully oracle-checked: the
    // Kalman recursive-CTE replay above reproduces every emitted row.
    Q("k03_track", Seq(Derived.GtEmbStore),
      (s, d) => trackRows(Tracker.track(trackerInput(s, d), k03Cfg)),
      Some(kalmanTrackOracle(greedy = false, k03Cfg))),

    // J4 — same full tracker under pure-greedy global matching, also
    // fully oracle-checked (Kalman replay + sorted-pair greedy fold).
    Q("k04_track_greedy", Seq(Derived.GtEmbStore),
      (s, d) => trackRows(Tracker.track(trackerInput(s, d), k04Cfg)),
      Some(kalmanTrackOracle(greedy = true, k04Cfg))),

    // T1/T4/T5/J3/F7/F8 — no-Kalman tracker, FULLY oracle-checked: the
    // recursive-CTE replay above reproduces every emitted row (frame
    // step, mutual-best matching, lifecycle, matched-only emission,
    // min-length filter). The embedding is sliced to 2 dims so the
    // appearance cosine is exact shared-text arithmetic on both sides.
    Q("k08_track_nokalman", Seq(Derived.GtEmbStore),
      (s, d) => trackRows(Tracker.track(trackerInput(s, d), k08Cfg)),
      Some(trackOracle(greedy = false, k08Cfg))),

    // J4/T1/T4/T5/F7/F8 — the GLOBAL-GREEDY matcher (bidirectional=
    // false), fully oracle-checked like k08: same recursive replay,
    // with the per-frame matcher swapped for the sorted-pair greedy
    // fold. Together k08+k09 oracle both matching policies; only the
    // Kalman-state variants (k03/k04/k05) remain rows-only (covered by
    // ScalaTest goldens + tools/tracker_oracle.py instead).
    Q("k09_track_greedy_nokalman", Seq(Derived.GtEmbStore),
      (s, d) => trackRows(Tracker.track(trackerInput(s, d), k09Cfg)),
      Some(trackOracle(greedy = true, k09Cfg))),

    // J4 + E12/F7 — greedy matching WITH the spatial-index radius gate
    // (reference src/tracking.py:1037-1133 + 442-554): the candidate
    // set per track is distance-bounded before the global greedy fold.
    // Restores driver-oracle coverage for the gate+greedy combination
    // k04 had to drop (its Kalman-gated oracle trips a DuckDB
    // nondeterministic-evaluation bug; this constant-radius fold is
    // stable — see PLANS.md).
    Q("k11_track_greedy_gated", Seq(Derived.GtEmbStore),
      (s, d) => trackRows(Tracker.track(trackerInput(s, d), k11Cfg)),
      Some(trackOracle(greedy = true, k11Cfg))),

    // M1 — multi-scale tile merge: per-tile detections in tile-local
    // scaled coords (derived from the dets table: each det assigned a
    // scale + tile origin, with a duplicate copy from a shifted
    // neighboring tile for every 5th det — the overlapping-tile
    // duplicates a real sliding-window detector produces) →
    // mergeTileDetections translates to image coords and runs the
    // cross-tile NMS + nested-removal chain. Oracle = shared-text
    // derivation + both kernel replays chained in one recursive query.
    Q("f04_tile_merge", Seq(Derived.DetsStore),
      (s, d) => {
        val base = Derived.table(s, d, "dets").selectExpr(
          "concat(seq, ':', CAST(frame AS STRING)) AS img",
          "id", "score",
          "CASE WHEN id % 2 = 0 THEN 0.5 ELSE 1.0 END AS scale",
          "CAST((id % 3) * 200 AS DOUBLE) AS tile_x",
          "CAST((id % 4) * 150 AS DOUBLE) AS tile_y",
          "x1", "y1", "x2", "y2")
        val leg1 = base.selectExpr("img", "id", "score", "scale", "tile_x", "tile_y",
          "x1 * scale - tile_x AS lx1", "y1 * scale - tile_y AS ly1",
          "x2 * scale - tile_x AS lx2", "y2 * scale - tile_y AS ly2")
        val leg2 = base.filter("id % 5 = 0").selectExpr("img",
          "-id AS id", "score * 0.9 AS score", "scale",
          "tile_x + 37.0 AS tile_x", "tile_y + 23.0 AS tile_y",
          "x1 * scale - (tile_x + 37.0) AS lx1", "y1 * scale - (tile_y + 23.0) AS ly1",
          "x2 * scale - (tile_x + 37.0) AS lx2", "y2 * scale - (tile_y + 23.0) AS ly2")
        graft.operators.Tiling.mergeTileDetections(leg1.unionAll(leg2), nmsThreshold = 0.5)
          .toDF()
          .select(col("seq").as("img"), col("id"), col("score"),
            col("x1"), col("y1"), col("x2"), col("y2"))
      }, Some(tileMergeOracle)),

    // M7/T7 — streaming host (flatMapGroupsWithState) over the batch
    // source, checked against the SAME Kalman oracle as k03: in batch
    // execution the host sees each sequence once with empty prior state
    // and replays the identical per-frame step in the identical
    // (frame, id) order, so row-for-row equality with the batch tracker
    // is a REAL end-to-end check of the streaming code path (not just
    // the ScalaTest parity suite).
    Q("k05_track_streaming", Seq(Derived.GtEmbStore),
      (s, d) => trackRows(StreamingTracker.track(trackerInput(s, d), k03Cfg)),
      Some(kalmanTrackOracle(greedy = false, k03Cfg))),

    // T7 — the WATERMARKED streaming tracker (trackTimed: real event-time
    // watermark + EventTimeTimeout eviction), driver-proven end-to-end:
    // the input arrives as three single-file micro-batches with s0's
    // frames 60–69 REPLAYED LATE (their event time sits ~156 s behind
    // the watermark by the batch that carries them, far from any >=/>
    // boundary), so the watermark — not the per-sequence lastFrame
    // guard (59 < 60) — is the only rule that can drop them. Oracle =
    // the SAME Kalman recursive-CTE replay as k03 over the input MINUS
    // exactly that deterministic late set; a single surviving late row,
    // a lost snapshot field across batches, or a mistimed state
    // eviction all break the hash. This also makes the
    // snapshotCore/restoreCore round-trip oracle-checked (k05's batch
    // host sees each sequence once, so it never restores mid-stream).
    Q("k10_track_timed", Seq(K10BatchStore),
      (s, d) => ExtQ.withStreamShuffle(s) {
        import s.implicits._
        val tracked = StreamingTracker.trackTimed(
            s.readStream.schema(org.apache.spark.sql.Encoders.product[TimedTrackerIn].schema)
              .option("maxFilesPerTrigger", "1").parquet(K10BatchStore.resolve(s, d))
              .as[TimedTrackerIn],
            k03Cfg)
        trackRows(graft.streaming.Drain.toSink(tracked.toDF(), "graft_drain_k10", d,
          K10BatchStore.sources)(identity).as[graft.operators.SeqTrackOut])
      },
      Some(kalmanTrackOracle(greedy = false, k03Cfg,
        dinWhere = s"\n      |  WHERE NOT ($K10LatePred)".stripMargin))),

    // BASELINE.md domain anchor: CLEAR/Identity metrics over the
    // reference's "typical dataset" shape — 1000 frames × ~50 objects
    // (≈50k gt rows). The reference docstring estimates 10–15 s
    // (src/utils/eval.py:685-689); bench records ours. Oracle = the full
    // m02 metric CTE chain over the SAME anchor derivation text.
    Q("m11_eval_anchor", Seq(anchorStore(1000)),
      (s, d) => anchorMetrics(s, d),
      Some(s"""WITH gt AS (
        |${anchorSql(jitter = false)}
        |),
        |tracks AS (
        |${anchorSql(jitter = true)}
        |),
        |${MotQ.metricsBody}
        |${MotQ.metricsSelect(rounded = true)}""".stripMargin)),

    // M8 — multimodal featurize: binary payloads (document text bytes as
    // stand-in media) through the batched stub decoder. The stub's
    // byte-fold is deterministic, so the first feature component is
    // oracle-checked end-to-end: b0 = (first_byte * 31) % 256 (all docs
    // start with an ASCII byte, so DuckDB's ascii() sees the same value).
    Q("k06_multimodal",
      (s, d) => {
        val media = graft.Tables.documents(s, d).select(
          concat(lit("doc://"), col("doc_id")).as("path"),
          lit("image").as("modality"),
          col("text").cast("binary").as("content"))
        Multimodal.featurize(media, dim = 16, batchSize = 32).toDF()
          .select(col("path"), col("modality"),
            round(element_at(col("feature"), 1) * 255).cast("long").as("b0"),
            size(col("feature")).cast("long").as("dim"))
      },
      Some("""SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS path,
        |  'image' AS modality,
        |  CAST((ascii(text) * 31) % 256 AS BIGINT) AS b0,
        |  CAST(16 AS BIGINT) AS dim
        |FROM documents""".stripMargin)),

    // M8 — video frame sampling: every stride-th byte offset stands in
    // for a decoded frame (deterministic stub, Multimodal.sampleFrames).
    // The per-frame byte offset f·max(1, len/nFrames) is replayed in
    // SQL (documents are pure ASCII, so byte offset == char offset);
    // out-of-range offsets produce the stub's all-zero feature.
    Q("k07_frame_sample",
      (s, d) => {
        val media = graft.Tables.documents(s, d).select(
          concat(lit("doc://"), col("doc_id")).as("path"),
          col("text").cast("binary").as("content"))
        Multimodal.sampleFrames(media, nFrames = 4, dim = 8).toDF()
          .select(col("path"), col("frameIdx").cast("long").as("frameIdx"),
            round(element_at(col("feature"), 1) * 255).cast("long").as("b0"),
            size(col("feature")).cast("long").as("dim"))
      },
      Some("""SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS path,
        |  f.f AS frameIdx,
        |  CASE WHEN f.f * greatest(1, length(text) // 4) + 1 > length(text) THEN 0
        |    ELSE CAST((ascii(substr(text, CAST(f.f * greatest(1, length(text) // 4) + 1 AS INT), 1)) * 31) % 256 AS BIGINT) END AS b0,
        |  CAST(8 AS BIGINT) AS dim
        |FROM documents, range(4) f(f)""".stripMargin))
  )
}
