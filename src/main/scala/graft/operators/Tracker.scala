package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.mot.{Bbox, Kalman, KalmanState}

/** Multi-object tracker (SURVEY §2.8 T1–T6, §2.3 J1–J4).
  *
  * The per-frame step is inherently sequential — keyed mutable state
  * evolving over an ordered frame stream (reference `_track_frame`,
  * src/tracking.py:764-854) — so it runs as a per-sequence kernel under
  * `groupByKey(sequence).flatMapGroups`. Parallelism unit = sequence,
  * exactly the reference's state boundary (state reset per sequence,
  * src/tracking.py:687-690): on a 1000-executor cluster each sequence
  * tracks independently, and everything upstream (reading detections,
  * joining embeddings) and downstream (length filter, writes) stays a
  * fully parallel Catalyst plan.
  *
  * Embeddings are JOINED ONTO DETECTIONS before grouping rather than
  * broadcast as a global map (the reference loads the whole store in
  * memory, src/tracking.py:695 — unworkable at 100 TB). Track-side
  * embeddings are carried in per-track state (all the reference reads is
  * the last matched detection's embedding, src/tracking.py:983).
  */
final case class TrackerConfig(
    thresholdAppearance: Double = 0.4764, // cfgs/track.yaml:12-16
    thresholdDistance: Double = 99.18,
    thresholdSize: Double = 0.3143,
    tolerance: Double = 0.3,              // cfgs/track.yaml:17
    wAppearance: Double = 0.2,            // cfgs/track.yaml:22-25
    wEuclidean: Double = 0.2,
    wKalman: Double = 0.5,
    wSize: Double = 0.1,
    maxAge: Int = 3,                      // strict > on deletion
    minTrackLength: Int = 1,
    minIcebergSize: Double = 0.0,
    useKalman: Boolean = true,
    bidirectional: Boolean = true,
    useSpatialIndex: Boolean = true,
    cellSize: Double = 100.0,
    processNoise: Double = 10.0,
    measurementNoise: Double = 18.0
)

/** One input detection row: sequence + frame + per-frame det id + bbox +
  * conf + (nullable) appearance embedding.
  */
final case class TrackerIn(
    seq: String,
    frame: String,
    id: Int,
    x: Double, y: Double, w: Double, h: Double,
    conf: Double,
    emb: Array[Float]
)

final case class SeqTrackOut(
    seq: String, frame: String, trackId: Int,
    x: Double, y: Double, w: Double, h: Double, conf: Double, detId: Int
)

/** The streaming host's per-sequence `GroupState`: the last frame
  * stepped, the next track id and the live tracks (bounded: no history
  * list — SURVEY §7.3 item 6), the tracks as one binary value that
  * `Tracker.snapshotCore` writes and `Tracker.restoreCore` reads. Not an
  * array of structs: that decodes through `MapObjects`, whose lambda
  * variables are new in every micro-batch, so each trigger compiled the
  * state's projection again instead of hitting the codegen cache. A
  * checkpoint written with the array-of-struct state fails Spark's
  * state schema check on restart.
  */
final case class SeqState(
    lastFrame: String,
    nextTrackId: Int,
    tracks: Array[Byte])

object SeqState {
  /** A sequence's state before its first frame. */
  val Initial: SeqState = SeqState("", 1, Array.emptyByteArray)
}

object Tracker {

  /** Mutable per-track kernel state (reference IcebergTrack,
    * src/tracking.py:158-435).
    */
  private final class Trk(
      val trackId: Int,
      var kf: KalmanState,
      var predicted: Bbox,
      var lastBbox: Bbox,
      var lastConf: Double,
      var lastDetId: Int,
      var emb: Array[Float],
      var hits: Int,
      var age: Int,
      var timeSinceUpdate: Int
  )

  /** E3 — cosine similarity rescaled to [0,1]
    * (get_appearance_similarity, reference
    * src/utils/feature_extraction.py:255-297). Double accumulation over
    * float inputs; parity with torch float32 within 1e-6 (SURVEY §7.3).
    */
  def appearanceSim(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.5
    else (dot / (math.sqrt(na) * math.sqrt(nb)) + 1.0) / 2.0
  }

  private def centerDist(a: Bbox, b: Bbox): Double = {
    val dx = (a.x + a.w / 2) - (b.x + b.w / 2)
    val dy = (a.y + a.h / 2) - (b.y + b.h / 2)
    math.sqrt(dx * dx + dy * dy)
  }

  private def sizeSim(a: Bbox, b: Bbox): Double = {
    val a1 = a.w * a.h; val a2 = b.w * b.h
    if (a1 == 0.0 || a2 == 0.0) 0.0 else math.min(a1, a2) / math.max(a1, a2)
  }

  // E5 — unclamped (reference src/utils/feature_extraction.py:362-378)
  private def minMaxNorm(v: Double, lo: Double, hi: Double): Double =
    if (hi == lo) 0.0 else (v - lo) / (hi - lo)

  /** J2/F7 — guarded similarity cascade (reference `_compute_similarity`,
    * src/tracking.py:857-927): size gate → appearance gate → distance
    * features → normalize (unclamped) → weighted fusion. Returns NaN when
    * filtered out (the reference returns None).
    */
  private def similarity(cfg: TrackerConfig, t: Trk, d: TrackerIn): Double = {
    val db = Bbox(d.x, d.y, d.w, d.h)
    val sizeS = sizeSim(t.lastBbox, db)
    if (sizeS < cfg.thresholdSize * (1 - cfg.tolerance)) return Double.NaN
    if (t.emb == null || d.emb == null) return Double.NaN
    val appS = appearanceSim(t.emb, d.emb)
    if (appS < cfg.thresholdAppearance * (1 - cfg.tolerance)) return Double.NaN
    val distEucl = centerDist(t.lastBbox, db)
    val distKalman = centerDist(t.predicted, db)
    val kalmanNorm = 1 - minMaxNorm(distKalman, 0, cfg.thresholdDistance)
    val euclNorm = 1 - minMaxNorm(distEucl, 0, cfg.thresholdDistance)
    val sizeNorm = minMaxNorm(sizeS, cfg.thresholdSize, 1.0)
    val appNorm = minMaxNorm(appS, cfg.thresholdAppearance, 1.0)
    (appNorm * cfg.wAppearance + euclNorm * cfg.wEuclidean +
      kalmanNorm * cfg.wKalman + sizeNorm * cfg.wSize) /
      (cfg.wAppearance + cfg.wEuclidean + cfg.wKalman + cfg.wSize)
  }

  /** J1 — grid spatial index: candidates within `radius` of a center.
    * Grid + exact-distance post-filter ≡ exact radius query (reference
    * SpatialIndex, src/tracking.py:442-554), so the grid is purely the
    * O(cells) pruning the reference's docstring claims (~80×).
    */
  private def radiusQuery(
      grid: mutable.HashMap[(Long, Long), mutable.ArrayBuffer[TrackerIn]],
      cellSize: Double, cx: Double, cy: Double, radius: Double): Iterator[TrackerIn] = {
    val rCells = math.ceil(radius / cellSize).toLong
    val ccx = math.floor(cx / cellSize).toLong
    val ccy = math.floor(cy / cellSize).toLong
    val out = mutable.ArrayBuffer.empty[TrackerIn]
    var dx = -rCells
    while (dx <= rCells) {
      var dy = -rCells
      while (dy <= rCells) {
        grid.get((ccx + dx, ccy + dy)).foreach { cell =>
          cell.foreach { d =>
            val dcx = d.x + d.w / 2; val dcy = d.y + d.h / 2
            val dist = math.sqrt((dcx - cx) * (dcx - cx) + (dcy - cy) * (dcy - cy))
            if (dist <= radius) out += d
          }
        }
        dy += 1
      }
      dx += 1
    }
    // Candidates in det-id order, not grid-cell order: the reference's
    // own candidate order is python-dict incidental, so on EXACT
    // similarity ties (measure-zero but possible with duplicated
    // boxes) id order is the deterministic choice — and it makes the
    // kernel's first-wins/stable-sort tie behavior line up with the
    // ds-ordered recursive-CTE oracles under every config.
    out.sortInPlaceBy(_.id)
    out.iterator
  }

  /** Holds the evolving per-sequence state; one instance per sequence
    * group. Reused verbatim by the streaming host (SURVEY §2.8 T1).
    */
  final class Core(cfg: TrackerConfig) {
    private val tracks = mutable.ArrayBuffer.empty[Trk]
    private var nextTrackId = 1

    // SeqState.tracks: a track count, then per track its id, Kalman x
    // and P (length -1 when the track has no filter), predicted and
    // last box, last conf and det id, embedding (length -1 when null),
    // hits, age and timeSinceUpdate; doubles as raw bits, so a restore
    // is exact
    private[operators] def restore(s: SeqState): Unit = {
      tracks.clear()
      if (s.tracks.nonEmpty) {
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(s.tracks))
        def doubles(): Array[Double] = in.readInt() match {
          case -1 => null
          case n => Array.fill(n)(in.readDouble())
        }
        def box(): Bbox = Bbox(in.readDouble(), in.readDouble(), in.readDouble(), in.readDouble())
        (0 until in.readInt()).foreach { _ =>
          val id = in.readInt()
          val kfX = doubles()
          val kfP = doubles()
          val predicted = box()
          val last = box()
          val conf = in.readDouble()
          val detId = in.readInt()
          val emb = in.readInt() match {
            case -1 => null
            case n => Array.fill(n)(in.readFloat())
          }
          tracks += new Trk(id, if (kfX != null) KalmanState(kfX, kfP) else null,
            predicted, last, conf, detId, emb, in.readInt(), in.readInt(), in.readInt())
        }
      }
      nextTrackId = s.nextTrackId
    }

    private[operators] def snapshot(lastFrame: String): SeqState = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bytes)
      def doubles(a: Array[Double]): Unit =
        if (a == null) out.writeInt(-1) else { out.writeInt(a.length); a.foreach(out.writeDouble) }
      def box(b: Bbox): Unit = Seq(b.x, b.y, b.w, b.h).foreach(out.writeDouble)
      out.writeInt(tracks.size)
      tracks.foreach { t =>
        out.writeInt(t.trackId)
        doubles(if (t.kf != null) t.kf.x else null)
        doubles(if (t.kf != null) t.kf.p else null)
        box(t.predicted)
        box(t.lastBbox)
        out.writeDouble(t.lastConf)
        out.writeInt(t.lastDetId)
        if (t.emb == null) out.writeInt(-1)
        else { out.writeInt(t.emb.length); t.emb.foreach(out.writeFloat(_)) }
        Seq(t.hits, t.age, t.timeSinceUpdate).foreach(out.writeInt)
      }
      out.flush()
      SeqState(lastFrame, nextTrackId, bytes.toByteArray)
    }

    /** One frame step (reference `_track_frame`, src/tracking.py:764-854):
      * predict → index → match → update → delete → create → emit.
      */
    def step(frame: String, dets: Seq[TrackerIn]): Seq[SeqTrackOut] = {
      // 1. predict (ages tracks: age++, timeSinceUpdate++)
      tracks.foreach { t =>
        if (cfg.useKalman) {
          t.kf = Kalman.predict(t.kf, cfg.processNoise)
          t.predicted = Kalman.stateBbox(t.kf)
        } else t.predicted = t.lastBbox
        t.age += 1
        t.timeSinceUpdate += 1
      }
      // 2. spatial index over this frame's detections
      val grid = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuffer[TrackerIn]]
      if (cfg.useSpatialIndex) dets.foreach { d =>
        val key = (math.floor((d.x + d.w / 2) / cfg.cellSize).toLong,
          math.floor((d.y + d.h / 2) / cfg.cellSize).toLong)
        grid.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += d
      }

      def candidatesFor(t: Trk): Iterator[TrackerIn] = {
        val radius =
          if (cfg.useKalman)
            math.max(Kalman.uncertainty(t.kf), cfg.thresholdDistance * (1 + cfg.tolerance))
          else cfg.thresholdDistance * (1 + cfg.tolerance)
        if (cfg.useSpatialIndex)
          radiusQuery(grid, cfg.cellSize,
            t.predicted.x + t.predicted.w / 2, t.predicted.y + t.predicted.h / 2, radius)
        else dets.iterator // reference fallback has no distance filter (src/tracking.py:973-975)
      }

      // 3. match
      val (matches, matchedTracks, matchedDets) =
        if (cfg.bidirectional) matchBidirectional(candidatesFor)
        else matchGreedy(candidatesFor)

      // 4. update matched (Kalman correction, reset counters)
      matches.foreach { case (t, d) =>
        if (cfg.useKalman) t.kf = Kalman.update(t.kf, Array(d.x, d.y, d.w, d.h), cfg.measurementNoise)
        t.lastBbox = Bbox(d.x, d.y, d.w, d.h)
        t.lastConf = d.conf
        t.lastDetId = d.id
        t.emb = d.emb
        t.hits += 1
        t.timeSinceUpdate = 0
      }
      // 5. delete aged-out: strictly > maxAge, after predict-increment
      // (reference src/tracking.py:816-823)
      val dead = tracks.filter(t => !matchedTracks.contains(t.trackId) && t.timeSinceUpdate > cfg.maxAge)
      dead.foreach(t => tracks -= t)
      // 6. create new tracks from unmatched detections ≥ min size (F3)
      dets.foreach { d =>
        if (!matchedDets.contains(d.id) && d.w * d.h >= cfg.minIcebergSize) {
          val b = Bbox(d.x, d.y, d.w, d.h)
          tracks += new Trk(nextTrackId,
            if (cfg.useKalman) Kalman.init(b) else null,
            b, b, d.conf, d.id, d.emb, 1, 1, 0)
          nextTrackId += 1
        }
      }
      // 7. emit matched-only (timeSinceUpdate == 0, reference src/tracking.py:841-853)
      tracks.iterator.filter(_.timeSinceUpdate == 0).map { t =>
        SeqTrackOut("", frame, t.trackId,
          t.lastBbox.x, t.lastBbox.y, t.lastBbox.w, t.lastBbox.h, t.lastConf, t.lastDetId)
      }.toSeq
    }

    /** J3 — mutual-best match. Det-side "best" is computed only among
      * track-best pairs (reference src/tracking.py:1002-1011), NOT all
      * candidates — the restricted-rank subtlety (SURVEY §7.3 item 3).
      */
    private def matchBidirectional(candidatesFor: Trk => Iterator[TrackerIn])
        : (Seq[(Trk, TrackerIn)], Set[Int], Set[Int]) = {
      val trackBest = mutable.LinkedHashMap.empty[Trk, (TrackerIn, Double)]
      val detBest = mutable.HashMap.empty[Int, (Trk, Double)]
      tracks.foreach { t =>
        var bestDet: TrackerIn = null
        var bestSim = 0.0 // strict >, so sim must exceed 0 (reference init)
        candidatesFor(t).foreach { d =>
          val sim = similarity(cfg, t, d)
          if (!sim.isNaN && sim > bestSim) { bestSim = sim; bestDet = d }
        }
        if (bestDet != null) {
          trackBest(t) = (bestDet, bestSim)
          val cur = detBest.get(bestDet.id)
          if (cur.isEmpty || bestSim > cur.get._2) detBest(bestDet.id) = (t, bestSim)
        }
      }
      val out = mutable.ArrayBuffer.empty[(Trk, TrackerIn)]
      trackBest.foreach { case (t, (d, _)) =>
        if (detBest.get(d.id).exists(_._1 eq t)) out += ((t, d))
      }
      (out.toSeq, out.map(_._1.trackId).toSet, out.map(_._2.id).toSet)
    }

    /** J4 — global greedy: all candidate pairs sorted by similarity desc,
      * assigned one-to-one (reference src/tracking.py:1037-1133).
      *
      * Exact-similarity ties break by (trackId, detId) ascending — both
      * ids ascend with list position, so this equals the (ti, dj) build
      * order of the reference's non-indexed loop AND the DuckDB oracle's
      * `list_sort` over {k:-sim, ti, dj} structs. Without the explicit
      * key, a stable sort would tie-break by CANDIDATE BUILD ORDER,
      * which under the spatial index is grid-cell hash-iteration order —
      * a latent kernel/oracle divergence on exactly-equal doubles (no
      * tie exists in current data; the key makes that a non-assumption).
      */
    private def matchGreedy(candidatesFor: Trk => Iterator[TrackerIn])
        : (Seq[(Trk, TrackerIn)], Set[Int], Set[Int]) = {
      val cands = mutable.ArrayBuffer.empty[(Double, Trk, TrackerIn)]
      tracks.foreach { t =>
        candidatesFor(t).foreach { d =>
          val sim = similarity(cfg, t, d)
          if (!sim.isNaN) cands += ((sim, t, d))
        }
      }
      val sorted = cands.sortBy(c => (-c._1, c._2.trackId, c._3.id))
      val mT = mutable.HashSet.empty[Int]
      val mD = mutable.HashSet.empty[Int]
      val out = mutable.ArrayBuffer.empty[(Trk, TrackerIn)]
      sorted.foreach { case (_, t, d) =>
        if (!mT.contains(t.trackId) && !mD.contains(d.id)) {
          out += ((t, d)); mT += t.trackId; mD += d.id
        }
      }
      (out.toSeq, mT.toSet, mD.toSet)
    }

  }

  /** Streaming-host bridge: rebuild / persist a Core across micro-batches. */
  def restoreCore(cfg: TrackerConfig, s: SeqState): Core = {
    val c = new Core(cfg)
    c.restore(s)
    c
  }

  def snapshotCore(core: Core, lastFrame: String): SeqState = core.snapshot(lastFrame)

  /** Batch driver: per-sequence ordered kernel + F8 min-length filter.
    * Output is ready for `MotCsv.write` (S4).
    *
    * Frames are delivered in sorted order by `flatMapSortedGroups`
    * (reference src/tracking.py:722; within a frame, dict order =
    * insertion order = det-id order from the sorted CSV read, pinned
    * here as the (frame, id) sort key). Spark's group sort rides the
    * existing grouping shuffle — same exchange, extended sort key — and
    * lets the kernel consume the stream ONE FRAME AT A TIME: task
    * memory is the live track set + one frame's detections, not the
    * whole sequence (`it.toArray` would OOM a task on a 10 M-frame
    * sequence; the per-frame buffer is bounded by scene density).
    */
  def track(dets: Dataset[TrackerIn], cfg: TrackerConfig = TrackerConfig()): Dataset[SeqTrackOut] = {
    val spark = dets.sparkSession
    import spark.implicits._
    val raw = dets.groupByKey(_.seq)
      .flatMapSortedGroups($"frame", $"id") { (seq: String, it: Iterator[TrackerIn]) =>
        val core = new Core(cfg)
        val buf = it.buffered
        Iterator.continually(()).takeWhile(_ => buf.hasNext).flatMap { _ =>
          val frame = buf.head.frame
          val ds = mutable.ArrayBuffer.empty[TrackerIn]
          while (buf.hasNext && buf.head.frame == frame) ds += buf.next()
          core.step(frame, ds.toSeq).map(_.copy(seq = seq))
        }
      }
    // F8 — min track length via window count (no second shuffle of a
    // groupBy+join: single hash partition by (seq, trackId)). With the
    // default minTrackLength=1 the filter admits every row, so the
    // window — and its whole (seq, trackId) exchange + sort — is
    // elided: the plan then has exactly ONE shuffle (the kernel's
    // sequence grouping).
    import org.apache.spark.sql.expressions.Window
    val filtered =
      if (cfg.minTrackLength <= 1) raw.toDF()
      else raw.withColumn("trkLen",
          count(lit(1)).over(Window.partitionBy($"seq", $"trackId")))
        .filter($"trkLen" >= cfg.minTrackLength).drop("trkLen")
    // A15 — run statistics as observable metrics (the reference's live
    // per-frame postfix, src/tracking.py:757-760): collected by the
    // driver via QueryExecutionListener, zero plan overhead.
    filtered
      .observe("tracker_stats",
        count(lit(1)).as("rows_emitted"),
        approx_count_distinct($"trackId").as("approx_tracks"))
      .as[SeqTrackOut]
  }
}
