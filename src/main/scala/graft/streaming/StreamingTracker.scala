package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{SeqState, SeqTrackOut, Tracker, TrackerConfig, TrackerIn}

/** Streaming host for the tracker (SURVEY §7.2 M7, §2.8 T1–T7).
  *
  * The same per-frame step as the batch kernel, re-hosted on
  * `flatMapGroupsWithState`: state key = sequence (the reference's state
  * boundary, src/tracking.py:687-690), events = detection rows, event
  * time = frame order. Each micro-batch's rows are grouped by frame and
  * stepped in frame order; state carries the full track set between
  * batches as one binary value per sequence (`SeqState`).
  *
  * Late-data policy (T7, documented extension — the reference assumes
  * strictly ordered input): frames older than the newest frame already
  * processed for the sequence are DROPPED, mirroring a watermark of 0;
  * zero-detection frames age tracks implicitly only when a later frame
  * arrives (identical to the reference, which only iterates frames
  * present in the input). `trackTimed` adds the REAL event-time
  * watermark on top (SURVEY's "watermark = max_age frames" design).
  */
object StreamingTracker {

  /** Batch-or-streaming entry: works on any Dataset[TrackerIn], including
    * a `readStream` source. Use `.writeStream.outputMode("append")`.
    */
  def track(dets: Dataset[TrackerIn], cfg: TrackerConfig = TrackerConfig()): Dataset[SeqTrackOut] = {
    val spark = dets.sparkSession
    import spark.implicits._
    dets.groupByKey(_.seq)
      .flatMapGroupsWithState[SeqState, SeqTrackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (seq: String, rows: Iterator[TrackerIn], state: GroupState[SeqState]) =>
          stepBatch(cfg, seq, rows.toArray, state)
      }
  }

  /** One micro-batch of one sequence: restore the tracker from state,
    * step each frame newer than the state's `lastFrame` in frame order
    * (detections by id), and snapshot the tracker with the new
    * `lastFrame`.
    */
  private def stepBatch(cfg: TrackerConfig, seq: String, rows: Array[TrackerIn],
                        state: GroupState[SeqState]): Iterator[SeqTrackOut] = {
    val prior = state.getOption.getOrElse(SeqState.Initial)
    val core = Tracker.restoreCore(cfg, prior)
    val byFrame = rows.groupBy(_.frame).toArray.sortBy(_._1)
    val out = byFrame.iterator
      .filter { case (frame, _) => prior.lastFrame.isEmpty || frame > prior.lastFrame }
      .flatMap { case (frame, ds) =>
        core.step(frame, ds.sortBy(_.id).toSeq).map(_.copy(seq = seq))
      }.toArray
    val newLast = byFrame.lastOption.map(_._1).getOrElse(prior.lastFrame)
    state.update(Tracker.snapshotCore(core,
      if (newLast > prior.lastFrame) newLast else prior.lastFrame))
    out.iterator
  }

  /** Watermarked streaming entry (T7): detections carry an event time
    * `et` (caller maps frame index → timestamp, e.g. 1 frame = 1 s) and
    * `withWatermark(et, "maxAge seconds")` is applied before the
    * stateful step. `flatMapGroupsWithState` does not auto-filter late
    * rows the way aggregations do, so the kernel drops frames whose
    * event time is behind `GroupState.getCurrentWatermarkMs` — cross-
    * SEQUENCE lateness bounds (a brand-new sequence key replaying old
    * frames) that the per-sequence lastFrame comparison alone cannot
    * provide.
    *
    * State retention is REAL here, not just framing:
    * `EventTimeTimeout` arms each sequence with a timeout at
    * (last event time + delay); when the watermark passes it with no
    * new frames, the callback fires with `hasTimedOut` and the state is
    * REMOVED. By then every track would have aged out anyway (the delay
    * is maxAge frames), so eviction loses nothing — a recording that
    * ended simply stops occupying the state store, which is what bounds
    * state when thousands of sequences come and go over days. A later
    * frame for an evicted sequence starts a fresh tracker (ids restart),
    * same as a brand-new sequence key. Streaming-only: the watermark
    * (and timeout machinery) is undefined in batch execution — use
    * `track` there.
    */
  def trackTimed(dets: Dataset[TimedTrackerIn],
                 cfg: TrackerConfig = TrackerConfig(),
                 framesPerSecond: Double = 1.0): Dataset[SeqTrackOut] = {
    val spark = dets.sparkSession
    import spark.implicits._
    val delaySec = math.ceil(cfg.maxAge / framesPerSecond).toLong
    dets.withWatermark("et", s"$delaySec seconds")
      .as[TimedTrackerIn]
      .groupByKey(_.seq)
      .flatMapGroupsWithState[SeqState, SeqTrackOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (seq: String, rows: Iterator[TimedTrackerIn], state: GroupState[SeqState]) =>
          if (state.hasTimedOut) {
            // idle past the delay: every track is already dead (gap >
            // maxAge frames) — drop the sequence's state entirely
            state.remove()
            Iterator.empty
          } else {
            val wmMs = state.getCurrentWatermarkMs()
            val kept = rows.filter(_.et.getTime >= wmMs).toArray // late drop
            val out = stepBatch(cfg, seq, kept.map(_.toIn), state)
            // arm eviction at (last seen event time + delay); must stay
            // strictly ahead of the watermark or Spark rejects it, so a
            // batch of entirely-late rows re-arms relative to the wm
            val maxEtMs = kept.iterator.map(_.et.getTime).foldLeft(Long.MinValue)(_ max _)
            val base = math.max(maxEtMs, wmMs)
            state.setTimeoutTimestamp(base + delaySec * 1000L + 1L)
            out
          }
      }
  }
}

/** A detection row with its event time (frame index mapped onto the
  * stream clock by the caller).
  */
final case class TimedTrackerIn(
    seq: String,
    frame: String,
    id: Int,
    x: Double, y: Double, w: Double, h: Double,
    conf: Double,
    emb: Array[Float],
    et: java.sql.Timestamp) {
  def toIn: TrackerIn = TrackerIn(seq, frame, id, x, y, w, h, conf, emb)
}
