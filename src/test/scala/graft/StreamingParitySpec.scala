package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryException, Trigger}
import graft.operators.{SeqTrackOut, Tracker, TrackerConfig, TrackerIn}
import graft.streaming.StreamingTracker

/** True streaming parity: the tracker fed through a FILE STREAM with
  * one file per micro-batch, so per-sequence state is snapshotted and
  * restored across batches (SURVEY §7.2 M7) — then compared to the
  * batch kernel on the identical detections.
  */
class StreamingParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val emb = Array.fill(8)(1.0f)
  private def det(frame: Int, id: Int, x: Double, y: Double) =
    TrackerIn("a", f"$frame%06d", id, x, y, 30, 30, 0.9, emb)

  test("multi-micro-batch streaming == batch (state restore across batches)") {
    import spark.implicits._
    val dets = (1 to 9).flatMap(f => Seq(
      det(f, 0, 5.0 * f, 10),
      det(f, 1, 600.0, 600 + 5.0 * f))) ++
      // object 2 appears mid-stream, dies (gap 4 > maxAge 3), reappears
      (1 to 2).map(f => det(f, 2, 300, 300)) ++
      (7 to 9).map(f => det(f, 2, 300, 300))

    val dir = SparkTestBase.tempDir("stream_dets").toString
    // one file per frame-triple -> 3 micro-batches in arrival order
    val groups = dets.groupBy(d => (d.frame.toInt - 1) / 3).toSeq.sortBy(_._1)
    groups.foreach { case (g, ds) =>
      spark.createDataset(ds).coalesce(1).write.parquet(s"$dir/batch=$g")
    }

    val batch = Tracker.track(spark.createDataset(dets), TrackerConfig())
      .collect().toSeq.sortBy(r => (r.frame, r.trackId))

    val schema = spark.createDataset(dets).schema
    val name = "stream_parity_out"
    val q = StreamingTracker.track(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .as[TrackerIn],
        TrackerConfig())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table(name).as[graft.operators.SeqTrackOut]
      .collect().toSeq.sortBy(r => (r.frame, r.trackId))

    assert(streamed.nonEmpty)
    assert(batch == streamed,
      s"batch=${batch.mkString(";")} streamed=${streamed.mkString(";")}")
  }

  test("tracker state: triggers after the first state restore compile 0 classes") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("stream_compiles").toString
    def land(b: Int): Unit = spark.createDataset((3 * b + 1 to 3 * b + 3).flatMap(f =>
      Seq(det(f, 0, 5.0 * f, 10), det(f, 1, 600.0, 600 + 5.0 * f))))
      .coalesce(1).write.parquet(s"$dir/batch=$b")
    land(0)
    val q = StreamingTracker.track(
        spark.readStream.schema(spark.createDataset(Seq(det(1, 0, 0, 0))).schema)
          .parquet(dir).as[TrackerIn])
      .writeStream.format("memory").queryName("stream_compiles_out")
      .outputMode("append").start()
    // trigger 1 plans the query and writes the first state; trigger 2
    // compiles the state deserializer, which Spark builds lazily on the
    // first state read; every later trigger must hit the codegen cache
    q.processAllAvailable()
    val compiles = (1 to 3).map { b =>
      land(b)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    q.stop()
    assert(spark.table("stream_compiles_out").count() == 24L)
    assert(compiles.tail == Seq(0L, 0L), s"compiles in triggers 2-4: $compiles")
  }

  test("a checkpoint written with the array-of-struct tracker state fails loudly") {
    import spark.implicits._
    import StreamingParitySpec.{OldSeqState, OldTrackSnapshot}
    val dir = SparkTestBase.tempDir("old_state_dets").toString
    val ckpt = SparkTestBase.tempDir("old_state_ckpt").toString
    spark.createDataset(Seq(det(1, 0, 5, 10))).coalesce(1).write.parquet(s"$dir/batch=0")
    val schema = spark.createDataset(Seq(det(1, 0, 5, 10))).schema
    def source = spark.readStream.schema(schema).parquet(dir).as[TrackerIn]
    // the state shape before SeqState.tracks became one binary value
    val e8 = Array.fill(8)(1.0f)
    source.groupByKey(_.seq)
      .flatMapGroupsWithState[OldSeqState, SeqTrackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, _: Iterator[TrackerIn], state: GroupState[OldSeqState]) =>
          state.update(OldSeqState("000001", 2, Array(OldTrackSnapshot(1,
            Array.fill(8)(0.0), Array.fill(64)(0.0), 5, 10, 30, 30, 5, 10, 30, 30,
            0.9, 0, e8, 1, 1, 0))))
          Iterator.empty
      }
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    spark.createDataset(Seq(det(2, 0, 10, 10))).coalesce(1).write.parquet(s"$dir/batch=1")
    val e = intercept[StreamingQueryException] {
      StreamingTracker.track(source)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    assert(e.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), e.getMessage)
  }

  test("st7 multi-batch cluster maintenance: fixpoint == single-batch d17; untouched cluster ids stable") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    graft.SessionMemo.reset(spark)
    // the batch fixpoint the stream must reach (d17 = one-shot merge of
    // the whole src0 slice; hash-checked against the recursive oracle)
    val d17 = SparkEntry.queries("d17_incremental_cc")(spark, d)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val prev = graft.queries.TextQ.prevClusters(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // split the ingest slice into TWO micro-batches by doc id
    val src0 = Tables.documents(spark, d).filter(col("source") === "src0").cache()
    val ids = src0.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.length >= 2, "need a non-trivial ingest slice")
    val mid = ids(ids.length / 2)
    val dir = SparkTestBase.tempDir("st7_batches").toString
    src0.filter(col("doc_id") < mid).coalesce(1).write.parquet(s"$dir/b=0")
    src0.filter(col("doc_id") >= mid).coalesce(1).write.parquet(s"$dir/b=1")
    val multi = graft.queries.ExtQ.streamClusterMaintain(spark, d,
        spark.readStream.schema(src0.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir))
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // (a) incremental merges across 2 batches reach the one-shot fixpoint
    assert(multi == d17, "multi-batch merge diverged from the batch fixpoint")
    // (b) label movement is confined to components a batch doc touched
    val src0Set = ids.toSet
    val touched = multi.collect { case (doc, cl) if src0Set(doc) => cl }.toSet
    prev.foreach { case (doc, cl) =>
      if (multi.getOrElse(doc, cl) != cl)
        assert(touched.contains(multi(doc)),
          s"doc $doc's label moved but its component holds no batch doc")
    }
    // (c) and the stability is non-vacuous: some corpus component
    // untouched by the ingest kept its id end-to-end
    assert(prev.exists { case (doc, cl) =>
      multi.get(doc).contains(cl) && !touched.contains(cl) })
    src0.unpersist()
  }

  test("st8 multi-batch ANN probe: split query stream answers identically to the batch/stored forms") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    // the batch fixpoint: the stored-index form (s09), which shares its
    // oracle with s08 and st8 — all three must answer row-identically
    val batch = SparkEntry.queries("s09_ivf_pq_store")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    val queries = Tables.embeddings(spark, d).filter(col("vec_id") < 10).cache()
    val dir = SparkTestBase.tempDir("st8_batches").toString
    // split the query set into TWO micro-batches — per-query results
    // depend only on the frozen index, so the split must be invisible
    queries.filter(col("vec_id") < 5).coalesce(1).write.parquet(s"$dir/b=0")
    queries.filter(col("vec_id") >= 5).coalesce(1).write.parquet(s"$dir/b=1")
    // nprobe pinned to the batch form's: PipelinesSpec's ann-maintain
    // run stores a suggested_nprobe sidecar for this same store, and a
    // default (None) here would legitimately resolve to IT — this test
    // compares forms, so both sides must serve at one setting
    val multi = graft.queries.ExtQ.streamAnnProbe(spark, d,
        spark.readStream.schema(queries.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir),
        nprobe = Some(2))
      .collect().map(_.toString).sorted.toSeq
    assert(multi.nonEmpty)
    assert(multi == batch, "multi-batch ANN probe diverged from the stored-index form")
    // BROADCAST-GUARD parity (ADVICE r18): force the per-trigger
    // round-robin chunking (pmod(monotonically_increasing_id, nChunks)
    // — membership is layout-dependent, results are not) by shrinking
    // the query-batch bound below the 10-query batch — every chunk
    // probes separately, and the union must still
    // be row-identical to the stored-index form (per-query results
    // depend only on the query's own row, so the chunk split is as
    // invisible as the micro-batch split above)
    val chunked = graft.queries.ExtQ.streamAnnProbe(spark, d,
        spark.readStream.schema(queries.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir),
        nprobe = Some(2), maxQueryBatch = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(chunked == batch, "chunked ANN probe diverged from the stored-index form")

    // RETRY-NO-DUPLICATE (ADVICE r19, closed r21): replay one trigger
    // after an injected PARTIAL failure — a stale staged chunk left by
    // a "crashed" previous attempt. The retry must wipe the staging
    // dir and publish each result row exactly once; under the old
    // per-chunk direct appends the first attempt's committed chunks
    // would duplicate.
    locally {
      import graft.operators.SimilaritySearch
      val emb = Tables.embeddings(spark, d)
      val index = graft.queries.TextQ.AnnStore.resolve(spark, d)
      val model = SimilaritySearch.ivfPqModel(
        emb, graft.queries.TextQ.AnnNlist, graft.queries.TextQ.AnnM,
        graft.queries.TextQ.AnnCb)
      val out = SparkTestBase.tempDir("st8_retry").toString
      val trigger = graft.queries.ExtQ.annProbeTrigger(
        spark, emb, index, model, np = 2, maxQueryBatch = 3, outDir = out) _
      // first (failed) attempt: simulate "chunk 0 staged, then crash"
      // by running the trigger once and MOVING its published output
      // back into the staging dir the retry will reuse
      trigger(queries, 7L)
      val outFiles = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(outFiles.nonEmpty)
      val staged = new java.io.File(out, ".staging_7")
      staged.mkdirs()
      outFiles.take(1).foreach { f =>
        assert(f.renameTo(new java.io.File(staged, f.getName)))
      }
      // retry of the SAME trigger id: must wipe the stale staged chunk
      // and land exactly the batch's rows once
      val before = spark.read.parquet(out).count()
      trigger(queries, 7L)
      val rows = spark.read.parquet(out)
        .collect().map(_.toString).sorted.toSeq
      // previous attempt's published files (minus the one moved back)
      // plus the retry's full publish — a duplicate-free retry adds
      // exactly one full result set on top of what was already in the
      // sink, and the stale staged chunk contributes NOTHING
      assert(!staged.exists, "retry left the staging dir behind")
      assert(rows.size == before + batch.size,
        s"retry duplicated or dropped rows: ${rows.size} vs $before + ${batch.size}")
      // and a clean-sink replay equals the batch fixpoint exactly
      val out2 = SparkTestBase.tempDir("st8_retry2").toString
      graft.queries.ExtQ.annProbeTrigger(
        spark, emb, index, model, np = 2, maxQueryBatch = 3, outDir = out2)(
        queries, 7L)
      val cleanRows = spark.read.parquet(out2)
        .collect().map(_.toString).sorted.toSeq
      assert(cleanRows == batch, "trigger replay diverged from the batch form")
    }
    queries.unpersist()
  }

  test("st9 multi-batch classifier probe: split doc stream answers identically to t18") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    // the batch fixpoint: t18's single-batch artifact probe, which
    // shares its oracle with st9 — the two must answer row-identically
    val batch = SparkEntry.queries("t18_classifier_incremental")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty)
    val docs = Tables.documents(spark, d)
      .filter(graft.queries.TextQ.DocBatchPred).cache()
    val dir = SparkTestBase.tempDir("st9_batches").toString
    // split the batch slice into TWO micro-batches — per-doc scores
    // depend only on the frozen model, so the split must be invisible
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(s"$dir/b=0")
    docs.filter(col("doc_id") >= 250).coalesce(1).write.parquet(s"$dir/b=1")
    val multi = graft.queries.ExtQ.streamClassify(spark, d,
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir))
      .collect().map(_.toString).sorted.toSeq
    assert(multi == batch, "multi-batch classifier probe diverged from t18")
    docs.unpersist()
  }

  test("st10 multi-batch decontamination probe: split doc stream answers identically to d25") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    // the batch fixpoint: d25's single-batch artifact probe, which
    // shares its oracle with st10 — the two must answer row-identically
    val batch = SparkEntry.queries("d25_decontam_incremental")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty)
    val docs = Tables.documents(spark, d)
      .filter(graft.queries.TextQ.DocBatchPred && col("source") =!= "src19")
      .cache()
    val dir = SparkTestBase.tempDir("st10_batches").toString
    // split the batch slice into TWO micro-batches — per-doc flags
    // depend only on the frozen model, so the split must be invisible
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(s"$dir/b=0")
    docs.filter(col("doc_id") >= 250).coalesce(1).write.parquet(s"$dir/b=1")
    val multi = graft.queries.ExtQ.streamDecontam(spark, d,
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir))
      .collect().map(_.toString).sorted.toSeq
    assert(multi == batch, "multi-batch decontamination probe diverged from d25")
    docs.unpersist()
  }

  test("st11 multi-batch delta ingest: split vector stream answers identically to s12") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    // the batch fixpoint: s12's single-batch delta probe, which shares
    // its oracle with st11 — the two must answer row-identically
    val batch = SparkEntry.queries("s12_ann_delta")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty)
    val vecs = Tables.embeddings(spark, d)
      .filter(graft.queries.TextQ.SemBatchPred).cache()
    val mid = vecs.agg(org.apache.spark.sql.functions
      .percentile_approx(col("vec_id"), org.apache.spark.sql.functions.lit(0.5),
        org.apache.spark.sql.functions.lit(100))).collect()(0).getLong(0)
    val dir = SparkTestBase.tempDir("st11_batches").toString
    // split the batch slice into TWO micro-batches — codes are per-row
    // functions of the frozen model, so the split must be invisible
    vecs.filter(col("vec_id") < mid).coalesce(1).write.parquet(s"$dir/b=0")
    vecs.filter(col("vec_id") >= mid).coalesce(1).write.parquet(s"$dir/b=1")
    // nprobe pinned to s12's explicit form: a default (None) would
    // resolve through the corpus index's sidecar — this test compares
    // forms, so both sides must serve at one setting
    val multi = graft.queries.ExtQ.streamAnnDelta(spark, d,
        spark.readStream.schema(vecs.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir),
        nprobe = Some(2))
      .collect().map(_.toString).sorted.toSeq
    assert(multi == batch, "multi-batch delta ingest diverged from s12")
    vecs.unpersist()
  }

  test("session window spanning micro-batches merges state across batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val min = 60000L
    // user a: one session whose events are SPLIT across batch files
    // (0m, 5m | 8m), then a second session (30m, 33m); user b: single
    // event. The sentinel at 120m advances the watermark far enough to
    // close and emit every session in append mode.
    val batches = Seq(
      Seq(("a", 0L * min), ("a", 5 * min), ("b", 2 * min)),
      Seq(("a", 8 * min)),
      Seq(("a", 30 * min), ("a", 33 * min)),
      Seq(("sentinel", 120 * min)))

    val dir = SparkTestBase.tempDir("sess_batches").toString
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ms")
        .withColumn("et", timestamp_millis(col("ms"))).drop("ms")
        .coalesce(1).write.parquet(s"$dir/batch=$i")
    }

    val name = "sess_span_out"
    val q = spark.readStream
      .schema("user_id STRING, et TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withWatermark("et", "1 second")
      .groupBy(col("user_id"), session_window(col("et"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table(name)
      .filter(col("user_id") =!= "sentinel")
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("s"),
        unix_millis(col("session_window.end")).as("e"),
        col("n_events"))
      .as[(String, Long, Long, Long)].collect().toSeq.sorted

    // session end = last event + gap; the 0m/5m/8m events must land in
    // ONE session even though they arrived over two micro-batches
    val want = Seq(
      ("a", 0L * min, 18 * min, 3L),
      ("a", 30 * min, 43 * min, 2L),
      ("b", 2 * min, 12 * min, 1L)).sorted
    assert(got == want, s"got=$got want=$want")
  }

  test("event later than the watermark is dropped, not merged into a closed window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val min = 60000L
    // batch 0 advances the watermark past 1h; after one propagation
    // batch (the new watermark gates the late-row filter from the NEXT
    // batch, not the one where it was computed) a replayed event into
    // the finalized [0m,10m) window must be dropped, not re-opened;
    // the sentinel flushes the remaining windows.
    val batches = Seq(
      Seq(("a", 0L * min), ("a", 61 * min)),
      Seq(("y", 62 * min)),
      Seq(("a", 2 * min)), // late: watermark is already 61m - 1s
      Seq(("z", 120 * min)))

    val dir = SparkTestBase.tempDir("late_batches").toString
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ms")
        .withColumn("et", timestamp_millis(col("ms"))).drop("ms")
        .coalesce(1).write.parquet(s"$dir/batch=$i")
    }

    val name = "late_drop_out"
    val q = spark.readStream
      .schema("user_id STRING, et TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withWatermark("et", "1 second")
      .groupBy(col("user_id"), window(col("et"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table(name)
      .filter(col("user_id") === "a")
      .select(unix_millis(col("window.start")).as("s"), col("n"))
      .as[(Long, Long)].collect().toSeq.sorted

    // the late 2m event must not appear: [0,10m) stays n=1
    assert(got == Seq((0L, 1L), (61 * min / (10 * min) * 10 * min, 1L)),
      s"got=$got")
  }

  test("trackTimed: event-time timeout evicts idle sequence state; late frames drop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.TimedTrackerIn

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def tdet(seq: String, frame: Int, id: Int, x: Double, y: Double, etSec: Long) =
      TimedTrackerIn(seq, f"$frame%06d", id, x, y, 30, 30, 0.9, emb, ts(etSec))

    // delay = maxAge (3) frames = 3 s. Batch plan (maxFilesPerTrigger=1):
    //  0: seq a frames 1..3 (et 1..3 s)       → track 1 emitted
    //  1: seq b frame 1 (et 1000 s)           → wm after batch: 997 s
    //  2: seq b frame 2 (et 1001 s)           → a's timeout (≈7 s) fires
    //     with wm 997 s: a's state REMOVED
    //  3: seq a frame 2 REPLAYED with two far-apart dets (et 1002 s) —
    //     accepted only because a's state (lastFrame 000003) was
    //     evicted; a fresh tracker emits track ids 1 AND 2.
    //     seq d frame 1 at et 5 s — behind the watermark: DROPPED
    //     (new key, so only the wm filter can drop it).
    val batches = Seq(
      (1 to 3).map(f => tdet("a", f, 0, 5.0 * f, 10, f.toLong)),
      Seq(tdet("b", 1, 0, 50, 50, 1000)),
      Seq(tdet("b", 2, 0, 55, 50, 1001)),
      Seq(tdet("a", 2, 0, 10, 10, 1002), tdet("a", 2, 1, 600, 600, 1002),
        tdet("d", 1, 0, 100, 100, 5)))

    val dir = SparkTestBase.tempDir("timed_dets").toString
    batches.zipWithIndex.foreach { case (ds, i) =>
      spark.createDataset(ds).coalesce(1).write.parquet(s"$dir/batch=$i")
    }

    val schema = spark.createDataset(batches.head).schema
    val name = "timed_evict_out"
    val q = StreamingTracker.trackTimed(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .as[TimedTrackerIn],
        TrackerConfig())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val out = spark.table(name).as[graft.operators.SeqTrackOut].collect().toSeq

    // watermark drop: seq d's only frame was behind the watermark
    assert(!out.exists(_.seq == "d"), s"late seq-d frame not dropped: $out")
    // eviction: frame 000002 for seq a appears from BOTH lives — once
    // from batch 0 (track 1) and twice from the fresh post-eviction
    // tracker (ids restart at 1, two dets → ids 1 and 2). Retained
    // state would have dropped the replay (lastFrame 000003) entirely.
    val aAtF2 = out.filter(r => r.seq == "a" && r.frame == "000002")
    assert(aAtF2.size == 3, s"expected replay after eviction, got: $aAtF2")
    assert(aAtF2.map(_.trackId).sorted == Seq(1, 1, 2),
      s"fresh tracker should restart ids: $aAtF2")
    // the original life emitted frames 1..3 on one track
    assert(out.count(r => r.seq == "a" && r.frame <= "000003" &&
      r.trackId == 1) >= 3)
  }
}

object StreamingParitySpec {
  /** `SeqState` and its track snapshot as they were before the tracks
    * became one binary value.
    */
  final case class OldTrackSnapshot(
      trackId: Int,
      kfX: Array[Double], kfP: Array[Double],
      predX: Double, predY: Double, predW: Double, predH: Double,
      lastX: Double, lastY: Double, lastW: Double, lastH: Double,
      lastConf: Double, lastDetId: Int,
      emb: Array[Float],
      hits: Int, age: Int, timeSinceUpdate: Int)

  final case class OldSeqState(lastFrame: String, nextTrackId: Int, tracks: Array[OldTrackSnapshot])
}
