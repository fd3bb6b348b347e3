package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Derived, Tables}
import graft.streaming.Drain
import graft.operators.{DetectFilters, TextAnalysis}
import graft.functions.Text

/** Extended coverage queries: detection filter cascade (F1–F6), the
  * integral-image mask filter checked against a brute-force pixel-count
  * oracle, rank-based AUC (A17), combined metrics (A6), seeded sampling
  * (O10), MOT CSV round-trip (S1/S4/E9/O2), and an oracle-checked
  * Structured Streaming window aggregation.
  */
object ExtQ {

  /** Deterministic 240×240 checkerboard land mask (40px squares):
    * masked(r,c) = ((r/40)+(c/40)) even. Same formula in the oracle.
    */
  val MaskN = 240
  lazy val mask: Array[Array[Boolean]] =
    Array.tabulate(MaskN, MaskN)((r, c) => ((r / 40) + (c / 40)) % 2 == 0)
  lazy val maskIntegral: Array[Long] = DetectFilters.integralImage(mask)

  /** Runs `body` (a streaming start+drain) with `spark.sql.shuffle.
    * partitions` lowered to `parts`, restoring the previous value after.
    *
    * Stateful micro-batches pay a PER-PARTITION state-store setup/
    * maintenance/commit cost every trigger; at the catalog's data
    * scale 32 partitions of that overhead is pure constant cost and —
    * measured round 7 — the dominant source of ±5× run-to-run noise in
    * the streaming bench numbers late in a 70-query session. The
    * partition count only shapes the state layout (values are
    * partitioning-independent), and each query starts from a fresh
    * temp checkpoint, so the setting is free to differ per query. On a
    * real cluster a continuous job would size this to its executor
    * count instead.
    */
  private[graft] def withStreamShuffle[T](s: org.apache.spark.sql.SparkSession,
                                          parts: Int = 4)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, parts.toString)
    try body finally s.conf.set(key, prev)
  }

  /** ONE verify tail for the streaming ingest-gate oracles (st6 capped
    * / st12 routed): `corpusCtes` must end in a `corpus_side(doc_id,
    * band, band_sig)` CTE; banding, gram sets and the exact-Jaccard
    * verify at 0.5 are shared verbatim (the incrementalDedupSqlFrom
    * rule on the pair-level shape).
    */
  private def ingestPairsSqlFrom(corpusCtes: String): String =
    s"""WITH ${TextQ.BandCtes},
      |$corpusCtes,
      |${TextQ.GramSetsCte}
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band AS band,
      |  ROUND(CASE WHEN len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs)) = 0 THEN 0.0
      |    ELSE CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
      |      / (len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs))) END, 9) AS jaccard
      |FROM banded a
      |JOIN src xa ON xa.doc_id = a.doc_id AND xa.source = 'src0'
      |JOIN corpus_side b ON a.band = b.band AND a.band_sig = b.band_sig
      |JOIN sets sa ON sa.doc_id = a.doc_id
      |JOIN sets sb ON sb.doc_id = b.doc_id
      |WHERE CASE WHEN len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs)) = 0 THEN 0.0
      |    ELSE CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
      |      / (len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs))) END >= CAST(0.5 AS DOUBLE)"""
      .stripMargin

  /** The streaming INGEST-DEDUP gate shared by st6 (capped corpus
    * side) and st12 (ROUTED corpus side — the streaming executor of
    * the route= recommendation): each micro-batch of arriving
    * documents is banded per-row (native one-pass `graft_bandsigs`),
    * probes the partition-pruned persisted band store through
    * `staticSideOf(prefixes)` — the one varying stage, receiving the
    * batch's distinct signature prefixes and returning the corpus side
    * `(band, band_sig, doc_b)` — and exact-Jaccard-verifies the
    * collisions at 0.5 against the gram artifact. The two rows differ
    * ONLY in how the corpus side bounds a pathological bucket: st6
    * truncates at the cap (observable, may under-merge), st12 routes
    * overflowing buckets' full membership (never under-merges; volume
    * observable) — `Dedup.bandsRoutedByRank` over the same pruned
    * read, valid because both the rank and the routing decision are
    * bucket-local and commute with prefix pruning (DedupGuardSpec).
    */
  private def streamIngestDedup(
      s: org.apache.spark.sql.SparkSession, d: String, outKind: String,
      staticSideOf: Seq[String] => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.Text
    val docs = Tables.documents(s, d)
    val fp = (t: org.apache.spark.sql.Column) =>
      sort_array(transform(Text.distinctTokens(t), g => xxhash64(g)))
    TextQ.BandStore.resolve(s, d)  // build/refresh at batch parallelism
    val gramsB = TextQ.gramSetsOf(s, d)  // memoized gram artifact
      .select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    val stream = s.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .filter(col("source") === "src0")
      .select(col("doc_id").as("doc_a"), fp(col("text")).as("grams_a"),
        posexplode(call_function("graft_bandsigs",
          Text.tokens(col("text")), lit(16), lit(2))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_sig"))
    Drain.toSink(stream, outKind, d, Seq("documents.parquet"), persistBatch = true) { b =>
      val prefixes = b.select(TextQ.sigPfx(col("band_sig")))
        .distinct().collect().map(_.getString(0)).toSeq
      b.join(staticSideOf(prefixes), Seq("band", "band_sig"))
        .join(gramsB, Seq("doc_b"))
        .withColumn("inter",
          call_function("graft_inter_size", col("grams_a"), col("grams_b")))
        .withColumn("unionSz",
          size(col("grams_a")) + size(col("grams_b")) - col("inter"))
        .withColumn("jaccard",
          when(col("unionSz") === 0, 0.0)
            .otherwise(col("inter").cast("double") / col("unionSz")))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("band"),
          round(col("jaccard"), 9).as("jaccard"))
    }
  }

  /** The st7 micro-batch maintenance loop, shared with the multi-batch
    * spec: each batch of the (already src0-filtered) document stream is
    * banded per-row, probes the partition-pruned corpus band store plus
    * the session's earlier batches' bands (a later micro-batch must
    * still pair with an earlier one — d17's single batch sees all src0
    * bands at once; in production the ingest's bands are appended to
    * the band store), verifies candidates at the clustering threshold
    * over the gram artifact, and star-merges the verified edges into
    * the maintained labels via Dedup.ccIncremental. Returns the final
    * label table in d17's shape (cluster_size, keep). The merge only
    * moves labels in touched components, so untouched cluster ids are
    * stable across batches (pinned in StreamingParitySpec).
    */
  private[graft] def streamClusterMaintain(
      s: org.apache.spark.sql.SparkSession, d: String,
      docStream: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    val grams = TextQ.gramSetsOf(s, d)
    var labels = TextQ.prevClusters(s, d)
    // the initial labels are the session-memoized artifact read — only
    // snapshots THIS loop persisted may be unpersisted when superseded
    var labelsOwned = false
    var seen: Option[org.apache.spark.sql.DataFrame] = None
    val batchBandHandles =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val banded = docStream
      .select(col("doc_id"),
        posexplode(call_function("graft_bandsigs",
          Text.tokens(col("text")), lit(16), lit(2))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_sig"))
    Drain.run(banded) { (batch, _) =>
      val b = batch.persist()
      try {
        val prefixes = b.select(TextQ.sigPfx(col("band_sig")))
          .distinct().collect().map(_.getString(0)).toSeq
        val corpus = TextQ.prunedCorpusBands(s, d, prefixes)
        val others = seen.map(corpus.unionByName(_)).getOrElse(corpus)
        // candidates = batch × (corpus ∪ earlier ∪ itself): every
        // pair touching ≥1 doc of this batch, canonicalized like d17
        val cands = b.select(col("band"), col("band_sig"), col("doc_id").as("doc_x"))
          .join(others.unionByName(b.select("band", "band_sig", "doc_id"))
            .select(col("band"), col("band_sig"), col("doc_id").as("doc_y")),
            Seq("band", "band_sig"))
          .filter(col("doc_x") =!= col("doc_y"))
          .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
            greatest(col("doc_x"), col("doc_y")).as("doc_b"))
          .distinct()
        val edges = Dedup.jaccardPairsFromSets(grams, cands,
            minJaccard = TextQ.ClusterJaccard)
          .select("doc_a", "doc_b")
        val prev = labels
        val next = Dedup.ccIncremental(prev, edges).persist()
        next.count()  // materialize: bounded lineage across batches
        if (labelsOwned) prev.unpersist()  // superseded snapshot
        labels = next
        labelsOwned = true
        val batchBands = b.select("band", "band_sig", "doc_id").persist()
        batchBands.count()
        batchBandHandles += batchBands
        seen = Some(seen.map(_.unionByName(batchBands)).getOrElse(batchBands))
      } finally { b.unpersist(); () }
    }
    // earlier batches' band snapshots are dead once the stream drains
    // (only the final labels outlive the loop, consumed by the caller —
    // registered so the session memo's reset releases that last handle
    // too instead of pinning one label table per invocation)
    batchBandHandles.foreach(_.unpersist())
    // explicit owner: `labels` was built inside the per-batch function,
    // whose cloned session would never match the caller's reset(s)
    if (labelsOwned) graft.SessionMemo.register(labels, s)
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** The st8 micro-batch ANN probe loop, shared with the multi-batch
    * parity spec: each arriving batch of query vectors probes the
    * PERSISTED cell-partitioned PQ index (TextQ.AnnStore), pushing
    * its probed cells as partition filters on the index FileScan —
    * per-trigger cost scales with the batch's cell spread, never the
    * index. The per-query result depends only on that query's row (the
    * index and model are frozen), so ANY micro-batch split must answer
    * row-identically to the batch form — s08/s09/st8 share one oracle.
    *
    * `nprobe = None` resolves through [[graft.queries.TextQ.resolveNprobe]]
    * — the stored generation's maintenance-swept `suggested_nprobe`
    * sidecar when `ann-maintain` has measured one, else the engine
    * default. Catalog st8 pins `Some(…)` so its oracle hash can never
    * depend on whether maintenance ran.
    *
    * BROADCAST-CONTRACT GUARD (ADVICE r18): [[SimilaritySearch
    * .ivfPqSearch]] broadcasts its query side by contract (the hot-cell
    * posture), but a streaming micro-batch is unbounded — a large
    * ingest trigger would materialize batch×nprobe rows INCLUDING the
    * m×codebookSize LUT arrays on the driver and every executor. Each
    * trigger therefore probes in ROUND-ROBIN chunks over the persisted
    * batch: chunk = monotonically_increasing_id mod ⌈n/max⌉, which
    * bounds every chunk at ⌈n/⌈n/max⌉⌉ + #batch-partitions rows (each
    * partition's ids are consecutive, so it contributes an equal share
    * ±1 to every chunk) — a hard bound immune to duplicate or skewed
    * vec_ids, which a value-hash split would pile into one chunk.
    * Chunk MEMBERSHIP is layout-dependent, but per-query results
    * depend only on the query's own row, so any split — micro-batch,
    * chunk, or retry — answers row-identically (StreamingParitySpec
    * pins a forced multi-chunk run against the stored-index form).
    *
    * AT-LEAST-ONCE NOTE (ADVICE r19, closed round 21): the chunk loop
    * writes every chunk into a PER-TRIGGER STAGING directory (wiped at
    * trigger start, dot-prefixed so sink reads ignore it) and publishes
    * all staged part files into the sink with one rename pass at
    * trigger end — a trigger retry after a partial chunk sequence
    * re-stages from scratch instead of re-appending already-committed
    * chunks, so the duplicate window shrinks back to the sink's
    * pre-existing one commit per trigger (a crash mid-rename-pass can
    * still duplicate, same as any trigger retry; values are unaffected
    * either way — per-query rows are identical on replay, and an
    * exactly-once consumer dedups on (query_id, corpus_id)).
    *
    * One st8 trigger: chunk the persisted batch, probe each chunk into
    * the per-trigger staging dir, publish staged part files into the
    * sink with one rename pass, drop staging. Exposed private[graft]
    * so StreamingParitySpec can replay a trigger AFTER an injected
    * partial failure (stale staged chunk present) and pin that the
    * retry replaces rather than duplicates.
    */
  private[graft] def annProbeTrigger(
      s: org.apache.spark.sql.SparkSession,
      emb: org.apache.spark.sql.DataFrame, index: String,
      model: graft.operators.SimilaritySearch.IvfPqModel,
      np: Int, maxQueryBatch: Int, outDir: String)(
      batch: org.apache.spark.sql.DataFrame, bid: Long): Unit = {
    import graft.operators.SimilaritySearch
    val b = batch.persist()
    try {
      // the count is the guard's price — one action on the
      // persisted batch, which the probed-cells collect below
      // re-reads from cache
      val n = b.count()
      val nChunks = math.max(1L, (n + maxQueryBatch - 1L) / maxQueryBatch).toInt
      // materialized once so every chunk filter sees ONE id
      // assignment (the ids are layout-dependent; results are not)
      val withId = if (nChunks == 1) b
        else b.withColumn("__chunk",
          pmod(monotonically_increasing_id(), lit(nChunks.toLong))).persist()
      // per-trigger staging (see the AT-LEAST-ONCE NOTE above):
      // chunks append here, a retry wipes and re-stages, the sink
      // sees one publish pass per trigger. Dot prefix keeps any
      // torn leftover invisible to parquet reads of outDir.
      val staging = new org.apache.hadoop.fs.Path(outDir, s".staging_$bid")
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(staging, true)
      (0 until nChunks).foreach { c =>
        val qs = if (nChunks == 1) b
          else withId.filter(col("__chunk") === c.toLong).drop("__chunk")
        val cells = SimilaritySearch.ivfPqProbedCells(qs, model, nprobe = np)
        if (cells.nonEmpty) {
          // memoized relation read: reuses the cell-partitioned
          // index's file listing across chunks and triggers
          // (pruning filters the listed index at planning time)
          val coded = TextQ.storeRead(s, index)
            .where(col("cell").isin(cells: _*))
          val res = SimilaritySearch.ivfPqSearch(qs, emb, coded, model,
            k = 5, nprobe = np, refine = 20)
          res.write.mode("append").parquet(staging.toString)
        }
      }
      // publish: move every staged part file into the sink (part
      // names carry write UUIDs — no collisions), then drop the
      // staging dir. This rename pass is the trigger's single
      // effective commit point.
      if (fs.exists(staging))
        fs.listStatus(staging).iterator
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { st =>
            require(fs.rename(st.getPath,
                new org.apache.hadoop.fs.Path(outDir, st.getPath.getName)),
              s"could not publish ${st.getPath} into $outDir")
          }
      fs.delete(staging, true)
      if (nChunks > 1) { withId.unpersist(); () }
    } finally { b.unpersist(); () }
  }

  private[graft] def streamAnnProbe(
      s: org.apache.spark.sql.SparkSession, d: String,
      queryStream: org.apache.spark.sql.DataFrame,
      nprobe: Option[Int] = None,
      maxQueryBatch: Int = graft.operators.SimilaritySearch.MaxQueryBatch): org.apache.spark.sql.DataFrame = {
    import graft.operators.SimilaritySearch
    require(maxQueryBatch >= 1, s"maxQueryBatch must be >= 1, got $maxQueryBatch")
    val emb = Tables.embeddings(s, d)
    val index = TextQ.AnnStore.resolve(s, d)  // build/refresh at batch parallelism
    val np = TextQ.resolveNprobe(s, index, nprobe)
    val model = SimilaritySearch.ivfPqModel(
      emb, TextQ.AnnNlist, TextQ.AnnM, TextQ.AnnCb)
    val outDir = Drain.sinkDir(s, "graft_drain_st8", d, Seq("embeddings.parquet"))
    Drain.run(queryStream)(annProbeTrigger(s, emb, index, model, np, maxQueryBatch, outDir))
    // typed read: an empty sink (no trigger, or no probed cell) is an
    // empty result, and no job infers the schema
    s.read.schema(SimilaritySearch.ivfPqSearch(emb.limit(0), emb, TextQ.storeRead(s, index),
      model, k = 5, nprobe = np, refine = 20).schema).parquet(outDir)
  }

  /** The st9 micro-batch classifier probe, shared with the multi-batch
    * spec: each batch of the document stream is scored under the FROZEN
    * persisted model (loaded once, pre-stream, through the fail-loud
    * [[graft.queries.TextQ.clfModelOfStore]]) — tokenize + one
    * broadcast bucket join + one per-doc aggregation per trigger, no
    * corpus scan, no retrain. Per-doc scores depend only on the frozen
    * counts, so any micro-batch split of the same rows must answer
    * row-identically to t18's single batch — which is why st9 shares
    * t18's oracle verbatim.
    */
  private[graft] def streamClassify(
      s: org.apache.spark.sql.SparkSession, d: String,
      docStream: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val model = TextQ.clfModelOfStore(s, d)
    Drain.toSink(docStream, "graft_drain_st9", d, Seq("documents.parquet"))(
      TextAnalysis.hashClassifierScoreUnder(model, _))
  }

  /** The st10 micro-batch decontamination probe, shared with the
    * multi-batch spec: each batch of the document stream is scored
    * under the FROZEN persisted eval-gram model (loaded once,
    * pre-stream, through the fail-loud
    * [[graft.queries.TextQ.decontamModelOfStore]]) — map-side sketch
    * drop + exact verify join + per-doc count per trigger, no eval
    * re-tokenization, no corpus scan. Per-doc flags depend only on the
    * frozen model, so any micro-batch split of the same rows must
    * answer row-identically to d25's single batch — which is why st10
    * shares d25's oracle verbatim.
    */
  private[graft] def streamDecontam(
      s: org.apache.spark.sql.SparkSession, d: String,
      docStream: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val model = TextQ.decontamModelOfStore(s, d)
    Drain.toSink(docStream, "graft_drain_st10", d, Seq("documents.parquet"))(
      TextAnalysis.decontaminateUnder(model, _))
  }

  /** The st11 micro-batch delta-ingest, shared with the multi-batch
    * spec: each batch of the vector stream is encoded under the FROZEN
    * corpus model (rebuilt driver-side from the corpus slice — a
    * bounded deterministic collect, the s09 practice) and appended to
    * a delta code table — a batch-sized map-side projection per
    * trigger, no retrain, no index rebuild. The corpus index itself is
    * located through the fail-loud
    * [[graft.queries.TextQ.annCorpusIndexOfStore]]. After the stream
    * drains, ONE probe searches main ∪ delta. Codes are per-row
    * functions of the frozen model, so any micro-batch split of the
    * same vectors yields the same delta table — st11 must answer
    * row-identically to s12, and the two share one oracle.
    */
  private[graft] def streamAnnDelta(
      s: org.apache.spark.sql.SparkSession, d: String,
      vecStream: org.apache.spark.sql.DataFrame,
      nprobe: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val model = TextQ.annCorpusModel(emb)
    val index = TextQ.annCorpusIndexOfStore(s, d)
    // `nprobe = None` resolves through the CORPUS index generation's
    // sidecar (the streamAnnProbe posture — one serving entry rule),
    // before the stream runs; catalog st11 pins Some(2) so its oracle
    // hash can never depend on whether a maintenance sweep stored a
    // suggestion
    val np = TextQ.resolveNprobe(s, index, nprobe)
    val delta = Drain.toSink(vecStream, "graft_drain_st11", d, Seq("embeddings.parquet"))(
      graft.operators.SimilaritySearch.ivfPqEncode(_, model))
    TextQ.deltaProbe(s, emb, model, index, delta, emb.filter(col("vec_id") < 10), Some(np))
  }

  val defs: Seq[Q] = Seq(

    // F1/F2/F4 — the cascade predicates on the derived corner-format
    // detections (mask-free portion; F5 is f02).
    Q("f01_filter_cascade", Seq(Derived.DetsStore),
      (s, d) => {
        val dets = Derived.table(s, d, "dets")
        DetectFilters.cascade(dets, col("score"),
            col("x1"), col("y1"), col("x2"), col("y2"),
            lit(800), lit(800),
            confThreshold = 0.25, minSize = 900.0, edgeTol = 8.0)
          .groupBy("seq").agg(count(lit(1)).as("n_kept"),
            (sum(round(col("score") * 100).cast("long")).cast("double") / 100.0)
              .as("score_sum"))
      },
      Some(s"""WITH ${Derived.detCte}
        |SELECT seq, count(*) AS n_kept,
        |  CAST(CAST(sum(CAST(ROUND(score * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS score_sum
        |FROM dets
        |WHERE score >= 0.25
        |  AND (x2 - x1) * (y2 - y1) >= 900.0
        |  AND NOT (x1 <= 8.0 OR y1 <= 8.0 OR x2 >= 800 - 8.0 OR y2 >= 800 - 8.0)
        |GROUP BY seq""".stripMargin)),

    // F5 — integral-image mask stats vs BRUTE-FORCE pixel counting in
    // the oracle: proves the O(1) prefix-sum lookups equal the
    // reference's O(box-area) submask count (src/detection.py:1086-1116).
    Q("f02_mask_filter", Seq(Derived.DetsStore),
      (s, d) => {
        val dets = Derived.table(s, d, "dets").filter(col("frame") === 0)
        val stats = DetectFilters.maskStats(
          col("x1"), col("y1"), col("x2"), col("y2"),
          maskIntegral, MaskN, MaskN, lit(MaskN), lit(MaskN))
        dets.withColumn("ms", stats)
          .filter(!col("ms.degenerate"))
          .select(col("seq"), col("id"),
            col("ms.maskedCnt").as("masked_cnt"),
            col("ms.total").as("total_px"))
      },
      Some(s"""WITH ${Derived.detCte},
        |clamped AS (
        |  SELECT seq, id,
        |    greatest(0, least(greatest(0, CAST(x1 AS INT)), ${MaskN - 1})) AS l,
        |    greatest(0, least(greatest(0, CAST(y1 AS INT)), ${MaskN - 1})) AS t,
        |    least(CAST(x2 AS INT), $MaskN) AS r0,
        |    least(CAST(y2 AS INT), $MaskN) AS b0,
        |    CAST(x1 AS INT) AS xi1, CAST(y1 AS INT) AS yi1,
        |    CAST(x2 AS INT) AS xi2, CAST(y2 AS INT) AS yi2
        |  FROM dets WHERE frame = 0
        |),
        |boxes AS (
        |  SELECT seq, id, l, t,
        |    greatest(l + 1, r0) AS r, greatest(t + 1, b0) AS b
        |  FROM clamped
        |  WHERE NOT (least(xi2, $MaskN) <= greatest(0, xi1) OR least(yi2, $MaskN) <= greatest(0, yi1))
        |)
        |SELECT bx.seq, bx.id,
        |  CAST((SELECT count(*) FROM range($MaskN) rr(r), range($MaskN) cc(c)
        |        WHERE rr.r >= bx.t AND rr.r < bx.b AND cc.c >= bx.l AND cc.c < bx.r
        |          AND ((rr.r // 40) + (cc.c // 40)) % 2 = 0) AS BIGINT) AS masked_cnt,
        |  CAST((bx.r - bx.l) * (bx.b - bx.t) AS BIGINT) AS total_px
        |FROM boxes bx""".stripMargin)),

    // A17 — rank-based ROC-AUC (Mann-Whitney) over (score, label):
    // label = embeddings.label >= 5, score = first embedding component.
    Q("a01_auc",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .withColumn("pos", (col("label") >= 5).cast("int"))
          .withColumn("score", element_at(col("embedding"), 1).cast("double"))
        // range-partitioned global rank (RangeRank) — bit-identical to
        // row_number() OVER (ORDER BY score, vec_id) but never routes
        // all rows through one task (the 100 TB scale-killer).
        val ranked = graft.operators.RangeRank.withGlobalRank(
          e, col("score"), col("vec_id"), descending = false, rnkName = "rnk")
        ranked.agg(
          sum("pos").cast("long").as("n_pos"),
          (count(lit(1)) - sum("pos")).cast("long").as("n_neg"),
          round(
            (sum(col("pos") * col("rnk")).cast("double") -
              (sum("pos").cast("double") * (sum("pos").cast("double") + 1.0)) / 2.0) /
              (sum("pos").cast("double") *
                (count(lit(1)) - sum("pos")).cast("double")), 9).as("auc"))
      },
      Some("""WITH ranked AS (
        |  SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos,
        |    row_number() OVER (ORDER BY CAST(embedding[1] AS DOUBLE) ASC, vec_id ASC) AS rnk
        |  FROM embeddings
        |)
        |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(count(*) - sum(pos) AS BIGINT) AS n_neg,
        |  ROUND((CAST(sum(pos * rnk) AS DOUBLE) - (CAST(sum(pos) AS DOUBLE) * (CAST(sum(pos) AS DOUBLE) + 1.0)) / 2.0)
        |    / (CAST(sum(pos) AS DOUBLE) * CAST(count(*) - sum(pos) AS DOUBLE)), 9) AS auc
        |FROM ranked""".stripMargin)),

    // O10 — seeded deterministic sample via md5-ordered row_number.
    Q("o01_seeded_sample",
      (s, d) => {
        val o = Tables.orders(s, d)
        // top-100 by seeded hash order — orderBy+limit plans as
        // TakeOrderedAndProject (per-partition top-100 + one 100-row
        // merge), never a global single-partition window sort.
        o.orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
          .limit(100)
          .select(col("o_orderkey"), col("o_orderpriority"))
      },
      Some("""SELECT o_orderkey, o_orderpriority FROM (
        |  SELECT *, row_number() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 100""".stripMargin)),

    // A6 — COMBINED metrics row (combine_metrics): sums + recomputed
    // ratios + TP-weighted LocA across the two derived sequences.
    Q("m09_combined_metrics", Seq(Derived.GtStore, Derived.TracksStore),
      (s, d) => {
        val gt = Derived.table(s, d, "gt")
        val tr = Derived.table(s, d, "tracks")
        val per = graft.operators.MotEval.metrics(gt, tr, 0.3)
        graft.operators.MotEval.combine(per)
          .select(col("seq"),
            col("CLR_TP").cast("long").as("CLR_TP"),
            col("CLR_FN").cast("long").as("CLR_FN"),
            col("IDSW").cast("long").as("IDSW"),
            col("Frag").cast("long").as("Frag"),
            col("IDTP").cast("long").as("IDTP"),
            round(col("CLR_Re"), 9).as("CLR_Re"),
            round(col("LocA"), 9).as("LocA"),
            round(col("IDF1"), 9).as("IDF1"))
      },
      Some {
        // per-seq CTE chain = m02's oracle with UNROUNDED ratios, then A6.
        val body = MotQ.metricsCtes + "\n" + MotQ.metricsSelect(rounded = false)
        // hoist the WITH: wrap the whole per-seq query as a subselect
        s"""SELECT 'COMBINED' AS seq,
           |  CAST(sum(CLR_TP) AS BIGINT) AS CLR_TP,
           |  CAST(sum(CLR_FN) AS BIGINT) AS CLR_FN,
           |  CAST(sum(IDSW) AS BIGINT) AS IDSW,
           |  CAST(sum(Frag) AS BIGINT) AS Frag,
           |  CAST(sum(IDTP) AS BIGINT) AS IDTP,
           |  ROUND(CASE WHEN sum(GT_Dets) > 0 THEN CAST(sum(CLR_TP) AS DOUBLE) / sum(GT_Dets) ELSE 0.0 END, 9) AS CLR_Re,
           |  ROUND(CASE WHEN sum(CLR_TP) > 0 THEN sum(LocA * CLR_TP) / sum(CLR_TP) ELSE 0.0 END, 9) AS LocA,
           |  ROUND(CASE WHEN 2 * sum(IDTP) + sum(IDFN) + sum(IDFP) > 0
           |    THEN 2.0 * sum(IDTP) / (2 * sum(IDTP) + sum(IDFN) + sum(IDFP)) ELSE 0.0 END, 9) AS IDF1
           |FROM (
           |$body
           |) per_seq""".stripMargin
      }),

    // S1/S4/E9/O2 — MOT CSV round-trip: write the derived tracks in the
    // 10-column MOT layout (zero-padded frames, (id, frame) sort), read
    // back with the schema'd reader, aggregate. Oracle aggregates the
    // source relation directly — equality proves the round-trip is
    // lossless.
    Q("s03_mot_roundtrip", Seq(Derived.TracksStore),
      (s, d) => {
        // one output dir per dataset, recorded with the store dirs so a
        // throwaway dataset copy's cleanup finds it; the dirs of the
        // former `graft_mot_rt_<data dir>` naming are deleted
        graft.sources.ArtifactStore.retirePrefixed(s, "graft_mot_rt_")
        val tmp = graft.sources.ArtifactStore.datasetDir("graft_mot_rt",
          Derived.TracksStore.sources.map(new java.io.File(d, _)))
        val tracks = Derived.table(s, d, "tracks")
          .select(format_string("%06d", col("frameIdx")).as("frame"),
            col("id"), col("x"), col("y"), col("w"), col("h"), col("conf"))
        graft.mot.MotCsv.write(tracks, tmp)
        val back = graft.mot.MotCsv.read(s, tmp)
        back.agg(
          count(lit(1)).as("n_rows"),
          countDistinct("id").as("n_ids"),
          sum(round(col("conf") * 100).cast("long")).as("conf_cents"),
          sum(col("x")).as("sum_x"),
          min("frame").as("min_frame"))
      },
      Some(s"""WITH ${Derived.motCtes}
        |SELECT count(*) AS n_rows, count(DISTINCT id) AS n_ids,
        |  CAST(sum(CAST(ROUND(conf * 100) AS BIGINT)) AS BIGINT) AS conf_cents,
        |  sum(x) AS sum_x,
        |  lpad(CAST(min(frameIdx) AS VARCHAR), 6, '0') AS min_frame
        |FROM tracks""".stripMargin)),

    // M7 — real Structured Streaming: file source → event-time tumbling
    // window (watermarked) → parquet sink, drained (AvailableNow). The
    // oracle is the batch equivalent — exact agreement because the
    // stream drains completely.
    Q("st1_stream_window",
      (s, d) => withStreamShuffle(s) {
        val schema = Tables.events(s, d).schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          .withColumn("et", Tables.eventTime(schema("ts").dataType))
          .withWatermark("et", "1 hour")
          .groupBy(window(col("et"), "1 hour")).count()
        Drain.toSink(stream, "graft_drain_st1", d, Seq("events.parquet"), "complete")(identity)
          .select(unix_millis(col("window.start")).as("hour_ms"),
            col("count").as("n_events"))
      },
      Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin)),

    // M7 — streaming stateful dedup: two streams of the same source
    // unioned (guaranteed duplicates) → WATERMARKED dedup on the key →
    // append sink. `dropDuplicatesWithinWatermark` bounds the state
    // store: a key's entry is evicted once the event-time watermark
    // passes its timestamp + delay, where plain dropDuplicates would
    // grow state forever on a continuous stream (the 100 TB posture).
    // Under an AvailableNow drain the dedup is exact — every event_id
    // emits exactly once — so the batch-distinct oracle still matches.
    // That exactness leans on both union legs (one parquet file each)
    // landing in ONE microbatch: a duplicate arriving in a later batch
    // is only suppressed while its key is within the watermark delay.
    // If source batching ever split the legs, the delay must cover the
    // data's full event-time span (at sf0.1 the events table spans ~30
    // days — a production config would size the delay from that span,
    // trading state for dedup completeness; that trade IS the operator).
    Q("st2_stream_dedup",
      (s, d) => withStreamShuffle(s) {
        val schema = Tables.events(s, d).schema
        def src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
        val deduped = src.union(src)
          .withColumn("et", Tables.eventTime(schema("ts").dataType))
          .withWatermark("et", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
        Drain.toSink(deduped, "graft_drain_st2", d, Seq("events.parquet"))(_.select("event_type"))
          .groupBy("event_type").agg(count(lit(1)).as("n_events"))
      },
      Some("""SELECT event_type, count(*) AS n_events FROM events GROUP BY 1""")),

    // M7 — streaming SESSION windows (the reference's only session-like
    // construct is batch gaps-and-islands, A12; this is its streaming
    // generalization): session_window(10 min) per user, append mode +
    // watermark, drained (AvailableNow). Append only emits sessions the
    // final watermark (maxET − 1 s) has closed, so BOTH sides filter to
    // sessions ending strictly 2 s before maxET — the compared set is
    // identical regardless of the engine's ≤/< boundary choice. Oracle =
    // batch gaps-and-islands with the same ≥10-min break rule.
    Q("st3_stream_session",
      (s, d) => withStreamShuffle(s) {
        val schema = Tables.events(s, d).schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          // floor event time to MILLISECONDS: the oracle sessionizes on
          // epoch_ms, and a micro-precision gap decision within 1 ms of
          // the 10-min boundary would split differently on each side
          .withColumn("et", Tables.eventTimeMs(schema("ts").dataType))
          .withWatermark("et", "1 second")
          .groupBy(col("user_id"), session_window(col("et"), "10 minutes"))
          .agg(count(lit(1)).as("n_events"))
        val maxMs = Tables.eventsMs(s, d).agg(max("ms")).head().getLong(0)
        Drain.toSink(stream, "graft_drain_st3", d, Seq("events.parquet"))(identity)
          .select(col("user_id"),
            unix_millis(col("session_window.start")).as("sess_start_ms"),
            unix_millis(col("session_window.end")).as("sess_end_ms"),
            col("n_events"))
          .filter(col("sess_end_ms") < maxMs - 2000)
      },
      Some("""WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS ms FROM events
        |), l AS (
        |  SELECT user_id, ms,
        |    lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS pms
        |  FROM ev
        |), g AS (
        |  SELECT user_id, ms,
        |    sum(CASE WHEN pms IS NULL OR ms - pms >= 600000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ms
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM l
        |), sess AS (
        |  SELECT user_id, min(ms) AS sess_start_ms,
        |    max(ms) + 600000 AS sess_end_ms,
        |    count(*) AS n_events
        |  FROM g GROUP BY user_id, sid
        |)
        |SELECT user_id, sess_start_ms, sess_end_ms, n_events FROM sess
        |WHERE sess_end_ms < (SELECT max(ms) FROM ev) - 2000""".stripMargin)),

    // M7 — stream-stream INTERVAL JOIN (the last Structured Streaming
    // join surface): views joined to same-user purchases within the
    // following hour, both sides watermarked + a two-sided time
    // constraint so the state store evicts rows once the watermark
    // passes their join window — the shape that keeps a continuous
    // two-stream join bounded at 100 TB. Event times are ms-floored on
    // both engines (st3's rule) and the interval bounds are integer
    // millis, so the pair set is exact — no FP anywhere. Under an
    // AvailableNow drain both legs drain completely and inner-join
    // state outlives the drain, so every qualifying pair emits exactly
    // once and the batch-join oracle matches.
    Q("st4_stream_join",
      (s, d) => withStreamShuffle(s) {
        val schema = Tables.events(s, d).schema
        def src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          .withColumn("et", Tables.eventTimeMs(schema("ts").dataType))
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
            col("et").as("v_et"))
          .withWatermark("v_et", "1 hour")
        val buys = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
            col("et").as("b_et"))
          .withWatermark("b_et", "1 hour")
        val pairs = views.join(buys,
            col("v_user") === col("b_user") &&
              col("b_et") >= col("v_et") &&
              col("b_et") <= col("v_et") + expr("interval 1 hour"))
          .select(col("view_id"), col("buy_id"))
        Drain.toSink(pairs, "graft_drain_st4", d, Seq("events.parquet"))(identity)
      },
      Some("""SELECT v.event_id AS view_id, b.event_id AS buy_id
        |FROM events v JOIN events b
        |  ON v.user_id = b.user_id
        | AND v.event_type = 'view' AND b.event_type = 'purchase'
        | AND epoch_ms(b.ts) >= epoch_ms(v.ts)
        | AND epoch_ms(b.ts) <= epoch_ms(v.ts) + 3600000""".stripMargin)),

    // Streaming corpus cleaning: the t09 quality gate applied to a
    // DOCUMENT STREAM. Every signal (token band, stopword floor,
    // repetition caps) is computed per-row by repetitionStatsInline's
    // higher-order array expressions — a stateless map+filter, so the
    // plan has no state store, no watermark, and no shuffle: the shape
    // that filters a firehose at ingest. The corpus-level OOV signal is
    // deliberately absent — a vocab is a batch artifact; production
    // would score against a broadcast/literal vocab like t06's.
    Q("st5_stream_quality",
      (s, d) => withStreamShuffle(s) {
        val schema = Tables.documents(s, d).schema
        val gated = TextAnalysis.repetitionStatsInline(
            s.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet").parquet(d))
          .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
          .withColumn("n_stop",
            size(filter(Text.tokens(col("text")),
              t => t.isin("the", "a", "of"))).cast("long"))
          .filter(col("n_tokens").between(20, 90)
            && col("n_stop") * 20 >= col("n_tokens")
            && col("dup_gram3") === 0 && col("top_gram2") <= 2)
          .select("doc_id", "lang", "source", "n_tokens", "n_stop",
            "top_gram2", "dup_gram3")
        Drain.toSink(gated, "graft_drain_st5", d, Seq("documents.parquet"))(identity)
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, source, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tk
        |  FROM documents
        |), gr AS (
        |  SELECT doc_id, lang, source, tk,
        |    CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1]) ELSE CAST([] AS VARCHAR[]) END AS g2,
        |    CASE WHEN len(tk) >= 3 THEN list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) ELSE CAST([] AS VARCHAR[]) END AS g3
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(tk, t -> t IN ('the', 'a', 'of'))) AS BIGINT) AS n_stop,
        |    CAST(CASE WHEN len(g2) > 0 THEN list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x)))) ELSE 0 END AS BIGINT) AS top_gram2,
        |    CAST(len(list_filter(g3, x -> len(list_filter(g3, y -> y = x)) > 1)) AS BIGINT) AS dup_gram3
        |  FROM gr
        |)
        |SELECT doc_id, lang, source, n_tokens, n_stop, top_gram2, dup_gram3
        |FROM sig
        |WHERE n_tokens BETWEEN 20 AND 90 AND n_stop * 20 >= n_tokens
        |  AND dup_gram3 = 0 AND top_gram2 <= 2""".stripMargin)),

    // Streaming classifier serving — the third form of the classifier
    // tier (t17 batch train/holdout, t18 incremental artifact probe,
    // st9 the live ingest stream): each arriving micro-batch is scored
    // under the frozen persisted model, the CCNet deployment loop as a
    // running stream. The batch slice (doc_id ≡ 7 mod 10) arrives as
    // an AvailableNow stream and must answer row-identically to t18 —
    // the two share one oracle; the spec-level multi-batch run
    // (StreamingParitySpec) additionally pins that a split into
    // several triggers is invisible in the final sink.
    Q("st9_stream_classify", Seq(TextQ.ClfStore),
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextQ.ClfStore.resolve(s, d)  // build/refresh at batch parallelism
        streamClassify(s, d,
          s.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet").parquet(d)
            .filter(TextQ.DocBatchPred))
      },
      Some(TextQ.hashClfOracleSql(
        trainWhere = s"gate < ${TextQ.ClfGateHalf} AND ${TextQ.DocBatchPredSqlNot}",
        scoreWhere = "((doc_id % 10) + 10) % 10 = 7"))),

    // Streaming decontamination — the live-ingest form of the frozen
    // eval-gram tier (d10/d23 batch, d25 incremental artifact probe,
    // st10 the running stream): each arriving micro-batch of train
    // documents is checked for eval overlap under the persisted sketch
    // + exact relation, the pre-training hygiene gate as a stream. The
    // batch slice arrives as an AvailableNow stream and must answer
    // row-identically to d25 — the two share one oracle; the
    // spec-level multi-batch run (StreamingParitySpec) additionally
    // pins that a split into several triggers is invisible.
    Q("st10_stream_decontam", Seq(TextQ.DecontamStore),
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextQ.DecontamStore.resolve(s, d)  // build/refresh at batch parallelism
        streamDecontam(s, d,
          s.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet").parquet(d)
            .filter(TextQ.DocBatchPred &&
              col("source") =!= TextQ.DecontamEvalSrc))
      },
      Some(TextQ.decontamOracleSql(TextQ.DecontamBatchWhereSql))),

    // Streaming ANN ingest probe — the embedding analogue of st6: each
    // arriving micro-batch of vectors probes the PERSISTED
    // cell-partitioned PQ index (AnnStore) for its nearest
    // neighbors, with the batch's probed cells pushed as partition
    // filters on the index FileScan — per-trigger cost scales with the
    // batch's cell spread, never the index. The query set (the vec_id
    // < 10 slice arriving as one AvailableNow batch) matches s08/s09's,
    // and the PQ encode is deterministic, so all three forms — inline
    // (s08), stored (s09), streaming (st8) — share ONE oracle and must
    // answer row-identically.
    Q("st8_stream_ann_probe", Seq(TextQ.AnnStore),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // explicit nprobe: the catalog row's oracle hash must not
        // depend on whether ann-maintain has written a suggested_nprobe
        // sidecar into this generation (the CLI/default path reads it)
        streamAnnProbe(s, d,
          s.readStream.schema(emb.schema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(d)
            .filter(col("vec_id") < 10),
          nprobe = Some(2))
      },
      Some(TextQ.IvfPqOracleSql)),

    // Streaming ANN DELTA INGEST — st8 streams the QUERIES against a
    // frozen index; this streams the CORPUS side: arriving vectors are
    // encoded under the frozen corpus model per trigger and appended
    // to the delta code table, making the stored index append-only
    // between maintenance generations (the FAISS main+delta serving
    // shape as a live stream). The batch slice arrives as an
    // AvailableNow stream and the post-drain probe over main ∪ delta
    // must answer row-identically to s12 — the two share one oracle;
    // the spec-level multi-batch run (StreamingParitySpec)
    // additionally pins that a split into several triggers is
    // invisible.
    Q("st11_stream_ann_delta", Seq(TextQ.AnnCorpusStore),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        TextQ.AnnCorpusStore.resolve(s, d)  // build/refresh at batch parallelism
        streamAnnDelta(s, d,
          s.readStream.schema(emb.schema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(d)
            .filter(TextQ.SemBatchPred),
          nprobe = Some(2))
      },
      Some(TextQ.ivfPqOracleSql(TextQ.VecCorpusWhereSql))),

    // Streaming incremental CLUSTER MAINTENANCE — st6 gates ingest;
    // this closes the loop: each micro-batch's verified duplicate
    // edges are star-merged into the maintained corpus cluster labels
    // (Dedup.ccIncremental over the persisted ClusterStore), so the
    // clustering is a LIVE table the stream keeps current, never a
    // batch job re-run over the corpus. Single-batch over the src0
    // slice ≡ d17 (the same oracle checks the fixpoint); the
    // spec-level multi-batch run (StreamingParitySpec) additionally
    // pins fixpoint identity and untouched-component id stability
    // across micro-batch splits.
    Q("st7_stream_cluster_maintain", Seq(TextQ.BandStore, TextQ.ClusterStore, TextQ.GramStore),
      (s, d) => {
        import graft.functions.Text
        val docs = Tables.documents(s, d)
        // build/refresh EVERY maintained input at batch parallelism:
        // the band store, the gram store (verify side), and the corpus
        // label artifact (whose build runs full connected components)
        // are batch maintenance — only the per-micro-batch probe+merge
        // belongs inside the 4-partition stream scope
        TextQ.BandStore.resolve(s, d)
        TextQ.gramSetsOf(s, d)
        TextQ.prevClusters(s, d)
        streamClusterMaintain(s, d,
          s.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet").parquet(d)
            .filter(col("source") === "src0"))
      },
      Some(TextQ.ClusterOracleSql)),

    // Streaming ingest dedup: a document stream (the src0 slice)
    // probes the existing corpus's PERSISTED band-signature table with
    // a stream-static equi-join — the online form of d09. The stream
    // side is stateless end to end: graft_bandsigs computes an
    // arriving doc's MinHash band signatures per-row (no token
    // shuffle, no state), the static side is the batch artifact a
    // production pipeline maintains, and the exact-Jaccard verify is
    // the native sorted-merge intersect. Emitted rows keep the band
    // column, so no stateful distinct is needed — a pair colliding in
    // both bands appears once per band, deterministically.
    //
    // The band artifact and gram store are materialized BEFORE
    // entering the stream's 4-partition shuffle scope: building them
    // is batch maintenance that wants full cluster parallelism; only
    // the per-micro-batch probe should run at stream settings. A
    // production pipeline reads both from storage, so the per-batch
    // plan probing persisted tables is the faithful shape.
    //
    // The probe itself runs in the per-batch function so each micro-batch can
    // PUSH ITS OWN KEYS into the static side: the batch's distinct
    // band-signature prefixes become a partition filter on the
    // sig_pfx-partitioned band artifact, and the static FileScan reads
    // only the ≤256ths of the signature store the batch can collide
    // with (PlanShapeSpec pins the PartitionFilters). This is what
    // survives 100×: per-trigger cost scales with the batch's key
    // spread, not the corpus — the previous shape re-scanned the whole
    // cached corpus signature table every micro-batch, the one
    // superlinear cross-SF curve of r13. (The gram-side verify join
    // touches only post-collision candidates; its static input is the
    // memoized in-memory gram store — at 100 TB that store would be
    // bucketed by doc_id for the same pruned-probe effect.)
    Q("st6_stream_ingest_dedup", Seq(TextQ.BandStore, TextQ.GramStore),
      (s, d) =>
        // corpus side capped per bucket (the d09/d15 ingest guard) via
        // the artifact's PRECOMPUTED corpus_rank — a partition-pruned
        // scan FILTER per trigger, zero windows (the rank is
        // bucket-local, so the stored rank is valid under any prefix
        // pruning)
        streamIngestDedup(s, d, "graft_drain_st6", prefixes =>
          graft.operators.Dedup.bandsKeptByRank(
              TextQ.prunedCorpusBands(s, d, prefixes, withCorpusRank = true),
              "corpus_rank", TextQ.D05MaxBucket,
              metricName = "graft_lsh_ingest_guard")
            .select(col("band"), col("band_sig"), col("doc_id").as("doc_b"))),
      // banding + gram-set text shared with d09's oracle (TextQ.BandCtes)
      // so the two descriptions of the same artifact cannot drift
      Some(ingestPairsSqlFrom(
        s"""corpus_side AS (
        |  SELECT doc_id, band, band_sig FROM (
        |    SELECT b.doc_id, b.band, b.band_sig,
        |      row_number() OVER (PARTITION BY b.band, b.band_sig ORDER BY b.doc_id) AS rn
        |    FROM banded b JOIN src s ON s.doc_id = b.doc_id AND s.source <> 'src0') t
        |  WHERE rn <= ${TextQ.D05MaxBucket}
        |)""".stripMargin))),

    // The ROUTED streaming ingest gate — st6 with d26's routing on the
    // per-trigger corpus side (the streaming executor of the
    // dedup-maintain route= recommendation): overflowing buckets'
    // FULL membership is probed (never truncated — a new doc whose
    // only duplicates rank past the cap is still caught at the gate),
    // everything else stays capped; the routing decision reads the
    // partition-pruned artifact's precomputed corpus_rank, bucket-local
    // so it commutes with the prefix pruning (DedupGuardSpec). The
    // oracle replays the routed union branch by branch at RoutedCap.
    Q("st12_stream_routed_dedup", Seq(TextQ.BandStore, TextQ.GramStore),
      (s, d) =>
        streamIngestDedup(s, d, "graft_drain_st12", prefixes =>
          graft.operators.Dedup.bandsRoutedByRank(
              TextQ.prunedCorpusBands(s, d, prefixes, withCorpusRank = true),
              "corpus_rank", TextQ.RoutedCap,
              metricName = "graft_lsh_route_stream")
            .withColumnRenamed("doc_id", "doc_b")),
      Some(ingestPairsSqlFrom(
        s"""corpus_ranked AS (
        |  SELECT b.doc_id, b.band, b.band_sig,
        |    row_number() OVER (PARTITION BY b.band, b.band_sig ORDER BY b.doc_id) AS rn
        |  FROM banded b JOIN src s ON s.doc_id = b.doc_id AND s.source <> 'src0'
        |), overflow AS (
        |  SELECT band, band_sig FROM corpus_ranked WHERE rn = ${TextQ.RoutedCap} + 1
        |), corpus_side AS (
        |  SELECT c.doc_id, c.band, c.band_sig FROM corpus_ranked c
        |  LEFT JOIN overflow o ON c.band = o.band AND c.band_sig = o.band_sig
        |  WHERE o.band IS NULL AND c.rn <= ${TextQ.RoutedCap}
        |  UNION ALL
        |  SELECT c.doc_id, c.band, c.band_sig FROM corpus_ranked c
        |  JOIN overflow o ON c.band = o.band AND c.band_sig = o.band_sig
        |)""".stripMargin))),

    // P10 — sliding-window tile-spec generator with edge snapping
    // (reference src/detection.py:1358-1368), duplicates preserved.
    Q("f03_tile_specs",
      (s, d) => {
        val imgs = Tables.part(s, d).filter(col("p_partkey") < 400)
          .select(col("p_partkey").as("img_id"),
            (lit(300) + pmod(col("p_partkey"), lit(1200))).cast("int").as("h"),
            (lit(300) + col("p_size") * 40).cast("int").as("w"))
        graft.operators.Tiling.tiles(imgs, "h", "w", winH = 512, winW = 512, overlap = 0.35)
          .groupBy("img_id", "direct").agg(
            count(lit(1)).as("n_tiles"),
            min("tile_x").cast("long").as("min_x"),
            max("tile_x").cast("long").as("max_x"),
            max("tile_y").cast("long").as("max_y"))
      },
      Some("""WITH imgs AS (
        |  SELECT p_partkey AS img_id,
        |    CAST(300 + (p_partkey % 1200) AS INT) AS h,
        |    CAST(300 + p_size * 40 AS INT) AS w
        |  FROM part WHERE p_partkey < 400
        |), tiles AS (
        |  SELECT i.img_id, greatest(i.h, i.w) <= 512 AS direct,
        |    CASE WHEN greatest(i.h, i.w) <= 512 THEN 0
        |         WHEN xs.x + 512 > i.w THEN i.w - 512 ELSE xs.x END AS tile_x,
        |    CASE WHEN greatest(i.h, i.w) <= 512 THEN 0
        |         WHEN ys.y + 512 > i.h THEN i.h - 512 ELSE ys.y END AS tile_y
        |  FROM imgs i,
        |    LATERAL (SELECT unnest(CASE WHEN greatest(i.h, i.w) <= 512 THEN [0]
        |      ELSE range(0, i.h, 332) END) AS y) ys,
        |    LATERAL (SELECT unnest(CASE WHEN greatest(i.h, i.w) <= 512 THEN [0]
        |      ELSE range(0, i.w, 332) END) AS x) xs
        |)
        |SELECT img_id, direct, count(*) AS n_tiles,
        |  CAST(min(tile_x) AS BIGINT) AS min_x,
        |  CAST(max(tile_x) AS BIGINT) AS max_x,
        |  CAST(max(tile_y) AS BIGINT) AS max_y
        |FROM tiles GROUP BY img_id, direct""".stripMargin)),

    // 100 TB posture: sketch-based distincts (A2 scale variant). The HLL
    // estimate itself is engine-specific, so the oracle-checked output is
    // the exact count plus `approx_ok` = |approx−exact|/exact < 5%; the
    // oracle asserts TRUE, so sketch drift beyond the bound hash-fails.
    Q("p01_approx_distinct",
      (s, d) => {
        val e = Tables.events(s, d)
        e.groupBy("event_type").agg(
            countDistinct("user_id").as("exact"),
            approx_count_distinct("user_id", 0.02).as("approx"))
          .select(col("event_type"), col("exact"),
            (abs(col("approx") - col("exact")).cast("double") / col("exact") < 0.05)
              .as("approx_ok"))
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact, TRUE AS approx_ok
        |FROM events GROUP BY 1""".stripMargin)),

    // 100 TB posture: approximate quantiles (sketch family beside p01's
    // HLL). The sketch guarantee is on RANK, so the oracle-checked
    // output is the exact quantile plus `okXX` = approx lies within the
    // exact [q−0.002, q+0.002] quantile band; the oracle asserts TRUE.
    Q("p02_approx_quantiles",
      (s, d) => {
        val e = Tables.events(s, d)
        def exact(q: Double) = expr(s"percentile(value, $q)")
        e.groupBy("event_type").agg(
            round(exact(0.5), 6).as("p50"),
            round(exact(0.9), 6).as("p90"),
            percentile_approx(col("value"), lit(0.5), lit(10000)).as("a50"),
            percentile_approx(col("value"), lit(0.9), lit(10000)).as("a90"),
            exact(0.498).as("lo50"), exact(0.502).as("hi50"),
            exact(0.898).as("lo90"), exact(0.902).as("hi90"))
          .select(col("event_type"), col("p50"), col("p90"),
            (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("ok50"),
            (col("a90") >= col("lo90") && col("a90") <= col("hi90")).as("ok90"))
      },
      Some("""SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  TRUE AS ok50, TRUE AS ok90
        |FROM events GROUP BY 1""".stripMargin)),

    // 100 TB posture: count-min-sketch heavy hitters (third sketch
    // family beside HLL p01 / quantile p02). CMS add+merge are counter
    // sums — commutative, so estimates are partition-independent with a
    // fixed seed. The CMS guarantee is one-sided (est ≥ exact, and
    // est ≤ exact + eps·N w.h.p.): the oracle-checked output is the
    // exact top-10 user counts plus `in_bound` asserting exactly that.
    // The sketch aggregates distributed; only the 10-probe readout is
    // driver-side (the sketch IS the reduction).
    Q("p03_frequent_items",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, d)
        val eps = 0.005
        val sketchBytes = e.agg(
          expr(s"count_min_sketch(user_id, CAST($eps AS DOUBLE), CAST(0.99 AS DOUBLE), 42)"))
          .head().getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketchBytes))
        // One aggregation pass feeds both the grand total and the
        // top-10: counts is tiny (|users| rows) and cached, and the
        // orderBy+limit plans as TakeOrderedAndProject — a per-partition
        // top-10 + single 10-row merge, never a global sort. The
        // row_number window only ranks the 10 surviving rows.
        val counts = e.groupBy("user_id").agg(count(lit(1)).as("cnt")).cache()
        // coalesce: sum over an empty table is NULL — degrade to 0, not NPE
        val total = counts.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
        val top = counts.orderBy(col("cnt").desc, col("user_id").asc).limit(10)
        // Rank WITHOUT a window: rnk = #rows sorting at-or-before each
        // row, via a broadcast self-join over the BOUNDED top-10 set —
        // no partition-less WindowExec in the plan (its warning would
        // mask real unbounded single-partition regressions elsewhere).
        val other = top.select(col("user_id").as("o_uid"), col("cnt").as("o_cnt"))
        val ranked = top.join(broadcast(other),
            col("o_cnt") > col("cnt") ||
              (col("o_cnt") === col("cnt") && col("o_uid") <= col("user_id")))
          .groupBy("user_id", "cnt").agg(count(lit(1)).as("rnk"))
        val est = udf((uid: Long) => cms.estimateCount(uid))
        ranked.withColumn("e", est(col("user_id")))
          .select(col("user_id"), col("cnt"), col("rnk").cast("long").as("rnk"),
            (col("e") >= col("cnt") && col("e") <= col("cnt") + lit(eps * total))
              .as("in_bound"))
      },
      Some("""SELECT user_id, cnt, rnk, TRUE AS in_bound FROM (
        |  SELECT user_id, count(*) AS cnt,
        |    row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rnk
        |  FROM events GROUP BY user_id) t
        |WHERE rnk <= 10""".stripMargin)),

    // A17 — average precision (the reference's second training-eval
    // metric, src/embedding.py:1754): AP = mean over positives of
    // precision@rank, score-desc order.
    Q("a02_average_precision",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .withColumn("pos", (col("label") >= 5).cast("int"))
          .withColumn("score", element_at(col("embedding"), 1).cast("double"))
        // RangeRank: rank + running positive count with per-bucket
        // windows and broadcast prefix offsets — same values as the
        // global window, no single-partition sort.
        val ranked = graft.operators.RangeRank.withGlobalRank(
          e, col("score"), col("vec_id"), descending = true, rnkName = "rnk",
          cum = Some((col("pos"), "cum_pos")))
        // per-term 1e12 quantization -> order-independent integer sum
        ranked.filter(col("pos") === 1)
          .agg(count(lit(1)).cast("long").as("n_pos"),
            round(sum(round(col("cum_pos").cast("double") / col("rnk") * 1e12)
              .cast("long")).cast("double") / count(lit(1)) / 1e12, 9)
              .as("average_precision"))
      },
      Some("""WITH ranked AS (
        |  SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos,
        |    row_number() OVER w AS rnk,
        |    sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) OVER (
        |      ORDER BY CAST(embedding[1] AS DOUBLE) DESC, vec_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        |  FROM embeddings
        |  WINDOW w AS (ORDER BY CAST(embedding[1] AS DOUBLE) DESC, vec_id ASC)
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_pos,
        |  ROUND(CAST(CAST(sum(CAST(ROUND(CAST(cum_pos AS DOUBLE) / rnk * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) / 1e12, 9) AS average_precision
        |FROM ranked WHERE pos = 1""".stripMargin)),

    // S15 relational half — the render draw plan on a 640×480 canvas:
    // integer clip (boxes painting zero pixels dropped — 4.5k of 12k
    // dets at this canvas), reference label anchor max(y1-10, 20)
    // (visualize.py:528), md5-derived per-id color (E13). The pixel
    // half (band painting, bitmap-digit labels, PNG/GIF encode) is
    // asserted per-pixel in RenderSpec — rasters aren't SQL.
    Q("v01_draw_plan", Seq(Derived.DetsStore),
      (s, d) => graft.sinks.Render.drawPlan(
        Derived.table(s, d, "dets"), width = 640, height = 480),
      Some(s"""WITH ${Derived.detCte},
        |plan AS (
        |  SELECT seq, frame, id,
        |    CAST(floor(x1) AS INT) AS ix1, CAST(floor(y1) AS INT) AS iy1,
        |    CAST(floor(x2) AS INT) AS ix2, CAST(floor(y2) AS INT) AS iy2,
        |    md5(CAST(id AS VARCHAR)) AS h
        |  FROM dets
        |)
        |SELECT seq, frame, id,
        |  CAST(greatest(ix1, 0) AS INT) AS px1, CAST(greatest(iy1, 0) AS INT) AS py1,
        |  CAST(least(ix2, 639) AS INT) AS px2, CAST(least(iy2, 479) AS INT) AS py2,
        |  text_x, CAST(greatest(iy1 - 10, 20) AS INT) AS text_y,
        |  CAST((strpos('0123456789abcdef', substr(h,1,1))-1)*16 + strpos('0123456789abcdef', substr(h,2,1))-1 AS INT) AS r,
        |  CAST((strpos('0123456789abcdef', substr(h,3,1))-1)*16 + strpos('0123456789abcdef', substr(h,4,1))-1 AS INT) AS g,
        |  CAST((strpos('0123456789abcdef', substr(h,5,1))-1)*16 + strpos('0123456789abcdef', substr(h,6,1))-1 AS INT) AS b
        |FROM (SELECT *, ix1 AS text_x FROM plan) p
        |WHERE ix1 <= 639 AND ix2 >= 0 AND iy1 <= 479 AND iy2 >= 0""".stripMargin))
  )
}
