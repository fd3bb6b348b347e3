package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Physical-plan regression tests: the 100 TB posture documented in
  * PLANS.md, asserted on the actual plans — a refactor that silently
  * adds a shuffle, loses the rank-limit pushdown, or drops a native
  * expression out of the plan fails here instead of surfacing as a
  * cluster-scale regression. String-matched against the AQE initial
  * plan (shapes below are decided at planning time, not by runtime
  * re-optimization).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  /** Assert the hot-cell posture on a probe plan: every CELL-keyed
    * broadcast join builds from the query side — the stored index's
    * FileScan must never sit on a broadcast build side (at 100 TB the
    * index side is the corpus; see SimilaritySearch's probe-join
    * notes and the skewed-store test below).
    */
  private def assertIndexStreams(sp: org.apache.spark.sql.execution.SparkPlan,
                                 storeTag: String): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val probeJoins = sp.collect {
      case b: BroadcastHashJoinExec
        if b.leftKeys.exists(_.references.exists(_.name == "cell")) => b
    }
    assert(probeJoins.nonEmpty, s"cell probe must be a broadcast hash join:\n$sp")
    probeJoins.foreach { b =>
      val buildPlan = b.buildSide match {
        case BuildLeft => b.left
        case BuildRight => b.right
      }
      val storeScans = buildPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(storeTag)) => f
      }
      assert(storeScans.isEmpty,
        s"the stored index must STREAM, never be the broadcast build side:\n$b")
    }
  }

  test("q21_asof_join: one hash shuffle, window carry-forward, no join operator") {
    val p = plan("q21_asof_join")
    assert(shuffles(p) == 1, s"expected exactly 1 shuffle:\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not plan a join:\n$p")
  }

  test("d03_simhash: native one-pass projection, zero shuffle") {
    // SimHash at corpus scale is a map-side projection: the native
    // graft_simhash64 expression replaced the explode → 64-aggregate
    // groupBy plan, so the fingerprint query must scan documents and
    // project — any Exchange here is a regression to the shuffle form
    val p = plan("d03_simhash")
    assert(p.contains("graft_simhash64"),
      s"d03 must use the native simhash expression:\n${p.take(3000)}")
    assert(!p.contains("Exchange"),
      s"d03 must be a shuffle-free projection:\n${p.take(3000)}")
  }

  test("d14_simhash_ball: chunk candidate join is equi-keyed, never a cross product") {
    val p = plan("d14_simhash_ball")
    // Pigeonhole candidate generation must plan as an equi-join on
    // (chunk, ckey) — a BroadcastNestedLoopJoin/CartesianProduct here
    // would mean the fingerprint pairing degenerated to all-pairs.
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"hamming-ball candidates must come from an equi-join:\n$p")
    assert(p.contains("chunk") && p.contains("ckey"),
      s"candidate join should key on (chunk, ckey):\n$p")
  }

  test("d16_simhash64_ball: chunk candidate join is equi-keyed, never a cross product") {
    val p = plan("d16_simhash64_ball")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"64-bit hamming-ball candidates must come from an equi-join:\n$p")
    assert(p.contains("chunk") && p.contains("ckey"),
      s"candidate join should key on (chunk, ckey):\n$p")
  }

  test("d18_simhash64_incremental: asymmetric chunk probe is equi-keyed off the fp artifact") {
    // The incremental tier must (a) never degenerate to a cross
    // product — candidates come from the (chunk, ckey) equi-join — and
    // (b) read BOTH sides' fingerprints from the persisted simhash
    // artifact, never re-fingerprint corpus text per ingest.
    graft.SessionMemo.reset(spark)
    val p = plan("d18_simhash64_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"incremental hamming-ball candidates must come from an equi-join:\n$p")
    assert(p.contains("chunk") && p.contains("ckey"),
      s"candidate join should key on (chunk, ckey):\n$p")
    assert(p.contains("graft_simhash_artifact"),
      s"d18 must FileScan the persisted fingerprint artifact:\n${p.take(4000)}")
    assert(!p.contains("documents.parquet"),
      s"d18 must not re-fingerprint raw documents text:\n${p.take(4000)}")
  }

  test("d15_band_artifact: corpus band table scans the on-disk artifact, not raw text") {
    val p = plan("d15_band_artifact")
    assert(p.contains("graft_band_artifact"),
      s"corpus candidates must come from a FileScan of the persisted artifact:\n$p")
    // The batch side still reads documents (it bands its own slice and
    // the Jaccard verify needs text) — but the candidate join must be
    // equi-keyed, never a cross product.
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("band consumers FileScan the persisted artifact — none re-bands the corpus") {
    // The steady-state production shape: band signatures are computed
    // once per corpus generation and persisted; every dedup consumer
    // probes the parquet artifact. A regression that silently
    // re-derives bands from raw text (tokenize + md5 per consumer, the
    // top bench cost through round 12) would replace the artifact
    // FileScan with a documents scan in these plans. The shared source
    // (bandSigs — feeds d05/d07 via scoredPairs and d12's star edges)
    // is pinned directly; d05 and d09 are pinned end-to-end (their
    // cached inputs print the build plan under InMemoryRelation).
    // d07/d12 checkpoint mid-query (lineage truncation hides the scan
    // from their FINAL plans) but consume the pinned sources.
    graft.SessionMemo.reset(spark)
    val src = graft.queries.TextQ.bandSigs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(src.contains("graft_band_artifact"),
      s"bandSigs must read the persisted artifact:\n${src.take(4000)}")
    assert(!src.contains("documents.parquet"),
      s"bandSigs must not re-band raw documents text:\n${src.take(4000)}")
    for (q <- Seq("d05_minhash_lsh_pairs", "d09_incremental_dedup")) {
      graft.SessionMemo.reset(spark)
      val p = plan(q)
      assert(p.contains("graft_band_artifact"),
        s"$q must FileScan the band artifact, not re-band raw text:\n${p.take(4000)}")
      // the Jaccard verify's gram sets come from the signature-store
      // artifact too — no per-consumer tokenize+hash+sort of the corpus
      assert(p.contains("graft_gram_artifact"),
        s"$q must FileScan the gram artifact, not re-tokenize raw text:\n${p.take(4000)}")
    }
  }

  test("st6: static band probe partition-prunes the sig_pfx-partitioned artifact") {
    // The stream-static ingest probe must push the micro-batch's
    // signature prefixes into the artifact FileScan as partition
    // filters — without them every trigger re-scans the whole corpus
    // signature store (r13's one superlinear cross-SF curve). The
    // batch-side key push happens in st6's foreachBatch; the static
    // shape it builds is pinned here directly.
    graft.SessionMemo.reset(spark)
    val probe = graft.queries.TextQ
      .prunedCorpusBands(spark, dir, Seq("x00", "x3f", "xab"))
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("graft_band_artifact"),
      s"probe must FileScan the persisted artifact:\n${p.take(4000)}")
    assert(p.contains("PartitionFilters") && {
      val pf = p.substring(p.indexOf("PartitionFilters"))
      pf.take(pf.indexOf("]") + 1).contains("sig_pfx")
    }, s"probe scan must carry a sig_pfx partition filter:\n${p.take(4000)}")
    // and the filter actually prunes: the scan's selected partitions
    // are bounded by the probe's prefix list, not the artifact's 256
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, p)
    assert(scans.forall(_.selectedPartitions.partitionCount <= 3),
      s"expected <=3 partitions read, got ${scans.map(_.selectedPartitions.partitionCount)}")
  }

  test("d21: semantic pair probe partition-prunes the cluster-partitioned state") {
    // the ingest's pair-candidate side reads the byclust/ copy of the
    // semantic artifact with the batch's touched clusters pushed as
    // PartitionFilters — members of touched clusters, never the corpus
    graft.SessionMemo.reset(spark)
    val probe = graft.queries.TextQ.prunedSemState(spark, dir, Seq(1, 3, 5))
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("graft_sem_artifact"),
      s"probe must FileScan the persisted semantic state:\n${p.take(4000)}")
    assert(p.contains("PartitionFilters") && {
      val pf = p.substring(p.indexOf("PartitionFilters"))
      pf.take(pf.indexOf("]") + 1).contains("cluster")
    }, s"probe scan must carry a cluster partition filter:\n${p.take(4000)}")
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, p)
    assert(scans.forall(_.selectedPartitions.partitionCount <= 3),
      s"expected <=3 partitions read, got ${scans.map(_.selectedPartitions.partitionCount)}")
  }

  test("s09: stored ANN index probe partition-prunes to the query's cells") {
    // the serving shape: the PQ code table is a cell-partitioned
    // on-disk index; a probe's nprobe cells must become
    // PartitionFilters on the FileScan (reading nprobe/nlist of the
    // index), and the plan must scan the artifact, not re-encode
    val p = plan("s09_ivf_pq_store")
    assert(p.contains("graft_ann_artifact"),
      s"s09 must FileScan the persisted index:\n${p.take(4000)}")
    // several scans print PartitionFilters (the base embeddings scans
    // print an empty list) — at least one must filter on cell
    assert("PartitionFilters: \\[[^\\]]*".r.findAllIn(p)
      .exists(_.contains("cell")),
      s"index scan must carry a cell partition filter:\n${p.take(4000)}")
    // collect from the pre-AQE physical plan: AdaptiveSparkPlanExec
    // hides its subtree from collect() until execution
    val scans = SparkEntry.queries("s09_ivf_pq_store")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_ann_artifact")) => f
      }
    assert(scans.nonEmpty, p)
    // the scan must read EXACTLY the probed cells' partitions
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.SimilaritySearch.ivfPqModel(emb,
      graft.queries.TextQ.AnnNlist, graft.queries.TextQ.AnnM, graft.queries.TextQ.AnnCb)
    val cells = graft.operators.SimilaritySearch.ivfPqProbedCells(
      emb.filter(col("vec_id") < 10), model, nprobe = 2)
    assert(scans.forall(_.selectedPartitions.partitionCount == cells.length),
      s"expected ${cells.length} partitions read, got " +
        scans.map(_.selectedPartitions.partitionCount).mkString(","))
    assertIndexStreams(
      SparkEntry.queries("s09_ivf_pq_store")(spark, dir).queryExecution.sparkPlan,
      "graft_ann_artifact")
  }

  test("s11: stored RESIDUAL index probe partition-prunes and reads rcodes, not the vectors") {
    // the residual tier rides the same dual-tier artifact: its probe
    // must FileScan the store with the probed cells as
    // PartitionFilters, read ONLY the rcodes column of the code tiers
    // (column pruning: s09's codes must not be fetched), and never
    // re-encode the corpus
    val p = plan("s11_ivf_rpq_store")
    assert(p.contains("graft_ann_artifact"),
      s"s11 must FileScan the persisted index:\n${p.take(4000)}")
    assert("PartitionFilters: \\[[^\\]]*".r.findAllIn(p)
      .exists(_.contains("cell")),
      s"index scan must carry a cell partition filter:\n${p.take(4000)}")
    val scans = SparkEntry.queries("s11_ivf_rpq_store")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_ann_artifact")) => f
      }
    assert(scans.nonEmpty, p)
    assert(scans.forall(f => f.requiredSchema.fieldNames.contains("rcodes") &&
        !f.requiredSchema.fieldNames.contains("codes")),
      s"index scan must read rcodes only, got " +
        scans.map(_.requiredSchema.fieldNames.mkString("/")).mkString(","))
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val rmodel = graft.operators.SimilaritySearch.ivfRPqModel(emb,
      graft.queries.TextQ.AnnNlist, graft.queries.TextQ.AnnM, graft.queries.TextQ.AnnCb)
    val cells = graft.operators.SimilaritySearch.ivfRPqProbedCells(
      emb.filter(col("vec_id") < 10), rmodel, nprobe = 2)
    assert(scans.forall(_.selectedPartitions.partitionCount == cells.length),
      s"expected ${cells.length} partitions read, got " +
        scans.map(_.selectedPartitions.partitionCount).mkString(","))
    assertIndexStreams(
      SparkEntry.queries("s11_ivf_rpq_store")(spark, dir).queryExecution.sparkPlan,
      "graft_ann_artifact")
  }

  test("s12: delta probe partition-prunes the corpus index and never re-encodes the corpus") {
    // the delta-ingest shape: the main side must FileScan the
    // corpus-slice index with the probed cells as PartitionFilters;
    // only the BATCH pays an encode (the corpus encode would show as
    // a second full embeddings pass feeding graft_pq_encode)
    val p = plan("s12_ann_delta")
    assert(p.contains("graft_ann_corpus_artifact"),
      s"s12 must FileScan the persisted corpus index:\n${p.take(4000)}")
    assert("PartitionFilters: \\[[^\\]]*".r.findAllIn(p)
      .exists(_.contains("cell")),
      s"corpus index scan must carry a cell partition filter:\n${p.take(4000)}")
    val scans = SparkEntry.queries("s12_ann_delta")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_ann_corpus_artifact")) => f
      }
    assert(scans.nonEmpty, p)
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.SimilaritySearch.ivfPqModel(
      emb.filter(!graft.queries.TextQ.SemBatchPred),
      graft.queries.TextQ.AnnNlist, graft.queries.TextQ.AnnM, graft.queries.TextQ.AnnCb)
    val cells = graft.operators.SimilaritySearch.ivfPqProbedCells(
      emb.filter(col("vec_id") < 10), model, nprobe = 2)
    assert(scans.forall(_.selectedPartitions.partitionCount == cells.length),
      s"expected ${cells.length} partitions read, got " +
        scans.map(_.selectedPartitions.partitionCount).mkString(","))
  }

  test("hot-cell stored index: the skewed store streams, queries broadcast, results exact") {
    // probe resilience when one cell holds most of the corpus (the
    // imbalance the rebalance=recommended report flags): build a
    // deliberately skewed store — 90% of vectors in one tight Gaussian
    // cluster — and pin the serving plan's skew posture: the QUERY
    // side is the broadcast/build side (by-contract hint in
    // ivfPqSearch), so the hot cell is a longer map-side SCAN of the
    // pruned store, never a shuffled/broadcast copy of the index; and
    // the stored-index answer still matches the inline-coded plan
    // row-for-row. The residual skew point — the per-query ADC rank
    // window — is bounded by nprobe × max-cell-size, which is exactly
    // what the maintenance report's max_cell_frac watches.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch
    val rng = new scala.util.Random(11)
    val dims = 16
    val hot = Array.fill(dims)(rng.nextGaussian().toFloat * 3f)
    // the nlist=4 seed draw for n=300 is ids (0, 253, 181, 109) — the
    // 4 smallest LCG keys. Planting 3 of the 4 seeds as orthogonal
    // far-off outliers leaves ONE seed inside the hot cluster, so the
    // whole cluster assigns to that single cell (a sampled-seed draw
    // on merely clustered data SPLITS the heavy cluster across its
    // in-cluster seeds and hides the skew this test needs)
    val coldSeeds = Map(253 -> 0, 181 -> 4, 109 -> 8)
    val rows = (0 until 300).map { i =>
      coldSeeds.get(i) match {
        case Some(axis) =>
          (i, Array.tabulate(dims)(j => if (j == axis) 50f else 0f))
        case None => (i, hot.map(x => x + rng.nextGaussian().toFloat * 0.5f))
      }
    }
    val emb = rows.toDF("vec_id", "embedding")
    val model = SimilaritySearch.ivfPqModel(emb, nlist = 4, m = 4, codebookSize = 8)
    val store = SparkTestBase.tempDir("graft_hotcell_store").toString
    SimilaritySearch.ivfPqEncode(emb, model)
      .write.mode("overwrite").partitionBy("cell").parquet(store)
    // the fixture must actually be skewed, or the pin proves nothing
    val sizes = spark.read.parquet(store).groupBy("cell").count()
      .collect().map(_.getLong(1))
    val maxFrac = sizes.max.toDouble / sizes.sum
    assert(maxFrac >= 0.9, f"fixture regression: max cell frac $maxFrac%.2f")
    val queries = emb.filter(col("vec_id") < 8)
    val cells = SimilaritySearch.ivfPqProbedCells(queries, model, nprobe = 2)
    val coded = spark.read.parquet(store).where(col("cell").isin(cells: _*))
    val stored = SimilaritySearch.ivfPqSearch(queries, emb, coded, model,
      k = 5, nprobe = 2, refine = 20)
    // plan shape: every broadcast build side is query-derived — the
    // store's FileScan must never sit under a BroadcastExchange (a
    // hot cell must not be materialized driver/executor-side)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sp = stored.queryExecution.sparkPlan
    // the CELL-keyed probe join is where the hot cell flows: its build
    // side must be the query side, never the store scan. (The later
    // rerank join broadcasts the BOUNDED tail — whose lineage includes
    // the store scan, which is fine: what's materialized is ≤
    // |queries|·refine rows, not the cell.)
    assertIndexStreams(sp, "graft_hotcell_store")
    // and the pruned scan still reads only the probed cells
    val scans = sp.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_hotcell_store")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.selectedPartitions.partitionCount == cells.length),
      s"expected ${cells.length} pruned partitions, got " +
        scans.map(_.selectedPartitions.partitionCount).mkString(","))
    // correctness over the skewed store: identical to the inline plan
    val inline = SimilaritySearch.ivfPqSearch(queries, emb,
      SimilaritySearch.ivfPqEncode(emb, model).where(col("cell").isin(cells: _*)),
      model, k = 5, nprobe = 2, refine = 20)
    assert(stored.collect().map(_.toString).sorted.toSeq ==
      inline.collect().map(_.toString).sorted.toSeq,
      "stored-index probe diverged from the inline plan over the skewed corpus")
  }

  test("d17: corpus cluster labels FileScan the persisted artifact, never re-cluster") {
    // The incremental-maintenance posture: the corpus's cluster
    // assignment is a maintained on-disk table (clusterArtifact) the
    // ingest star-merges into — a regression that re-runs corpus CC
    // inline would show a documents/band scan here instead of the
    // label artifact's FileScan. (d17's FINAL plan checkpoint-truncates
    // like d07, so the source is pinned directly, as bandSigs is.)
    graft.SessionMemo.reset(spark)
    val src = graft.queries.TextQ.prevClusters(spark, dir)
      .queryExecution.executedPlan.toString
    assert(src.contains("graft_cluster_artifact"),
      s"prevClusters must read the persisted label artifact:\n${src.take(4000)}")
    assert(!src.contains("documents.parquet"),
      s"prevClusters must not re-derive labels from raw documents:\n${src.take(4000)}")
  }

  test("vocabCoverage at 10k terms: broadcast anti-join, no literal IN-list") {
    val docs = graft.Tables.documents(spark, dir)
    val p = graft.operators.TextAnalysis
      .vocabCoverage(docs, vocabSize = 10000)
      .queryExecution.executedPlan.toString
    // A 10k-term vocab must never be inlined into the generated filter
    // (JIT method-size limits); the corpus's distinct tokens at
    // sf0.001 exceed the old IN-list's tokens, so any isin residue
    // would show as a giant literal list in the plan.
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti-join for the 10k vocab:\n${p.take(4000)}")
    assert(!p.contains(" INSET ") && !p.contains("isin"),
      s"vocab must not plan as a literal IN-list:\n${p.take(4000)}")
  }

  test("m01_iou_match: one per-frame cogroup kernel, one hash shuffle per input") {
    val p = plan("m01_iou_match")
    assert(p.contains("CoGroup"), p)
    assert(shuffles(p) == 2, s"one (seq, frameIdx) exchange per side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"no relational matcher left:\n$p")
  }

  test("s01_cosine_topk: broadcast NLJ serving shape, native dotq, top-k pushdown") {
    val p = plan("s01_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("graft_dotq"), s"native quantized dot must stay in the plan:\n$p")
  }

  test("dedup verify join: native sorted-merge intersect on a broadcast pair stream") {
    val docs = Tables.documents(spark, dir)
    val cands = Dedup.minhashCandidatesFromBands(
      Dedup.bandSignatures(docs, numHashes = 8, bands = 2, textCol = "text"))
    val p = Dedup.jaccardPairs(docs, cands).queryExecution.executedPlan.toString
    assert(p.contains("graft_inter_size"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t12_mix_apply: corpus-side plan is a pure scan + filter (no join, no shuffle)") {
    // the allocation table is collected (one row per source, a bounded
    // model artifact) and inlined as hash-gate thresholds, so the
    // RETURNED plan — the one that scans the corpus — must not join or
    // shuffle the big table at all
    val p = plan("t12_mix_apply")
    assert(shuffles(p) == 0, s"mix apply must not shuffle the corpus:\n$p")
    assert(!p.contains("Join"), s"thresholds must inline, not join:\n$p")
    assert(p.contains("Filter"), p)
  }

  test("t11_domain_mix: corpus shuffles only per-source partials; solver output is local") {
    // The distributed half: the per-source capacity aggregate must
    // map-side combine (the corpus never shuffles raw rows).
    val agg = graft.operators.TextAnalysis.perSourceCaps(
      graft.Tables.documents(spark, dir), "source",
      org.apache.spark.sql.functions.expr("cast(substring(source, 4) as bigint) % 3 + 1"))
    val ap = agg.queryExecution.executedPlan.toString
    assert(ap.contains("partial_sum") || ap.contains("partial_count"),
      s"per-source agg must map-side combine:\n$ap")
    // The returned allocation is a driver-solved BOUNDED model artifact
    // (≤ |sources| rows): a local relation, with no WindowExec anywhere
    // (the r10-era window chain logged partition-less window warnings).
    val p = plan("t11_domain_mix")
    assert(p.contains("LocalTableScan"), s"allocation must be local:\n$p")
    assert(!p.contains("Window"), s"no window machinery in the result plan:\n$p")
  }

  test("t15_pii_scrub: scrub is a pure scan + projection — zero exchanges") {
    // the operator itself (not the oracle's injection wrapper): counts
    // + redaction must stay inside the scan's codegen stage
    val p = graft.operators.TextAnalysis.scrubPii(
      graft.Tables.documents(spark, dir)).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"PII scrub must not shuffle:\n$p")
    assert(p.contains("Scan parquet"), p)
  }

  test("t16_tfidf_terms: vocab broadcasts, per-doc rank-limit pushes down") {
    val p = plan("t16_tfidf_terms")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab must broadcast into the tf explode:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-doc top-k must push a group limit below the exchange:\n$p")
  }

  test("s06_ann_recall: exact side broadcasts the query sample; top-k pushes down") {
    val p = plan("s06_ann_recall")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"exact ground truth must broadcast the bounded query sample:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-3 must push a group limit below the exchange:\n$p")
  }

  test("t13_bpe_pairs: top-k plans as TakeOrderedAndProject, counts partial-aggregate") {
    val p = plan("t13_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy.limit must not materialize a global sort:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"word counting must map-side combine:\n$p")
    assert(p.contains("partial_sum"),
      s"pair counting must map-side combine:\n$p")
  }

  test("q03_star_revenue: hinted dims broadcast, not shuffled") {
    val p = plan("q03_star_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    // the hinted nation/region joins must never fall back to a
    // shuffle join at planning time (AQE may upgrade more at runtime)
    assert("BroadcastExchange".r.findAllIn(p).length >= 2,
      s"nation/region should plan as broadcast:\n$p")
  }

  test("salted join == plain join for any salt fan-out") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1 hot key (90% of rows) + uniform tail, dim has extra payload
    val fact = (1 to 2000).map(i => (if (i % 10 != 0) 7L else i.toLong % 50, i))
      .toDF("k", "v")
    val dim = (0L to 60L).map(k => (k, s"p$k")).toDF("k", "payload")
    val plain = fact.join(dim, "k")
      .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    for (n <- Seq(1, 3, 8)) {
      val salted = operators.Skew.saltedJoin(fact, dim, "k", n, crc32(col("v").cast("string")))
        .select("k", "v", "payload")
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      assert(salted == plain, s"salt n=$n changed the join result")
    }
  }

  test("no single-partition exchange feeds a window in the former global-window queries") {
    // a01/a02 use RangeRank (bucket windows + broadcast offsets), o01
    // plans TakeOrderedAndProject, q13 broadcasts a scalar agg — none
    // may regress to `Exchange SinglePartition` + Window, the shape
    // that routes every row through one task at 100 TB.
    // a scalar aggregate's final 1-row-per-partition SinglePartition
    // exchange is fine; the killer is SinglePartition feeding a
    // Sort+Window (all rows sorted in one task) — detect by checking
    // the tree lines directly above each SinglePartition exchange.
    // indent where the operator name starts — tree glyphs, the codegen
    // star, and AQE section headers are prefix noise
    def indentOf(line: String): Int =
      line.indexWhere(c => !" :+-".contains(c))
    def opName(line: String): String =
      line.drop(math.max(indentOf(line), 0)).replaceFirst("""^\*\(\d+\)\s*""", "")
    // operators that pass a single partition through unchanged — a
    // Sort/Window above them still sorts ALL rows in one task
    // bare "Exchange" would also match "Exchange hashpartitioning",
    // which REDISTRIBUTES the single partition — a Sort/Window above it
    // is healthy and must not be flagged; only another SinglePartition
    // exchange keeps the one-task property
    val passThrough = Seq("Project", "Filter", "AQEShuffleRead", "InputAdapter",
      "WholeStageCodegen", "ColumnarToRow", "ReusedExchange",
      "Exchange SinglePartition")
    for (q <- Seq("a01_auc", "a02_average_precision", "o01_seeded_sample",
        "q13_minmax_norm", "t08_sequence_pack", "t10_seeded_shuffle")) {
      val lines = plan(q).linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
        case (line, i) =>
          // true ancestor chain: walking up, an ancestor is each line
          // with strictly less indentation than any seen so far (a
          // fixed 3-line slice missed Sort/Window separated from the
          // exchange by interposed Project/Filter under AQE)
          var ind = indentOf(line)
          var j = i - 1
          var blocking = false
          while (j >= 0 && ind > 0 && !blocking) {
            val lj = indentOf(lines(j))
            if (lj >= 0 && lj < ind) {
              val op = opName(lines(j))
              assert(!op.startsWith("Window") && !op.startsWith("Sort"),
                s"$q sorts/windows all rows in one partition:\n${lines.mkString("\n")}")
              // a non-pass-through ancestor (e.g. the scalar HashAggregate)
              // reshapes the data — Sort/Window above IT is fine
              blocking = !passThrough.exists(op.startsWith)
              ind = lj
            }
            j -= 1
          }
      }
    }
    assert(plan("o01_seeded_sample").contains("TakeOrderedAndProject"),
      "o01 lost the orderBy+limit pushdown")
  }

  test("t07_repetition: gram counts partial-aggregate before each shuffle") {
    val p = plan("t07_repetition")
    // explode -> (doc,gram) count -> per-doc agg, twice (2- and 3-grams),
    // plus the left-join restore: every HashAggregate pair must keep
    // its map-side partial leg (no partial_ = someone disabled
    // map-side combine and every gram row rides the wire raw)
    assert(p.contains("partial_"), s"t07 lost map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"t07 planned an all-pairs join:\n$p")
  }

  test("s05_kmeans: assignment pass is a pure scan — no exchange, no join") {
    // centroids are literals inside the argmax projection; the Lloyd
    // UPDATE passes (separate jobs during construction) may shuffle,
    // but the returned assignment plan must stay scan-shaped
    val p = plan("s05_kmeans")
    assert(!p.contains("Exchange"), s"s05 assignment shuffles:\n$p")
    assert(!p.contains("Join"), s"s05 assignment joins:\n$p")
  }

  test("k03_track: default-config tracker plans exactly one shuffle (the sequence grouping)") {
    // minTrackLength=1 must elide the (seq, trackId) length-filter
    // window — the kernel's groupByKey exchange is the ONLY shuffle,
    // so at scale the tracker costs one pass over the detections.
    // The cached gt_emb input prints its own build plan inline under
    // InMemoryRelation; count only the exchanges ABOVE the cache
    // boundary (the build plan runs once, not per tracker run).
    def outer(p: String): String = p.split("InMemoryRelation").head
    val p = outer(plan("k03_track"))
    assert(shuffles(p) == 1, s"expected exactly 1 shuffle:\n$p")
    assert(!p.contains("Window"), s"minTrackLength=1 must not plan a window:\n$p")
    // and the min-length path (k08, minTrackLength=2) keeps its single
    // extra (seq, trackId) window exchange — two total, no more
    val p8 = outer(plan("k08_track_nokalman"))
    assert(shuffles(p8) == 2, s"expected exactly 2 shuffles:\n$p8")
  }

  test("d10_decontamination: eval grams broadcast, train text never shuffles") {
    // the gram-membership probe and the final hit-count lookup must
    // both be broadcast joins; the only hash exchanges are the tiny
    // eval-gram distinct and the per-doc count (after map-side
    // partial agg), so train TEXT never rides a shuffle
    val p = plan("d10_decontamination")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      s"both d10 joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"d10 must not shuffle-join:\n$p")
    assert(p.contains("partial_count"),
      s"d10 lost map-side partial aggregation on the hit count:\n$p")
  }

  test("t05_stratified_sample: pure map-side filter — zero exchanges of any kind") {
    val p = plan("t05_stratified_sample")
    assert(!p.contains("Exchange"), s"stratified sampling must not shuffle:\n$p")
    assert(!p.contains("Window"), s"no per-stratum window allowed:\n$p")
    assert(p.contains("Filter"), p)
  }

  test("t14_bigram_lm: LM broadcast into the scoring join, two corpus shuffles") {
    val p = plan("t14_bigram_lm")
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined,
      s"the (V+2)^2-bounded LM must broadcast, not shuffle the corpus:\n$p")
    // corpus-scale exchanges: bigram-count agg + per-doc re-agg; the
    // vocab top-V is collected pre-plan, the LM sides live under the
    // BroadcastExchange. No sort-merge join anywhere.
    assert(!p.contains("SortMergeJoin"), s"corpus must never sort-merge:\n$p")
  }

  test("d11_span_dedup: span window carries a group limit-free partial path, two shuffles") {
    val p = plan("d11_span_dedup")
    // first-occurrence window (span key) + reassembly groupBy — and
    // nothing else touching the corpus
    assert(shuffles(p) == 2, s"span dedup is exactly two shuffles:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"no global funnel:\n$p")
  }

  test("v01_draw_plan: render plan is filter+project over the fixture — no new exchange") {
    val q = SparkEntry.queries("v01_draw_plan")(spark, dir)
    // walk above the cached dets InMemoryRelation only: the draw plan
    // itself must add zero exchanges and keep md5/conv in codegen
    val p = q.queryExecution.executedPlan.toString
    val own = p.split("InMemoryRelation").head
    assert(!own.contains("Exchange"), s"draw plan must not shuffle:\n$own")
    assert(own.contains("Filter"), own)
  }

  test("q01_pricing_summary: partial agg before one shuffle, scan pruned to 5 columns") {
    // formatted mode: the only variant that prints the scan's ReadSchema
    val p = SparkEntry.queries("q01_pricing_summary")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // "(n) Exchange" detail headers: one per exchange node (the tree
    // summary repeats the name, so don't count bare "Exchange")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length == 1,
      s"expected exactly 1 shuffle:\n$p")
    assert("partial_sum".r.findAllIn(p).length >= 1, s"no map-side combine:\n$p")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.split(":").head.trim).toSet
    assert(cols == Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount"), s"scan not pruned: $read")
  }
}
