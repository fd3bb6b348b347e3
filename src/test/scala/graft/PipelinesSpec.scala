package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.mot.MotCsv

/** End-to-end pipeline compositions over MOT files: detect-postprocess →
  * track → eval → metric tables (the reference's CLI surface, SURVEY §3).
  */
class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(name: String) =
    SparkTestBase.tempDir(name).toString

  private def trackedFixture(name: String): (String, String) =
    PipelinesSpec.trackedFixture(spark, name)

  test("track -> eval -> metric tables end-to-end over files") {
    val (dir, trackFile) = trackedFixture("pipe")
    val trackDf = MotCsv.read(spark, trackFile)
    assert(trackDf.count() == 16)
    assert(trackDf.select("id").distinct().count() == 2)

    val (perSeq, combined) = Pipelines.eval(spark, s"$dir/gt.txt", trackFile,
      s"$dir/eval", iouThreshold = 0.3)
    val m = perSeq.collect().head
    assert(m.getLong(m.fieldIndex("CLR_TP")) == 16)
    assert(m.getLong(m.fieldIndex("IDSW")) == 0)
    assert(m.getLong(m.fieldIndex("MT")) == 2)
    val tables = Pipelines.formatMetricTables(perSeq, combined)
    assert(tables.contains("CLEAR") && tables.contains("COMBINED")
      && tables.contains("IDF1"))
  }

  test("eval runs the metrics plan once: rows and tables equal metrics/combine computed directly") {
    val (dir, trackFile) = trackedFixture("eval_once")
    val (perSeq, combined) = Pipelines.eval(spark, s"$dir/gt.txt", trackFile,
      s"$dir/eval", iouThreshold = 0.3)
    // the per-sequence rows are already collected: no Spark job behind them
    assert(perSeq.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def mot(file: String) = MotCsv.read(spark, file)
      .withColumn("frameIdx", col("frame").cast("int")).withColumn("seq", lit("seq0"))
    val direct = graft.operators.MotEval.metrics(mot(s"$dir/gt.txt"), mot(s"$dir/eval"), 0.3)
    val directCombined = graft.operators.MotEval.combine(direct)
    assert(perSeq.collect().toSeq == direct.collect().toSeq)
    assert(combined.collect().toSeq == directCombined.collect().toSeq)
    assert(Pipelines.formatMetricTables(perSeq, combined) ==
      Pipelines.formatMetricTables(direct, directCombined))
  }

  test("repeated evals on the same files reuse compiled classes") {
    // repeat calls must hit the compiled-class cache: Spark's default
    // 100 entries once held less than one eval's working set, so every
    // call recompiled everything
    val (dir, trackFile) = trackedFixture("eval_codegen")
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    val perCall = (1 to 3).map { _ =>
      val c0 = compiles()
      val (perSeq, combined) = Pipelines.eval(spark, s"$dir/gt.txt", trackFile,
        s"$dir/eval", iouThreshold = 0.3)
      Pipelines.formatMetricTables(perSeq, combined)
      compiles() - c0
    }
    assert(perCall(1) < 50 && perCall(2) < 50, s"classes compiled per call: $perCall")
  }

  /** The Spark jobs `body` starts, counted by job group once the
    * listener bus has drained.
    */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "pipelines_job_count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, "pipelines job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(counter)
    jobs.get
  }

  test("eval + metric tables run at most 3 Spark jobs") {
    // eval.txt, the per-sequence metrics row and the COMBINED row: the
    // one-partition inputs leave no exchange, so no stage job
    val (dir, trackFile) = trackedFixture("eval_jobs")
    val jobs = jobsIn {
      val (perSeq, combined) = Pipelines.eval(spark, s"$dir/gt.txt", trackFile,
        s"$dir/eval", iouThreshold = 0.3)
      Pipelines.formatMetricTables(perSeq, combined)
    }
    assert(jobs > 0 && jobs <= 3, s"jobs: $jobs")
  }

  test("track runs one Spark job") {
    import spark.implicits._
    val (dir, _) = trackedFixture("track_jobs")
    val embs = MotCsv.read(spark, s"$dir/det.txt").select("frame", "id").as[(String, Int)]
      .collect().toSeq.map { case (f, i) => (f, i, Array.fill(8)(1.0f)) }
      .toDF("frame", "id", "vector")
    assert(jobsIn(Pipelines.track(spark, s"$dir/det.txt", embs, s"$dir/track2")) == 1)
    assert(MotCsv.read(spark, s"$dir/track2").collect().toSet ==
      MotCsv.read(spark, s"$dir/track").collect().toSet)
  }

  test("Run CLI: config + overrides drive track then eval over a dataset dir") {
    import spark.implicits._
    val dir = tmp("run_cli")
    val gtRows = for (f <- 1 to 6; o <- 1 to 2)
      yield (f"$f%06d", o, 10.0 + o * 200 + f * 4, 20.0 + o * 100, 40.0, 36.0, 1.0, 1, -1, -1)
    val detRows = gtRows.map { case (fr, o, x, y, w, h, _, _, _, _) =>
      (fr, o - 1, x + 1.5, y - 1.0, w, h, 0.9, 1, -1, -1)
    }
    def writeCsv(rows: Seq[(String, Int, Double, Double, Double, Double, Double, Int, Int, Int)],
                 path: String): Unit =
      Files.writeString(java.nio.file.Paths.get(path),
        rows.map(r => r.productIterator.mkString(",")).mkString("", "\n", "\n"))
    writeCsv(gtRows, s"$dir/gt.txt")
    writeCsv(detRows, s"$dir/det.txt")
    detRows.map(r => (r._1, r._2, Array.fill(8)(1.0f)))
      .toDF("frame", "id", "vector")
      .write.parquet(s"$dir/embeddings.parquet")
    // configs as a user would write them (dataset via CLI override)
    Files.writeString(java.nio.file.Paths.get(s"$dir/track.yaml"),
      "dataset: null\nmax_age: 3\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/eval.yaml"),
      "dataset: null\niou_threshold: 0.3\n")

    val trackMsg = Run.run(spark, "track",
      Seq(s"cfg=$dir/track.yaml", s"dataset=$dir", "max_age=5"))
    assert(trackMsg.contains("track.txt"))
    assert(MotCsv.read(spark, s"$dir/track.txt").count() == 12)

    val tables = Run.run(spark, "eval",
      Seq(s"cfg=$dir/eval.yaml", s"dataset=$dir"))
    assert(tables.contains("CLEAR") && tables.contains("IDF1"))

    // a typo'd override fails loudly before any work runs
    intercept[IllegalArgumentException] {
      Run.run(spark, "track", Seq(s"cfg=$dir/track.yaml", s"dataset=$dir", "maxage=5"))
    }
    intercept[IllegalArgumentException] {
      Run.run(spark, "visualize", Seq(s"cfg=$dir/track.yaml", s"dataset=$dir"))
    }
  }

  test("Run CLI: dedup-maintain builds the signature-store artifacts idempotently") {
    val data = "/root/testdata/sf0.001"
    val msg = Run.run(spark, "dedup-maintain", Seq(s"data=$data"))
    assert(msg.startsWith("dedup-maintain:"), msg)
    val kvs = msg.split(' ').tail.map(_.split("=", 2))
      .map(a => a(0) -> a(1)).toMap
    val paths = Seq("band", "gram", "clusters", "simhash", "dsir", "clf",
      "decontam").map(kvs)
    paths.foreach { p =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")),
        s"artifact $p must be _SUCCESS-gated")
    }
    // the bucket-guard report triad (VERDICT r18 #1) — LITERAL pins on
    // this healthy fixture, independent of the production formula: the
    // 500-doc corpus cannot overflow the 4096 cap, so the capped tiers
    // truncate nothing and no routing is recommended; max_bucket >= 2
    // because the fixture plants duplicate groups (d01/d05 rely on
    // them); doc_slots counts every band row (2 bands per token-bearing
    // doc)
    assert(kvs("cap").toInt == graft.queries.TextQ.D05MaxBucket, msg)
    assert(kvs("max_bucket").toInt >= 2 && kvs("max_bucket").toInt <= 500, msg)
    assert(kvs("overflow_buckets").toLong == 0L, msg)
    assert(kvs("truncated_doc_slots").toLong == 0L, msg)
    val docSlots = kvs("doc_slots").toLong
    assert(docSlots > 0L && docSlots <= 1000L, msg)
    assert(kvs("route") == "no", msg)
    assert(kvs("top_overflow") == "none", msg)
    // the compaction report: one stable record per flat scan store
    // ("none" = generation predates the record; "no" = threshold did
    // not trip; "a->b" = the builder compacted pre-publish). Stability
    // across idempotent re-runs is covered by the == msg pin below.
    assert(kvs("compacted").matches(
      "band:(none|no|\\d+->\\d+),gram:(none|no|\\d+->\\d+)," +
        "clusters:(none|no|\\d+->\\d+),simhash:(none|no|\\d+->\\d+)"), msg)
    // second run resolves the SAME current generations without rebuild
    assert(Run.run(spark, "dedup-maintain", Seq(s"data=$data")) == msg)
    // missing data= and stray keys fail loudly before any work
    intercept[IllegalArgumentException] {
      Run.run(spark, "dedup-maintain", Seq())
    }
    intercept[IllegalArgumentException] {
      Run.run(spark, "dedup-maintain", Seq(s"data=$data", "max_age=7"))
    }
    intercept[IllegalArgumentException] {
      Run.run(spark, "dedup-maintain", Seq(s"data=$data", "cfg=x.yaml"))
    }
    // a degenerate cap= override fails loudly too
    intercept[IllegalArgumentException] {
      Run.run(spark, "dedup-maintain", Seq(s"data=$data", "cap=0"))
    }
  }

  test("Run CLI: ann-maintain builds the cell-partitioned index + semantic state idempotently") {
    val data = "/root/testdata/sf0.001"
    val msg = Run.run(spark, "ann-maintain", Seq(s"data=$data"))
    assert(msg.startsWith("ann-maintain: index="), msg)
    val kvs = msg.split(' ').tail.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val paths = Seq(kvs("index"), kvs("sem"), kvs("corpus"))
    // the delta growth guard surfaces in the maintenance output: the
    // catalog's batch slice is ~1/9 of the corpus, below the fold-in
    // threshold
    val ratio = kvs("delta_main_ratio").toDouble
    assert(ratio > 0.0 && ratio < graft.queries.TextQ.AnnDeltaFoldRatio, msg)
    assert(kvs("fold_in") == "no", msg)
    // the cell-balance report: a fraction of the index in its hottest
    // cell — at least the ideal 1/nlist, at most 1
    val maxCellFrac = kvs("max_cell_frac").toDouble
    assert(maxCellFrac >= 1.0 / graft.queries.TextQ.AnnNlist && maxCellFrac <= 1.0, msg)
    // the report draws a CONCLUSION, not just a number: past 4/nlist
    // the trained mode is the documented fix
    val wantRebalance =
      if (maxCellFrac > 4.0 / graft.queries.TextQ.AnnNlist)
        "recommended(GRAFT_ANN_TRAIN=lloyd)" else "no"
    assert(kvs("rebalance") == wantRebalance, msg)
    // the recall sweep: one field per swept nprobe (1,2,4,..,nlist),
    // every recall in [0,1], suggestion = the cheapest swept nprobe
    // clearing the target (falling back to nlist when nothing does —
    // on THIS near-uniform synthetic corpus the serving refine's ADC
    // cut is close to a random cut, the r16 finding, so absolute
    // values are corpus properties, not pins; the sweep's own
    // closed-top-end mechanics are pinned in AnnSpec with an
    // exhaustive refine)
    // LITERAL pin, independent of the formula (ADVICE r18): the
    // catalog embedding fixture is honestly clustered but nowhere near
    // the 4/nlist degenerate bar — the recomputed expectation above
    // would also "pass" under a broken threshold, this cannot
    assert(kvs("rebalance") == "no", msg)
    val nprobes = (Seq.iterate(1, 32)(_ * 2)
      .takeWhile(_ < graft.queries.TextQ.AnnNlist) :+
      graft.queries.TextQ.AnnNlist).distinct
    val recalls = nprobes.map(np => np -> kvs(s"recall_np$np").toDouble)
    assert(recalls.forall { case (_, r) => r >= 0.0 && r <= 1.0 }, msg)
    val target = graft.operators.SimilaritySearch.AnnRecallTarget
    val wantSuggested = recalls.collectFirst {
      case (np, r) if r >= target => np
    }.getOrElse(graft.queries.TextQ.AnnNlist)
    assert(kvs("suggested_nprobe").toInt == wantSuggested, msg)
    // formula-independent containment (ADVICE r18): whatever the
    // ladder logic does, the suggestion must be a SWEPT setting — a
    // broken collectFirst or ladder could not hide behind the
    // recomputation above
    assert(nprobes.contains(kvs("suggested_nprobe").toInt), msg)
    // the sem store's build-time compaction record (dedup-maintain's
    // compacted= pattern on the embedding side)
    assert(kvs("compacted").matches("sem:(none|no|\\d+->\\d+)"), msg)
    // THE AUTOTUNE LOOP CLOSES (VERDICT r18 #3): the suggestion is
    // stored into the index generation as a sidecar...
    val suggested = kvs("suggested_nprobe").toInt
    val sidecar = java.nio.file.Paths.get(kvs("index"),
      graft.queries.TextQ.SuggestedNprobeSidecar)
    assert(java.nio.file.Files.exists(sidecar),
      s"ann-maintain must store the suggestion at $sidecar")
    // ...the serving-side resolver reads it when the caller doesn't
    // choose, and an explicit caller choice still wins
    assert(graft.queries.TextQ.resolveNprobe(spark, kvs("index"), None)
      == suggested)
    assert(graft.queries.TextQ.resolveNprobe(spark, kvs("index"), Some(1)) == 1)
    // a present-but-corrupt sidecar fails loudly, never silently
    // degrades to the default (the fail-loud artifact boundary)
    val corrupt = tmp("bad_sidecar")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(corrupt,
      graft.queries.TextQ.SuggestedNprobeSidecar), "not_a_number")
    intercept[IllegalStateException] {
      graft.queries.TextQ.resolveNprobe(spark, corrupt, None)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(corrupt,
      graft.queries.TextQ.SuggestedNprobeSidecar), "99")
    intercept[IllegalArgumentException] {
      graft.queries.TextQ.resolveNprobe(spark, corrupt, None)
    }
    // the read path DISCRIMINATES (guards the loop against being
    // vacuously green whenever the sweep happens to suggest the
    // engine default): a written non-default value is served, and
    // deleting the sidecar falls back to the default — independent of
    // what this corpus's sweep suggested
    val loop = tmp("sidecar_loop")
    val nonDefault = graft.queries.TextQ.AnnDefaultNprobe + 2
    graft.queries.TextQ.writeSuggestedNprobe(spark, loop, nonDefault)
    assert(graft.queries.TextQ.resolveNprobe(spark, loop, None) == nonDefault)
    java.nio.file.Files.delete(java.nio.file.Paths.get(loop,
      graft.queries.TextQ.SuggestedNprobeSidecar))
    assert(graft.queries.TextQ.resolveNprobe(spark, loop, None)
      == graft.queries.TextQ.AnnDefaultNprobe)
    // the delta tier's corpus index shares the cell-partitioned layout
    val corpusDirs = Option(new java.io.File(paths(2)).listFiles()).getOrElse(Array.empty)
    assert(corpusDirs.exists(_.getName.startsWith("cell=")),
      s"corpus index must be partitioned by cell: ${corpusDirs.map(_.getName).mkString(",")}")
    paths.foreach { p =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")),
        s"artifact $p must be _SUCCESS-gated")
    }
    // cell partition directories exist (the pruned-probe layout)
    val dirs = Option(new java.io.File(paths.head).listFiles()).getOrElse(Array.empty)
    assert(dirs.exists(_.getName.startsWith("cell=")),
      s"index must be partitioned by cell: ${dirs.map(_.getName).mkString(",")}")
    // the semantic artifact carries the frozen model + corpus state
    val semDirs = Option(new java.io.File(paths(1)).listFiles()).getOrElse(Array.empty)
    assert(Seq("cents", "state").forall(n => semDirs.exists(_.getName == n)),
      s"semantic artifact needs cents/ + state/: ${semDirs.map(_.getName).mkString(",")}")
    // idempotent second run, loud failures on bad args
    assert(Run.run(spark, "ann-maintain", Seq(s"data=$data")) == msg)
    intercept[IllegalArgumentException] { Run.run(spark, "ann-maintain", Seq()) }
    intercept[IllegalArgumentException] {
      Run.run(spark, "ann-maintain", Seq(s"data=$data", "nlist=4"))
    }
    // END-TO-END pickup: a serving probe that passes no nprobe answers
    // at the STORED suggestion — row-identical to the same probe
    // pinning it explicitly (the catalog's st8 row pins Some(2) so its
    // oracle hash never depends on this sidecar)
    val emb = Tables.embeddings(spark, data)
    def probe(np: Option[Int]): Seq[String] =
      graft.queries.ExtQ.streamAnnProbe(spark, data,
          spark.readStream.schema(emb.schema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(data)
            .filter(col("vec_id") < 10), nprobe = np)
        .collect().map(_.toString).sorted.toSeq
    val viaSidecar = probe(None)
    assert(viaSidecar.nonEmpty)
    assert(viaSidecar == probe(Some(suggested)),
      "the default probe must serve at the stored suggested_nprobe")
  }

  test("rebalance loop end-to-end: skewed store -> recommended -> lloyd retrain -> below threshold, recall kept") {
    // The remedy the rebalance= recommendation names, exercised as ONE
    // measure → recommend → retrain → re-measure pass (VERDICT r18 #4)
    // instead of separate PLANS-table measurements. The fixture is a
    // DRAW-degenerate store the remedy can actually fix: 3 of the 8
    // LCG seed ids sit CLUMPED on one side of an 85%-mass cluster
    // (offsets 0.5σ/0.7σ/0.9σ along one direction), so the sampled
    // Voronoi split is lopsided — the lowest-offset seed captures most
    // of the hot mass (max_cell_frac 0.590 > the 4/nlist = 0.5 bar) —
    // while ONE Lloyd refinement pass moves the three centroids to
    // their cell means, spreading them into balanced quantile cells
    // (0.473 < the bar). This is the skew class the threshold's doc
    // assigns to the trained mode; a PLANTED-OUTLIER degenerate store
    // (PlanShapeSpec's 0.99 fixture) is NOT in it — there the
    // competing seeds are pinned singletons Lloyd cannot move into
    // the hot mass, and the remedy is re-seeding, not refinement.
    // All numbers are deterministic pins (fixed rng seed, LCG draw,
    // quantized arithmetic).
    import spark.implicits._
    import graft.operators.SimilaritySearch
    val dims = 32
    val nlist = graft.queries.TextQ.AnnNlist // 8
    val n = 400
    // the 8 smallest-LCG-key ids for n=400: 0,397,325 get the clumped
    // in-cluster plants; 253,181,109,37,362 get one light cluster each
    val hotSeeds = Map(0L -> 0.5f, 397L -> 0.7f, 325L -> 0.9f)
    val lightSeeds = Seq(253L, 181L, 109L, 37L, 362L).zipWithIndex.toMap
    val rng = new scala.util.Random(2)
    val hotC = Array.fill(dims)(rng.nextGaussian().toFloat * 3f)
    val lightC = Array.fill(5)(Array.fill(dims)(rng.nextGaussian().toFloat * 3f))
    val dRaw = Array.fill(dims)(rng.nextGaussian().toFloat)
    val dn = math.sqrt(dRaw.map(x => x * x).sum).toFloat
    val dUnit = dRaw.map(_ / dn)
    val sigma = 1.5f
    val rows = (0L until n.toLong).map { i =>
      val v: Array[Float] =
        if (hotSeeds.contains(i))
          Array.tabulate(dims)(j => hotC(j) + dUnit(j) * hotSeeds(i) * sigma)
        else if (lightSeeds.contains(i)) lightC(lightSeeds(i)).clone()
        else if (i % 20 < 17) hotC.map(x => x + rng.nextGaussian().toFloat * sigma)
        else lightC((i % 5).toInt).map(x => x + rng.nextGaussian().toFloat * sigma)
      (i, v, 0)
    }
    val dir = tmp("rebalance_loop")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    // MEASURE + RECOMMEND: the production maintenance job itself
    val msg = Run.run(spark, "ann-maintain", Seq(s"data=$dir"))
    val kvs = msg.split(' ').tail.map(_.split("=", 2))
      .map(a => a(0) -> a(1)).toMap
    val bar = 4.0 / nlist
    val measured = kvs("max_cell_frac").toDouble
    assert(measured > bar, s"fixture regression: $measured <= $bar\n$msg")
    assert(kvs("rebalance") == "recommended(GRAFT_ANN_TRAIN=lloyd)", msg)
    // RETRAIN under the named remedy (the same coarseCentroids path the
    // GRAFT_ANN_TRAIN=lloyd driver gate takes) and RE-MEASURE
    val emb = Tables.embeddings(spark, dir)
    def fracOf(train: String): Double = {
      val model = SimilaritySearch.ivfPqModel(emb, nlist,
        graft.queries.TextQ.AnnM, graft.queries.TextQ.AnnCb, train = train)
      val sizes = SimilaritySearch.ivfPqEncode(emb, model)
        .groupBy("cell").count().collect().map(_.getLong(1))
      sizes.max.toDouble / sizes.sum
    }
    assert(math.abs(fracOf("sample") - measured) < 1e-9,
      "re-derived sample-mode frac must equal the report's")
    val retrained = fracOf("lloyd")
    assert(retrained < bar,
      f"lloyd retrain left the store above the threshold: $retrained%.3f >= $bar")
    assert(retrained < measured - 0.08,
      f"retrain must genuinely flatten the histogram: $retrained%.3f vs $measured%.3f")
    // ...AND RECALL AT THE SERVING DEFAULT DOES NOT REGRESS (here it
    // improves 0.775 -> 0.825: balanced cells make nprobe=2 probe two
    // real regions instead of one mega-cell twice). IVF-flat isolates
    // cell quality — the rerank inside probed cells is exact.
    val k = 5
    val exact = SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") < 40), emb, k = k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(train: String): Double = {
      val res = SimilaritySearch.ivfTopK(emb, col("vec_id") < 40, k = k,
          nlist = nlist, nprobe = graft.queries.TextQ.AnnDefaultNprobe,
          train = train)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      res.count(exact.contains).toDouble / exact.size
    }
    val (rSample, rLloyd) = (recallOf("sample"), recallOf("lloyd"))
    info(f"rebalance loop: frac $measured%.3f -> $retrained%.3f, recall@$k(np=2) $rSample%.3f -> $rLloyd%.3f")
    assert(rLloyd >= rSample,
      f"the remedy lost recall at the serving default: $rLloyd%.3f < $rSample%.3f")
  }

  test("embedding-side generation rollover: index + semantic state GC'd, stale reads loud, s09/st8/d21 identical after rebuild") {
    // the documents-side rollover test below drives the band/gram/
    // cluster cycle; the ANN index and semantic state have the same
    // regenerate-mid-session failure mode (the r10 NTZ lesson) and get
    // the same coverage: old-generation GC, loud stale reads, and
    // bit-identical serving results after the rebuild.
    val dir = tmp("rollover_emb")
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    src.count()
    val tgt = new java.io.File(dir, "embeddings.parquet")
    def regenerate(bumpMs: Long): Unit = {
      src.coalesce(1).write.mode("overwrite").parquet(tgt.getAbsolutePath)
      tgt.setLastModified(tgt.lastModified() + bumpMs)
    }
    regenerate(0)
    // parse key=value once and select the artifact keys EXPLICITLY —
    // a startsWith("/") scrape would silently drop a future
    // relative-path artifact (ADVICE r17)
    def artifacts(msg: String): Seq[String] = {
      val kvs = msg.split(' ').tail.map(_.split("=", 2))
        .map(a => a(0) -> a(1)).toMap
      Seq("index", "sem", "corpus").map(kvs)
    }
    val gen1 = artifacts(Run.run(spark, "ann-maintain", Seq(s"data=$dir")))
    def result(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
    val before = Seq("s09_ivf_pq_store", "s11_ivf_rpq_store",
      "st8_stream_ann_probe", "d21_semdedup_incremental",
      "s12_ann_delta").map(q => q -> result(q))
    // hold gen-1 relations across the regeneration
    val staleIndex = spark.read.parquet(gen1.head)
    regenerate(5000)
    val gen2 = artifacts(Run.run(spark, "ann-maintain", Seq(s"data=$dir")))
    assert(gen2.toSet.intersect(gen1.toSet).isEmpty,
      s"every artifact must roll to a new generation dir:\n$gen1\n$gen2")
    gen1.foreach(p => assert(!new java.io.File(p).exists(),
      s"stale generation $p must be GC'd by the rebuild"))
    gen2.foreach(p => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")),
      s"fresh generation $p must be _SUCCESS-gated"))
    val err = intercept[Throwable] { staleIndex.count() }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(e => Option(e.getMessage)).toSeq
    assert(messages(err).exists(m =>
        m.contains("graft_ann_artifact") || m.toLowerCase.contains("file")),
      s"stale read should surface the missing artifact files: ${messages(err)}")
    // serving results over the rebuilt stores answer identically
    before.foreach { case (q, want) =>
      assert(result(q) == want, s"$q diverged across the rollover")
    }
    // ONE SERVING ENTRY POINT (VERDICT r19 #3): every stored-index
    // serving surface that takes an optional nprobe resolves the
    // default through its generation's sidecar. Discrimination proof:
    // a present-but-corrupt sidecar fails each surface's PLAN BUILD
    // loudly on the None path (so the surface demonstrably consults
    // the resolver), while an explicit pin never reads it — the
    // `before` results above already ran green with corrupt-free
    // explicit pins, and the explicit re-runs below pass with the
    // corruption in place
    val q10 = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
    // corrupt THROUGH the Hadoop FS: maintain's own write left a .crc
    // beside the real sidecar, and an out-of-band NIO overwrite would
    // trip the checksum (a different, also-loud failure) before the
    // parse this pin targets
    Seq(gen2.head, gen2(2)).foreach { ix =>
      val p = new org.apache.hadoop.fs.Path(ix,
        graft.queries.TextQ.SuggestedNprobeSidecar)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write("garbage".getBytes("UTF-8")) finally out.close()
    }
    intercept[IllegalStateException] {
      graft.queries.TextQ.servedPqProbe(spark, dir, q10, None) }
    intercept[IllegalStateException] {
      graft.queries.TextQ.servedRPqProbe(spark, dir, q10, None) }
    intercept[IllegalStateException] {
      graft.queries.TextQ.servedDeltaProbe(spark, dir, q10, None) }
    intercept[IllegalStateException] {
      graft.queries.ExtQ.streamAnnDelta(spark, dir,
        spark.readStream.schema(src.schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .filter(graft.queries.TextQ.SemBatchPred), nprobe = None) }
    // explicit wins: the same surfaces under the catalog pin ignore the
    // corrupt sidecar entirely
    assert(graft.queries.TextQ.servedPqProbe(spark, dir, q10, Some(2))
      .collect().map(_.toString).sorted.toSeq ==
      before.find(_._1 == "s09_ivf_pq_store").get._2)
    assert(graft.queries.TextQ.servedDeltaProbe(spark, dir, q10, Some(2))
      .collect().map(_.toString).sorted.toSeq ==
      before.find(_._1 == "s12_ann_delta").get._2)
    // leave the store clean for any later consumer of this dir
    // (fs.delete drops the .crc twin too)
    Seq(gen2.head, gen2(2)).foreach { ix =>
      val p = new org.apache.hadoop.fs.Path(ix,
        graft.queries.TextQ.SuggestedNprobeSidecar)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    }
    src.unpersist()
  }

  test("generation rollover: regenerated source GCs old artifacts, stale reads fail loudly, rebuild answers identically") {
    // The exact cycle the driver's between-round testdata regeneration
    // exercises: dedup-maintain builds the signature store → the source
    // parquet is REGENERATED at the same path (same rows, new
    // length/mtime) → the old generation must be GC'd, a stale
    // memoized relation must fail loudly rather than serve rows from
    // deleted files, and a fresh resolve must rebuild artifacts that
    // answer bit-identically (the regenerated content is unchanged).
    val dir = tmp("rollover")
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
    src.count()
    val tgt = new java.io.File(dir, "documents.parquet")
    def regenerate(bumpMs: Long): Unit = {
      src.coalesce(1).write.mode("overwrite").parquet(tgt.getAbsolutePath)
      tgt.setLastModified(tgt.lastModified() + bumpMs)
    }
    regenerate(0)
    // same explicit-key parsing as the embedding-side rollover: never
    // scrape paths by shape
    def artifacts(msg: String): Seq[String] = {
      val kvs = msg.split(' ').tail.map(_.split("=", 2))
        .map(a => a(0) -> a(1)).toMap
      Seq("band", "gram", "clusters", "simhash", "dsir", "clf",
        "decontam").map(kvs)
    }
    val gen1 = artifacts(Run.run(spark, "dedup-maintain", Seq(s"data=$dir")))
    def result(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
    val before = Seq("d09_incremental_dedup", "d17_incremental_cc",
      "d18_simhash64_incremental", "d22_dsir_incremental",
      "t18_classifier_incremental", "d25_decontam_incremental",
      "d26_routed_dedup")
      .map(q => q -> result(q))
    // hold a gen-1 memoized relation across the regeneration
    val stale = graft.queries.TextQ.bandSigs(spark, dir)

    regenerate(5000)
    val gen2 = artifacts(Run.run(spark, "dedup-maintain", Seq(s"data=$dir")))
    assert(gen2.toSet.intersect(gen1.toSet).isEmpty,
      s"every artifact must roll to a new generation dir:\n$gen1\n$gen2")
    gen1.foreach(p => assert(!new java.io.File(p).exists(),
      s"stale generation $p must be GC'd by the rebuild"))
    gen2.foreach(p => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")),
      s"fresh generation $p must be _SUCCESS-gated"))
    // the stale relation's files are gone and its cache was dropped by
    // the maintenance reset: any action must fail loudly, never return
    // rows from a generation that no longer exists
    val err = intercept[Throwable] { stale.count() }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(e => Option(e.getMessage)).toSeq
    assert(messages(err).exists(m =>
        m.contains("graft_band_artifact") || m.toLowerCase.contains("file")),
      s"stale read should surface the missing artifact files: ${messages(err)}")
    // fresh queries over the rebuilt store answer identically
    graft.SessionMemo.reset(spark)
    before.foreach { case (q, want) =>
      assert(result(q) == want, s"$q diverged across the rollover")
    }
    src.unpersist()
  }

  test("Run CLI: visualize mode annotates frames and renders the sequence video") {
    import java.awt.image.BufferedImage
    val dir = tmp("viz")
    // two frames of a 48x36 "sequence" + a 2-frame track
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/images"))
    for (f <- 1 to 2) {
      val img = new BufferedImage(48, 36, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 36; x <- 0 until 48) img.setRGB(x, y, 0x606060)
      javax.imageio.ImageIO.write(img, "png",
        new java.io.File(f"$dir/images/$f%06d.png"))
    }
    Files.writeString(java.nio.file.Paths.get(s"$dir/track.txt"),
      "000001,5,8,6,20,14,1.0,1,-1,-1\n000002,5,12,8,20,14,1.0,1,-1,-1\n")
    val cfg = s"$dir/visualize.yaml"
    Files.writeString(java.nio.file.Paths.get(cfg),
      "dataset: null\nannotation_source: tracking\ndraw_ids: True\nfps: 7\n")
    val msg = Run.run(spark, "visualize", Seq(s"cfg=$cfg", s"dataset=$dir", "fps=5"))
    assert(msg.contains("2 annotated frames") && msg.contains("2-frame video"))
    // reference output layout: visualizations/<source>/ + videos/
    val f1 = new java.io.File(s"$dir/visualizations/tracking/seq0/000001.png")
    assert(f1.isFile)
    assert(new java.io.File(s"$dir/visualizations/videos/seq0.gif").isFile)
    // the annotated frame carries the box color at the clipped corner
    val img = javax.imageio.ImageIO.read(f1)
    assert((img.getRGB(8, 6) & 0xffffff) != 0x606060)
    // SAM-backed option still refuses loudly through the CLI path
    val ex = intercept[IllegalArgumentException] {
      Run.run(spark, "visualize", Seq(s"cfg=$cfg", s"dataset=$dir", "draw_masks=true"))
    }
    assert(ex.getMessage.contains("SAM"))
    // interactive display refused too (no silent ignore)
    assert(intercept[IllegalArgumentException] {
      Run.run(spark, "visualize", Seq(s"cfg=$cfg", s"dataset=$dir", "show_images=true"))
    }.getMessage.contains("interactive"))
    // frame-range slice + draw toggles flow through: only frame 2,
    // boxes suppressed
    val msg2 = Run.run(spark, "visualize", Seq(s"cfg=$cfg", s"dataset=$dir",
      "start_index=1", "seq_length_limit=1", "draw_boxes=false", "draw_ids=false"))
    assert(msg2.contains("1 annotated frames") && msg2.contains("1-frame video"))
    val f2 = javax.imageio.ImageIO.read(
      new java.io.File(s"$dir/visualizations/tracking/seq0/000002.png"))
    assert((f2.getRGB(12, 8) & 0xffffff) == 0x606060) // untouched pixels
  }

  test("detect post-processing: cascade + NMS + nested removal -> det.txt ordinals") {
    import spark.implicits._
    val raw = Seq(
      // frame 1: two strong overlapping (NMS keeps 1), one nested low-conf,
      // one below confidence, one disjoint keeper
      ("s", "000001", 1, 10.0, 10.0, 60.0, 60.0, 0.9),
      ("s", "000001", 2, 12.0, 12.0, 62.0, 62.0, 0.8),
      ("s", "000001", 3, 20.0, 20.0, 30.0, 30.0, 0.3),
      ("s", "000001", 4, 200.0, 200.0, 240.0, 240.0, 0.05),
      ("s", "000001", 5, 300.0, 300.0, 350.0, 345.0, 0.7)
    ).toDF("seq", "frame", "id", "x1", "y1", "x2", "y2", "score")
    val dir = tmp("det_out")
    // one kernel per frame and a single-file write: one job, no exchange
    assert(jobsIn(Pipelines.detectPostprocess(spark, raw, s"$dir/det", 400, 400,
      confThreshold = 0.1)) == 1)
    val out = MotCsv.read(spark, s"$dir/det").collect()
    assert(out.length == 2) // boxes 1 and 5 survive
    assert(out.map(_.getInt(1)).sorted.toSeq == Seq(1, 2)) // per-frame ordinals
  }
}

object PipelinesSpec {
  /** GT of 2 objects over 8 frames, detections = GT jittered, tracked
    * into `track`: returns (dir, trackFile); dir holds gt.txt.
    */
  def trackedFixture(spark: SparkSession, name: String): (String, String) = {
    import spark.implicits._
    val dir = SparkTestBase.tempDir(name).toString
    // GT: 2 objects over 8 frames; detections = GT jittered; per-frame ids
    val gtRows = for (f <- 1 to 8; o <- 1 to 2)
      yield (f"$f%06d", o, 10.0 + o * 200 + f * 4, 20.0 + o * 100, 40.0, 36.0, 1.0, 1, -1, -1)
    val detRows = gtRows.zipWithIndex.map { case ((fr, o, x, y, w, h, _, _, _, _), i) =>
      (fr, o - 1, x + 1.5, y - 1.0, w, h, 0.9, 1, -1, -1) // det ids 0,1 per frame
    }
    def writeCsv(rows: Seq[(String, Int, Double, Double, Double, Double, Double, Int, Int, Int)],
                 path: String): Unit =
      Files.writeString(java.nio.file.Paths.get(path),
        rows.map(r => r.productIterator.mkString(",")).mkString("", "\n", "\n"))
    writeCsv(gtRows, s"$dir/gt.txt")
    writeCsv(detRows, s"$dir/det.txt")
    // embeddings: identical unit vectors (appearance gate passes)
    val embs = detRows.map(r => (r._1, r._2, Array.fill(8)(1.0f)))
      .toDF("frame", "id", "vector")

    Pipelines.track(spark, s"$dir/det.txt", embs, s"$dir/track")
    (dir, s"$dir/track")
  }
}
