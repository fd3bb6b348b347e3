package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — scale extension (SURVEY §7.2 M8).
  *
  * Two tiers:
  *   - `bruteForceTopK` — exact cosine top-k; the correctness baseline.
  *     Queries × corpus is a broadcast nested-loop: fine when the query
  *     set is small (the usual ANN-serving shape), wrong for all-pairs.
  *   - `lshSignature` — random-hyperplane LSH: corpus and queries are
  *     bucketed by sign-bit signature; candidates share a bucket, then
  *     exact rerank (s03_lsh_topk).
  *     The all-pairs cost collapses to per-bucket joins. Hyperplanes are
  *     derived from MD5 of (plane, dim) — deterministic on any engine,
  *     no RNG state to ship.
  */
object SimilaritySearch {

  /** Centroid-scoring path selection. Two bit-identical plan shapes
    * (CentroidScoresSpec pins the identity; the centroid-consumer
    * query hashes are unchanged under either forced path):
    *
    *   - BROADCAST-NATIVE (the default): the whole centroid matrix
    *     ships once as a single foldable literal into
    *     `graft_cell_argmax`/`graft_cell_scores`
    *     (expressions.CentroidScores) — generated code size CONSTANT
    *     in k, so paper-scale SemDeDup k (~10⁴ clusters) keeps the
    *     same tight whole-stage-codegen loop. The round-15 k-sweep
    *     (PLANS.md "Centroid assignment paths", 128k rows × 64
    *     dims) measured it
    *     FLAT at ~0.7–1.1 µs/row·k from k=8 to 1024, and faster than
    *     the literal path at EVERY k — including k=8 (0.86 vs
    *     1.46 µs/row·k).
    *   - LITERAL (forced only): one inlined `struct(round(cosineQ(vec,
    *     lit(c)), 9), -cid, cid)` per centroid + `array_max`. Beyond
    *     ~16 centroids the k-struct expression tree falls off the
    *     codegen cliff (measured 15.8 µs/row·k at k=32–64 — 23×) and
    *     it never beats the native loop below that; kept as the
    *     independent cross-check the identity spec and the
    *     forced-path parity gate compare against.
    *
    * `centroidPathOverride`: test/bench hook — `Some("native")` or
    * `Some("literal")` forces a path, `None` = native. Native is
    * UNCONDITIONAL (the round-15 sweep showed it winning at every k,
    * so there is no k threshold); literal exists only as the forced
    * independent cross-check. `GRAFT_CENTROID_PATH=native|literal`
    * seeds it for whole-JVM runs (the Verify-with-path-forced parity
    * gate).
    */
  @volatile private[graft] var centroidPathOverride: Option[String] =
    sys.env.get("GRAFT_CENTROID_PATH").filter(Set("native", "literal"))

  private def useNativeCentroids: Boolean =
    !centroidPathOverride.contains("literal")

  /** PQ encode/LUT path selection — same posture as the centroid pair:
    * native (constant code size in m·codebookSize — the
    * expressions.PqEncode/PqLuts reference-object loops) is the
    * unconditional default; the literal m×codebookSize struct/dot tree
    * is kept as the forced independent cross-check.
    * `GRAFT_PQ_PATH=native|literal` seeds it for whole-JVM runs.
    */
  @volatile private[graft] var pqPathOverride: Option[String] =
    sys.env.get("GRAFT_PQ_PATH").filter(Set("native", "literal"))

  private def useNativePq: Boolean =
    !pqPathOverride.contains("literal")

  /** ANN coarse-centroid TRAINING mode for the IVF/PQ serving family —
    * unlike the native/literal path pair (two plans, one value), the
    * two modes produce DIFFERENT (both correct) models, so the oracle
    * text branches with this flag (TextQ.centsSql) and the artifact
    * sub tags carry it (a mode flip can never read a store encoded
    * under the other mode's model):
    *
    *   - `"sample"` (default): the hash-gated order-statistics draw
    *     ([[hashSeeds]]) with zero iterations — the cheapest model, and
    *     the catalog default for oracle continuity.
    *   - `"lloyd"`: the SAME seeds refined by [[kmeansCentroids]]'s
    *     Lloyd loop ([[AnnTrainIters]] iterations, the proven s05/d19
    *     arithmetic). On a clustered corpus this balances the cell
    *     histogram — the recall/skew axis the sampled draw leaves on
    *     the table (VERDICT r16 "What's missing" #1); AnnSpec's
    *     mixture-of-Gaussians fixture pins trained >= sampled.
    *
    * Either way the model is a bounded driver-side artifact and every
    * serving plan is IDENTICAL — the modes differ only in the literal
    * centroid matrix they ship. `GRAFT_ANN_TRAIN=lloyd|sample` selects
    * the JVM-wide mode (the forced-mode parity gate) and is FROZEN at
    * startup: the catalog oracle texts capture the mode when TextQ
    * initializes, so a post-init flip would silently desynchronize
    * engine results from their oracles (ADVICE r17) — a `val` makes
    * that flip unrepresentable.
    */
  private[graft] val annTrain: String =
    sys.env.get("GRAFT_ANN_TRAIN").map { v =>
      // unlike the value-identical path overrides, this mode CHANGES
      // results — a typo silently falling back to "sample" would brand
      // a forced-lloyd gate green without running it. Fail at startup.
      require(Set("lloyd", "sample")(v),
        s"GRAFT_ANN_TRAIN must be lloyd|sample, got '$v'")
      v
    }.getOrElse("sample")

  /** Lloyd budget of the `train="lloyd"` mode — 2 iterations (seed
    * draw + one assignment/update pass), the Sem-tier budget, kept
    * fixed so the oracle transcription stays bounded.
    */
  private[graft] val AnnTrainIters = 2

  /** The bounded training-sample size of the lloyd mode — every
    * default-args model call under GRAFT_ANN_TRAIN=lloyd trains on
    * this many smallest-LCG-key rows ([[trainSlice]]), so the
    * JVM-wide mode carries the 100 TB training posture everywhere
    * (artifact builds included), not only where a caller asks.
    */
  private[graft] val AnnLloydTrainSample = 256

  /** The default `trainSample` of every model entry point: bounded
    * under the JVM-wide lloyd mode, whole-corpus otherwise (the
    * sample is a no-op for train="sample" anyway — its seeds are the
    * sample's own prefix).
    */
  private[graft] def annTrainSampleDefault: Int =
    if (annTrain == "lloyd") AnnLloydTrainSample else 0

  /** THE coarse-centroid model draw every IVF/PQ entry point goes
    * through — the single source that keeps [[ivfTopK]],
    * [[ivfPqModel]] and [[ivfRPqModel]] (and through them every
    * stored/streaming/delta probe) on the same centroids for a given
    * mode. `trainDf` is the (possibly sample-bounded) Lloyd training
    * relation — see [[trainSlice]].
    */
  private def coarseCentroids(trainDf: DataFrame, nlist: Int, train: String,
                              idCol: String, vecCol: String,
                              what: String): Array[(Int, Array[Float])] = {
    require(Set("sample", "lloyd")(train),
      s"$what: train must be sample|lloyd, got $train")
    if (train == "lloyd")
      kmeansCentroids(trainDf, nlist, AnnTrainIters, idCol, vecCol)
    else hashSeeds(trainDf, nlist, TextAnalysis.SampleLcgC, idCol, vecCol, what)
  }

  /** Ceiling on [[trainSlice]]'s driver materialization. The sample
    * is collected to the driver and rebuilt as a local relation so
    * every training pass scans it for free — which makes `trainSample`
    * a driver-memory knob: 2²⁰ rows of 256-dim vectors is gigabytes of
    * Row objects on the driver with no warning (VERDICT r17 "What's
    * wrong" #1). 2¹⁶ rows × 64-dim floats is tens of MB — safely
    * inside any driver heap, and far above the diminishing-returns
    * point of k-means training samples at the catalog model budgets
    * (nlist ≤ 8, codebookSize ≤ 16; FAISS guidance is ~(39–256)·k
    * training points per centroid). A larger sample wants a
    * DISTRIBUTED training relation, not a bigger local one — pass
    * `trainSample = 0` and bound the corpus upstream instead.
    */
  private[graft] val MaxTrainSample = 1 << 16

  /** The Lloyd TRAINING relation: the whole corpus (`trainSample <=
    * 0`), or the `trainSample` rows with the smallest LCG keys —
    * the SAME deterministic order statistic as every seed draw, so
    * the model seeds (top-nlist / top-codebookSize of the same
    * stream) are always inside the sample — MATERIALIZED driver-side
    * as a bounded local relation. That is the FAISS training posture
    * at 100 TB: one top-k scan selects the sample, and every
    * subsequent training pass (coarse assignment/update, subspace
    * k-means over raw and residual codebooks) scans `trainSample`
    * rows instead of the corpus — training cost is bounded by
    * construction, while the ENCODE still covers every vector.
    * Replayable in SQL (the oracle joins its training scans against
    * the same QUALIFY top-N).
    */
  private def trainSlice(corpus: DataFrame, trainSample: Int,
                         idCol: String, vecCol: String,
                         minNeeded: Int, what: String): DataFrame =
    if (trainSample <= 0) corpus
    else {
      require(trainSample >= minNeeded,
        s"$what: trainSample=$trainSample must cover the seed draws " +
          s"(need >= $minNeeded)")
      require(trainSample <= MaxTrainSample,
        s"$what: trainSample=$trainSample exceeds MaxTrainSample=" +
          s"$MaxTrainSample — the sample is materialized on the DRIVER; " +
          "larger samples must stay distributed (trainSample=0 with a " +
          "bounded corpus upstream)")
      import TextAnalysis.{SampleLcgA, SampleModulus, SampleLcgC}
      val sel = corpus.select(col(idCol), col(vecCol))
      val rows = sel
        .withColumn("__k", pmod(col(idCol) * lit(SampleLcgA) + lit(SampleLcgC),
          lit(SampleModulus)))
        .orderBy(col("__k"), col(idCol))
        .limit(trainSample)
        .drop("__k")
        .collect()
      sel.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), sel.schema)
    }

  /** The codebook tensor (m × codebookSize × sub) as ONE foldable
    * literal — the PqEncode/PqLuts broadcast model artifact. Two
    * element types because the raw codebooks are float slices and the
    * residual codebooks exact-double residuals.
    */
  private def pqCbLitF(cb: Array[Array[Array[Float]]]): Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
  private def pqCbLitD(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** THE deterministic seed draw every model artifact samples with
    * (round 16 — replaces first-k-ids everywhere): the n rows with the
    * smallest LCG key `pmod(id·A + C, M)` (ties → lowest id),
    * re-labeled 0..n-1 in key order. Spark plans the orderBy+limit as
    * a per-partition top-k + driver merge — no full sort, no shuffle
    * of the vectors — so at 100 TB this is a uniform order-statistics
    * sample where first-k-ids is ingest-order-biased. Replayable in
    * any SQL engine (QUALIFY row_number over the same key); same LCG
    * caveat as the sampling gates (swap the key for xxhash64 where ids
    * approach ~8e9). Swap in k-means-trained seeds offline without
    * touching any serving plan.
    */
  private def hashSeeds(vecs: DataFrame, n: Int, lcgC: Long,
                        idCol: String, vecCol: String,
                        what: String): Array[(Int, Array[Float])] = {
    import TextAnalysis.{SampleLcgA, SampleModulus}
    val rows = vecs.select(col(idCol), col(vecCol).cast("array<float>").as("cv"))
      .withColumn("__k", pmod(col(idCol) * lit(SampleLcgA) + lit(lcgC),
        lit(SampleModulus)))
      .orderBy(col("__k"), col(idCol))
      .limit(n)
      .collect().zipWithIndex.map { case (r, i) =>
        require(!r.isNullAt(1),
          s"$what seed $idCol=${r.get(0)} has a null $vecCol")
        (i, r.getSeq[Float](1).toArray)
      }
    require(rows.length == n,
      s"$what: sampled ${rows.length} seeds, expected $n — corpus has fewer than $n rows")
    rows
  }

  /** The centroid matrix as ONE foldable literal — cid must equal
    * position (both samplers require dense 0-based ids; re-asserted
    * here because the native expressions use position AS the cid).
    */
  private def centroidMatrixLit(cents: Array[(Int, Array[Float])]): Column = {
    cents.iterator.zipWithIndex.foreach { case ((cid, _), i) =>
      require(cid == i, s"centroid id $cid at position $i — the native " +
        "assignment path requires dense 0-based centroid ids")
    }
    typedLit(cents.map(_._2.toSeq).toSeq)
  }

  /** Nearest centroid as `struct(ccos, cid)` — highest rounded
    * quantized cosine, ties to lowest cid. The assignment hot path:
    * the broadcast-native expression unless the literal cross-check
    * path is forced.
    */
  private[graft] def cellBest(vec: Column, cents: Array[(Int, Array[Float])]): Column =
    if (useNativeCentroids)
      call_function("graft_cell_argmax", vec, centroidMatrixLit(cents))
    else array_max(array(cents.map { case (cid, cv) =>
      struct(round(Vectors.cosineQNative(vec, lit(cv)), 9).as("ccos"),
        lit(-cid).as("neg"), lit(cid).as("cid"))
    }: _*))

  /** All centroid scores as `array<struct(ccos, cid)>` in cid order —
    * the probe side (explode → top-nprobe window).
    */
  private[graft] def cellScoresAll(vec: Column, cents: Array[(Int, Array[Float])]): Column =
    if (useNativeCentroids)
      call_function("graft_cell_scores", vec, centroidMatrixLit(cents))
    else array(cents.map { case (cid, cv) =>
      struct(round(Vectors.cosineQNative(vec, lit(cv)), 9).as("ccos"),
        lit(-cid).as("neg"), lit(cid).as("cid"))
    }: _*)

  /** Symmetric int8 quantization QA for an embedding store: per
    * vector, the max-abs scale (`max|x| / 127`), the quantized-int8
    * reconstruction of every dimension, and the reconstruction error —
    * the storage audit run before shrinking a 100 TB float32 embedding
    * store 4× to int8. A pure per-row projection (codegen lambdas over
    * the array — no shuffle, no UDF); the caller aggregates the error
    * columns if corpus-level QA is wanted.
    *
    * Determinism: the error is quantized PER TERM
    * (`round(err² · 1e12)` summed as BIGINT) so the per-vector sum is
    * integer and engine/partition-independent; `q = round(x / scale)`
    * uses the half-away-from-zero rule both Spark and the DuckDB
    * oracle implement for doubles. All-zero vectors quantize to zeros
    * with scale 0 and error 0 (guarded division).
    */
  def quantizeInt8Stats(emb: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
    emb
      .withColumn("max_abs", maxAbs)
      .withColumn("scale", col("max_abs") / 127.0)
      .withColumn("err_q",
        when(col("max_abs") === 0.0, lit(0L)).otherwise(
          aggregate(v, lit(0L), (acc, x) => {
            val xd = x.cast("double")
            val q = round(xd / col("scale"))
            val err = xd - q * col("scale")
            acc + round(err * err * 1e12).cast("long")
          })))
      .select(col(idCol), size(v).cast("long").as("n_dims"),
        round(col("max_abs"), 9).as("max_abs"),
        round(col("scale"), 9).as("scale"), col("err_q"))
  }

  /** Exact cosine top-k per query. `queries`/`corpus` need (`idCol`,
    * `vecCol`). Keep |queries| modest — the plan broadcasts it.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", Vectors.cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rn").as("rank"))
  }

  /** Deterministic pseudo-random hyperplane coefficient in [-0.5, 0.5):
    * first 4 MD5 hex digits of "p{plane}_d{dim}" scaled. Computed ONCE
    * driver-side (coefficients are row-independent) and shipped as a
    * literal double array; identical formula in the DuckDB oracle.
    */
  def planeCoefs(plane: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { d =>
      val hex = md.digest(s"p${plane}_d$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val v = hex.take(4).foldLeft(0)((acc, c) => acc * 16 + Integer.parseInt(c.toString, 16))
      v.toDouble / 65536.0 - 0.5
    }
  }

  /** Sign-bit LSH signature: bit b = 1 iff dotQ(vec, plane_b) > 0.
    * Quantized native dot (graft_dotq over float×double arrays) —
    * codegen'd, shuffle-order deterministic, oracle-parity by
    * construction.
    */
  def lshSignature(df: DataFrame, numPlanes: Int, dims: Int = 64,
                   vecCol: String = "embedding"): DataFrame = {
    val sig = (0 until numPlanes).map { p =>
      val dotq = Vectors.dotQNative(col(vecCol), lit(planeCoefs(p, dims)))
      when(dotq > 0L, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    df.withColumn("lsh_bucket", sig)
  }

  /** Multi-table LSH: `numTables` independent sign-bit signatures
    * (table t uses plane ids t·B .. t·B+B−1), exploded to one row per
    * (id, tbl, bucket). Banding trades precision for recall exactly
    * like MinHash bands: a pair is a candidate when ANY table agrees.
    * One pass over the vectors computes every table's signature
    * (the dot products are codegen'd native exprs), so recall costs
    * no extra scans — only a wider explode before the bucket join.
    */
  def lshTables(df: DataFrame, numTables: Int, planesPerTable: Int,
                dims: Int = 64, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val buckets = (0 until numTables).map { t =>
      (0 until planesPerTable).map { b =>
        val p = t * planesPerTable + b
        val dotq = Vectors.dotQNative(col(vecCol), lit(planeCoefs(p, dims)))
        when(dotq > 0L, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
    }
    df.select(col(idCol), col(vecCol),
        posexplode(array(buckets: _*)).as(Seq("tbl", "bucket")))
      .withColumn("tbl", col("tbl").cast("long"))
  }

  /** IVF-flat ANN — the classic scale path: a small centroid set
    * partitions the corpus into `nlist` cells (assignment = broadcast
    * argmax join, map-side only); queries probe their `nprobe` nearest
    * cells and rerank exactly inside them. At 100 TB the corpus is
    * written partitioned BY cell, so a probe prunes to nprobe/nlist of
    * the data before any shuffle. Centroid training is selected by
    * `train`: the deterministic hash-gated draw ([[hashSeeds]], the
    * default) or Lloyd iterations on those seeds
    * ([[kmeansCentroids]], `train = "lloyd"`) — either way a bounded
    * driver-side model artifact, so the serving plan is identical
    * under both. Quantized cosine everywhere → bit-identical across
    * engines/partitionings.
    */
  def ivfTopK(corpus: DataFrame, queryPred: Column, k: Int, nlist: Int,
              nprobe: Int, idCol: String = "vec_id",
              vecCol: String = "embedding",
              train: String = annTrain, trainSample: Int = annTrainSampleDefault): DataFrame = {
    // Centroids are a tiny model artifact — collected once and shipped
    // as literals (same posture as the LSH plane coefficients). The
    // corpus cell assignment below is then a pure projection: per-row
    // array of (ccos, cid) structs + array_max argmax — NO join and NO
    // shuffle over the corpus (PLANS item: at 100 TB only the probed
    // cells' rerank join moves data). `train` selects the hash-gated
    // draw or its Lloyd-refined form ([[coarseCentroids]]); the
    // serving plan below is identical under both.
    val cents = coarseCentroids(
      trainSlice(corpus, trainSample, idCol, vecCol, nlist, "ivfTopK"),
      nlist, train, idCol, vecCol, "ivfTopK centroid")
    // struct ordering (literal path) is lexicographic: max ccos first,
    // then max -cid == min cid — identical to ORDER BY ccos DESC,
    // cid ASC rank 1; the native path encodes the same tie-break
    val cells = corpus.select(col(idCol), col(vecCol).as("c_vec"),
      cellBest(col(vecCol), cents).getField("cid").as("cell"))
    // probes: explode the full scores for the (small) query subset only
    val probes = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        explode(cellScoresAll(col(vecCol), cents)).as("cs"))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("cs.ccos").desc, col("cs.cid").asc)
    val probeCells = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cs.cid").as("cell"))
    // the query side is broadcast BY CONTRACT (the serving shape's
    // |queries| is small — see [[ivfPqProbedCells]]): the corpus/cell
    // side then STREAMS map-side, so a hot cell costs a scan, never a
    // shuffle of the index — without the hint a stats misestimate
    // could flip this into a sort-merge join that exchanges the whole
    // corpus by cell, with the hot cell as one skewed partition
    // (PlanShapeSpec pins the shape on a deliberately skewed store)
    val pairs = broadcast(probeCells).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cosine", round(Vectors.cosineQNative(col("q_vec"), col("c_vec")), 9))
    val wr = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col(idCol).asc)
    pairs.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("corpus_id"), col("cosine"), col("rank"))
  }

  /** IVF + Product Quantization ANN — the 100 TB serving tier on top
    * of [[ivfTopK]]'s coarse cells: coarse cell prune (nprobe of nlist
    * cells) → PQ-code ASYMMETRIC distance over the probed cells → exact
    * rerank of a small tail. The corpus stores one byte-ish code per
    * subspace (`m` codes from `codebookSize`-entry codebooks) instead
    * of the float vector, so the ADC stage touches codes only — at
    * 100 TB that is the difference between scanning a 256 GB code
    * table and a 25 TB float store per probe.
    *
    * Mechanics, all deterministic-integer so the DuckDB oracle replays
    * bit-identically:
    *   - codebooks: subvector slices of the first `codebookSize`
    *     corpus vectors (same deterministic-sampling posture as the
    *     IVF centroids — swap in trained codebooks offline without
    *     touching the serving plan); shipped as literals.
    *   - encode: per subspace, argmin quantized L2 — the shared ‖x‖²
    *     term cancels inside an argmin, so the score is the integer
    *     `‖c‖q − 2·dotQ(x, c)` (ties → lowest code id). A pure per-row
    *     projection over the corpus: NO shuffle to build the code
    *     table.
    *   - query ADC: per query, a lookup table of `m × codebookSize`
    *     quantized subvector·codebook dots (the classic PQ LUT);
    *     a candidate's ADC score is then `m` integer array lookups —
    *     no float math per candidate.
    *   - refine: top-`refine` ADC candidates per query rerank with the
    *     exact quantized cosine; top-`k` of those is the answer.
    *
    * Design note: codes here quantize the RAW subvectors; the FAISS
    * IVFPQ form quantizes the residual to the coarse centroid (one
    * codebook set per cell or shared, query LUT computed per probed
    * cell). Residual encoding tightens ADC at the cost of nprobe× LUT
    * work — the plan shape (map-side encode, per-query LUT, integer
    * lookups, bounded rerank) is identical, so swapping it in is an
    * encode/LUT change, not an operator redesign.
    *
    * The IVF+PQ "trained" model: coarse centroids + per-subspace
    * codebooks + their integer norms — a tiny driver-side artifact
    * (nlist + codebookSize vectors), deterministic-sampled like
    * [[ivfTopK]]'s centroids so any engine can rebuild it exactly.
    */
  final case class IvfPqModel(cents: Array[(Int, Array[Float])],
                              cb: Array[Array[Array[Float]]],
                              cNorm: Array[Array[Long]],
                              m: Int, sub: Int, codebookSize: Int)

  def ivfPqModel(corpus: DataFrame, nlist: Int, m: Int, codebookSize: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 train: String = annTrain, trainSample: Int = annTrainSampleDefault): IvfPqModel = {
    // ONE shared hash stream for both draws. Two consequences, both
    // fine: under train="sample" the first min(nlist, codebookSize)
    // codebook seeds are exactly the centroids, so the RESIDUAL
    // codebook gets that many zero codewords ("sits at the centroid" —
    // a codeword FAISS's trained residual codebooks grow organically)
    // and the raw form spends them on centroid subvectors
    // (representative prototypes); under train="lloyd" the centroids
    // move off the seeds, so those residuals become small-but-nonzero.
    // A second LCG INCREMENT would not decorrelate anyway — changing C
    // shifts every key by a constant, which preserves the ordering
    // except across the modulus wrap (~n·ΔC/M rows, ≈0 here); real
    // decorrelation needs a different multiplier or hash, and nothing
    // here needs it. `train="lloyd"` refines BOTH: the coarse
    // centroids here, and the codebook tensor below via [[pqLloyd]].
    val trainDf = trainSlice(corpus, trainSample, idCol, vecCol,
      math.max(nlist, codebookSize), "ivfPqModel")
    val cents = coarseCentroids(trainDf, nlist, train,
      idCol, vecCol, "ivfPq centroid")
    val cbVecs = hashSeeds(corpus, codebookSize, TextAnalysis.SampleLcgC,
      idCol, vecCol, "ivfPq codebook")
    val dims = cbVecs.head._2.length
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val sub = dims / m
    // codebook(mi)(ki) = seed ki's mi-th subvector; ‖c‖q = the exact
    // integer Σ round(c_j²·1e12) constant of the encode argmin
    val cb0: Array[Array[Array[Float]]] = Array.tabulate(m, codebookSize)(
      (mi, ki) => cbVecs(ki)._2.slice(mi * sub, (mi + 1) * sub))
    // train="lloyd" refines the codebooks too — the full FAISS recipe:
    // subspace k-means with the encode's own argmin as the assignment
    // (so train and serve can never disagree on a boundary), REAL
    // narrowing per pass like the coarse update
    val cb: Array[Array[Array[Float]]] =
      if (train == "lloyd")
        pqLloyd(trainDf, col(vecCol), cb0.map(_.map(_.map(_.toDouble))),
          AnnTrainIters, narrowToFloat = true).map(_.map(_.map(_.toFloat)))
      else cb0
    val cNorm: Array[Array[Long]] = cb.map(_.map(_.map(x =>
      math.round(x.toDouble * x.toDouble * 1e12)).sum))
    IvfPqModel(cents, cb, cNorm, m, sub, codebookSize)
  }

  /** Quantized self-norms Σ round(c²·1e12) of a double codebook —
    * the encode argmin's constant term (signed-safe round for rule
    * uniformity; squares are non-negative so it equals Math.round).
    */
  private def cbNormsD(cb: Array[Array[Array[Double]]]): Array[Array[Long]] =
    cb.map(_.map(_.map { x =>
      val p = x * x * 1e12
      if (p < 0) -Math.round(-p) else Math.round(p)
    }.sum))

  /** Lloyd k-means over PER-SUBSPACE codebooks — the codebook half of
    * `train="lloyd"` (the coarse half is [[kmeansCentroids]]): each
    * pass assigns every row's m subvectors to their argmin codeword
    * (the encode's own quantized-L2 rule via [[pqCodesCol]] — native
    * codegen, a single corpus scan, no shuffle beyond the bounded
    * m·codebookSize·sub update aggregation) and re-centers each
    * codeword on the 1e6-quantized integer mean of its assigned
    * subvector components; empty codewords keep their previous entry.
    * `narrowToFloat` replays the raw codebook's REAL storage per pass
    * (the residual codebook stays double). Deterministic end to end —
    * the DuckDB oracle transcribes the passes (TextQ.pqCblSql).
    *
    * `vec` is the trained column (raw vector or residual); rows where
    * it is shorter than m·sub would train on zero-padded tails — the
    * callers guarantee fixed dims (the encode has the same contract).
    */
  private def pqLloyd(corpus: DataFrame, vec: Column,
                      cb0: Array[Array[Array[Double]]], iters: Int,
                      narrowToFloat: Boolean): Array[Array[Array[Double]]] = {
    val m = cb0.length
    val sub = cb0(0)(0).length
    val codebookSize = cb0(0).length
    var cb = cb0
    for (_ <- 1 until iters) {
      val codes = pqCodesCol(vec, pqCbLitD(cb), cbNormsD(cb),
        (mi, ki) => lit(cb(mi)(ki)), m, sub, codebookSize)
      val sums = corpus
        .select(vec.cast("array<double>").as("__v"),
          posexplode(codes).as(Seq("mi", "code")))
        .select(col("mi"), col("code"),
          posexplode(slice(col("__v"), col("mi") * sub + 1, lit(sub)))
            .as(Seq("j", "x")))
        .groupBy("mi", "code", "j")
        .agg(sum(round(col("x") * 1e6).cast("long")).as("sq"),
          count(lit(1)).as("n"))
        .collect()
      val byKey = sums.map { r =>
        (r.getAs[Int]("mi"), r.getAs[Int]("code"), r.getAs[Int]("j")) ->
          (r.getAs[Long]("sq"), r.getAs[Long]("n"))
      }.toMap
      cb = Array.tabulate(m, codebookSize, sub) { (mi, ki, j) =>
        byKey.get((mi, ki, j)) match {
          case Some((sq, n)) =>
            val mean = sq.toDouble / n.toDouble / 1e6
            if (narrowToFloat) mean.toFloat.toDouble else mean
          case None => cb(mi)(ki)(j)
        }
      }
    }
    cb
  }

  /** The per-subspace argmin encode as ONE `codes array<int>` column —
    * native `graft_pq_encode` (code size constant in m·codebookSize)
    * unless the literal cross-check tree is forced. `vec` is the raw
    * vector for classic IVF+PQ, the residual for the FAISS-faithful
    * residual form; `cbLit` must be the matching codebook literal.
    */
  private def pqCodesCol(vec: Column, cbLit: Column,
                         norms: Array[Array[Long]],
                         cbRow: (Int, Int) => Column,
                         m: Int, sub: Int, codebookSize: Int): Column =
    if (useNativePq) call_function("graft_pq_encode", vec, cbLit)
    else array((0 until m).map { mi =>
      val sl = slice(vec, mi * sub + 1, sub)
      array_min(array((0 until codebookSize).map { ki =>
        struct((lit(norms(mi)(ki)) - lit(2L) * Vectors.dotQNative(sl, cbRow(mi, ki))).as("d"),
          lit(ki).as("k"))
      }: _*)).getField("k")
    }: _*)

  /** The query-side ADC tables as ONE `array<array<long>>` column
    * (m × codebookSize quantized subvector·entry dots) — native
    * `graft_pq_luts` unless the literal tree is forced.
    */
  private def pqLutsCol(vec: Column, cbLit: Column,
                        cbRow: (Int, Int) => Column,
                        m: Int, sub: Int, codebookSize: Int): Column =
    if (useNativePq) call_function("graft_pq_luts", vec, cbLit)
    else array((0 until m).map { mi =>
      val sl = slice(vec, mi * sub + 1, sub)
      array((0 until codebookSize).map(ki =>
        Vectors.dotQNative(sl, cbRow(mi, ki))): _*)
    }: _*)

  /** ADC score: m integer lookups `luts[mi][codes[mi]]` — never a float
    * op per candidate. m terms inline (m is the small axis — 8..16);
    * the codebookSize axis lives inside the luts/codes columns.
    */
  private def adcCol(luts: Column, codes: Column, m: Int): Column =
    (0 until m).map(mi =>
      element_at(element_at(luts, mi + 1), element_at(codes, mi + 1) + 1))
      .reduce(_ + _)

  /** The stored-index side of IVF+PQ: `(id, cell, codes)` — a pure
    * map-side projection of the corpus (no join, no shuffle). At scale
    * this table IS the ANN index, persisted partitioned BY CELL so a
    * probe's FileScan prunes to its nprobe cells (see
    * TextQ.AnnStore); the float vectors stay in the base table and
    * are only joined back for the rerank tail.
    */
  def ivfPqEncode(corpus: DataFrame, model: IvfPqModel,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import model._
    corpus.select(col(idCol),
      cellBest(col(vecCol), model.cents).getField("cid").as("cell"),
      pqCodesCol(col(vecCol), pqCbLitF(cb), cNorm,
        (mi, ki) => lit(cb(mi)(ki)), m, sub, codebookSize).as("codes"))
  }

  /** The serving side: `queries` (any `(idCol, vecCol)` table — a
    * filtered corpus slice, or an arriving micro-batch in the
    * streaming-ingest shape) probe a PRE-ENCODED code table — pass the
    * artifact read for the stored-index shape, or [[ivfPqEncode]]'s
    * output inline. `corpus` supplies the float vectors for the exact
    * rerank tail. Returns per-query exact-reranked top-k.
    * [[ivfPqProbedCells]] gives the caller the distinct cells the
    * probe will touch so an artifact-backed `coded` can be
    * partition-pruned before the join.
    */
  def ivfPqSearch(queries0: DataFrame, corpus: DataFrame, coded: DataFrame,
                  model: IvfPqModel, k: Int, nprobe: Int, refine: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import model._
    // query side: probe cells + the ADC lookup tables (m × codebookSize
    // quantized dots — computed once per query row)
    val queries = queries0
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        pqLutsCol(col(vecCol), pqCbLitF(cb),
          (mi, ki) => lit(cb(mi)(ki)), m, sub, codebookSize).as("luts"))
    val probeCells = withProbedCells(queries, model.cents, nprobe)
      .select(col("query_id"), col("q_vec"), col("luts"), col("cell"))
    // query side broadcast BY CONTRACT (small |queries|): the coded
    // index side streams — a hot cell is a longer scan, never a
    // skewed shuffle partition of the index (hot-cell posture; see
    // the ivfTopK probe join note and PlanShapeSpec's skewed-store
    // pin). Callers without a by-construction bound on |queries|
    // enforce the contract by chunking to [[MaxQueryBatch]] (ExtQ
    // .streamAnnProbe — ADVICE r18)
    val cands = broadcast(probeCells).join(coded, Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("adc", adcCol(col("luts"), col("codes"), m))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col(idCol).asc)
    val tail = cands.withColumn("rn", row_number().over(wa))
      .filter(col("rn") <= refine)
      .select(col("query_id"), col("q_vec"), col(idCol).as("corpus_id"))
    // exact rerank of the tail only: join the float vectors back for
    // refine×|queries| rows, not per candidate — the tail is bounded
    // by construction, so IT broadcasts and the float store streams
    val pairs = broadcast(tail)
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec")),
        Seq("corpus_id"))
      .withColumn("cosine", round(Vectors.cosineQNative(col("q_vec"), col("c_vec")), 9))
    val wr = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    pairs.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** The distinct cells the query rows will probe — collected
    * driver-side (|queries| is small in the serving shape) so an
    * artifact-backed code table can be partition-pruned before
    * [[ivfPqSearch]]'s candidate join.
    */
  def ivfPqProbedCells(queries: DataFrame, model: IvfPqModel,
                       nprobe: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Seq[Int] =
    withProbedCells(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        model.cents, nprobe)
      .select("cell").distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** THE probe-cell ranking — the single source both [[ivfPqSearch]]
    * and [[ivfPqProbedCells]] go through: q must carry `query_id` and
    * `q_vec`; every other column rides along. Shared so the cells a
    * stored-index caller pre-filters with can never drift from the
    * cells the search actually probes (a split tie-break or nprobe
    * semantics would silently drop candidates in the stored/streaming
    * forms only).
    */
  private def withProbedCells(q: DataFrame, cents: Array[(Int, Array[Float])],
                              nprobe: Int): DataFrame = {
    val probes = q.withColumn("cs", explode(cellScoresAll(col("q_vec"), cents)))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("cs.ccos").desc, col("cs.cid").asc)
    probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .withColumn("cell", col("cs.cid")).drop("cs", "rn")
  }

  def ivfPqTopK(corpus: DataFrame, queryPred: Column, k: Int, nlist: Int,
                nprobe: Int, m: Int, codebookSize: Int, refine: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                train: String = annTrain, trainSample: Int = annTrainSampleDefault): DataFrame = {
    val model = ivfPqModel(corpus, nlist, m, codebookSize, idCol, vecCol,
      train, trainSample)
    ivfPqSearch(corpus.filter(queryPred), corpus,
      ivfPqEncode(corpus, model, idCol, vecCol), model,
      k, nprobe, refine, idCol, vecCol)
  }

  /** RESIDUAL IVF+PQ — the FAISS-faithful variant the s08 design note
    * documents: corpus vectors are PQ-coded on their RESIDUAL to the
    * assigned coarse centroid (`r = x − c_cell`, exact IEEE double
    * subtraction), against a SHARED residual codebook (the residuals of
    * the first `codebookSize` corpus vectors to their own cells — the
    * deterministic-sampling posture of every model artifact here).
    * Residuals are centered near zero, so the same code budget spends
    * its resolution on the within-cell detail the raw-subvector form
    * wastes on cell-level offsets — ADC gets tighter at equal bytes.
    *
    * Query side uses the INNER-PRODUCT decomposition (FAISS
    * IndexIVFPQ, METRIC_INNER_PRODUCT): the query is NOT residualized;
    *   adc(q, x) ≈ dotq(q, c_cell) + Σ_mi LUT_mi[code_mi]
    * where the LUT holds dots of the RAW query subvectors with the
    * residual codebook entries, and the per-(query, probed-cell)
    * constant `dotq(q, c_cell)` rides the probe join — the "nprobe×
    * LUT work" cost the design note prices in. Refine/rerank tail is
    * identical to [[ivfPqSearch]]; same quantized-integer discipline
    * throughout, so the DuckDB oracle replays bit-identically.
    */
  final case class IvfRPqModel(cents: Array[(Int, Array[Float])],
                               rcb: Array[Array[Array[Double]]],
                               rNorm: Array[Array[Long]],
                               m: Int, sub: Int, codebookSize: Int)

  def ivfRPqModel(corpus: DataFrame, nlist: Int, m: Int, codebookSize: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  train: String = annTrain, trainSample: Int = annTrainSampleDefault): IvfRPqModel = {
    val base = ivfPqModel(corpus, nlist, m, codebookSize, idCol, vecCol,
      train, trainSample)
    import base.sub
    // the sampled seed vectors, drawn directly (NOT reassembled from
    // base.cb slices — under train="lloyd" those are trained codewords,
    // no longer corpus vectors; same draw, so the sample path is
    // unchanged)
    val seeds = hashSeeds(corpus, codebookSize, TextAnalysis.SampleLcgC,
      idCol, vecCol, "ivfRPq codebook").map(_._2)
    // driver-side coarse assignment of each seed — the EXACT quantized
    // cosine + round9 + lowest-cid-tie arithmetic of cellBest, so the
    // codebook's cells can never drift from the corpus encode's
    def dotq(a: Array[Float], b: Array[Float]): Long = {
      var acc = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val p = a(i).toDouble * b(i).toDouble * 1e12
        acc += (if (p < 0) -Math.round(-p) else Math.round(p))
        i += 1
      }
      acc
    }
    val seedCell = seeds.map { v =>
      val na = dotq(v, v)
      var bestCos = Double.NegativeInfinity
      var bestCid = -1
      base.cents.foreach { case (cid, cv) =>
        val nb = dotq(cv, cv)
        val cos = if (na == 0L || nb == 0L) 0.0
          else dotq(v, cv).toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
        val c9 = graft.expressions.CentroidExprBase.round9(cos)
        if (c9 > bestCos) { bestCos = c9; bestCid = cid }
      }
      bestCid
    }
    val rcb0: Array[Array[Array[Double]]] = Array.tabulate(m, codebookSize)((mi, ki) =>
      Array.tabulate(sub)(j => seeds(ki)(mi * sub + j).toDouble -
        base.cents(seedCell(ki))._2(mi * sub + j).toDouble))
    // train="lloyd": subspace k-means over the CORPUS residuals to the
    // trained cells — the codeword resolution lands on the within-cell
    // detail the residual form exists for (an untrained residual draw
    // is near-noise codewords; AnnSpec's MoG fixture measures the
    // difference). Residual codewords stay exact doubles (no REAL
    // narrowing — they are derived quantities, not stored vectors).
    val rcb: Array[Array[Array[Double]]] =
      if (train == "lloyd") {
        val centLit = centMatrixLitD(base.cents)
        val resDf = trainSlice(corpus, trainSample, idCol, vecCol,
            codebookSize, "ivfRPqModel")
          .withColumn("__cell", cellBest(col(vecCol), base.cents).getField("cid"))
          .withColumn("__res", zip_with(col(vecCol).cast("array<double>"),
            element_at(centLit, col("__cell") + 1), (a, b) => a - b))
        pqLloyd(resDf, col("__res"), rcb0, AnnTrainIters, narrowToFloat = false)
      } else rcb0
    val rNorm: Array[Array[Long]] = cbNormsD(rcb)
    IvfRPqModel(base.cents, rcb, rNorm, m, sub, codebookSize)
  }

  /** The centroid matrix as ONE literal double matrix, indexed by cell
    * — shared by the residual-encode subtraction and the probe-side
    * cell constant.
    */
  private def centMatrixLitD(cents: Array[(Int, Array[Float])]): Column =
    typedLit(cents.map(_._2.map(_.toDouble).toSeq).toSeq)

  /** Recall target of the maintenance-time sweep: `ann-maintain`
    * suggests the smallest nprobe whose measured recall@k clears this
    * (the FAISS autotune criterion shape — tune the cheapest setting
    * that meets the quality bar, never guess).
    */
  private[graft] val AnnRecallTarget = 0.9

  /** The enforcement bound of the serving joins' query-side broadcast
    * CONTRACT ([[ivfTopK]]/[[ivfPqSearch]]/[[ivfRPqSearch]] force
    * `broadcast(probeCells)` so a stats misestimate can never shuffle
    * the index by cell — the hot-cell posture): a probe row carries the
    * query vector plus the m×codebookSize LUT arrays (~1-2 KB at the
    * catalog budget), so 4096 queries × nprobe rows stays in the low
    * tens of MB — safely inside any broadcast limit — while an
    * UNBOUNDED caller (a large streaming ingest trigger) would
    * materialize the batch on the driver and every executor. Callers
    * whose query side is not bounded by construction (ExtQ
    * .streamAnnProbe's micro-batches) chunk to this many expected
    * queries per probe; per-query results depend only on the query's
    * own row, so chunking is result-invisible.
    */
  private[graft] val MaxQueryBatch = 4096

  /** Maintenance-time recall QA of a stored IVF+PQ index — the FAISS
    * autotune posture, run where the index is BUILT so the quality of
    * every generation is measured, not assumed. A deterministic
    * LCG-drawn query sample ([[trainSlice]]'s order statistic — the
    * same replayable draw as every model sample here) gets ONE
    * brute-force ground-truth pass (queries broadcast, the corpus
    * streams); each candidate nprobe then pays its pruned-index probe
    * PLUS a rerank join against the float store for its bounded
    * (≤ refine × sampleN row) exact tail. Returns (nprobe, recall@k)
    * in input order, recall micro-averaged over the sample's exact
    * top-k.
    *
    * COST, honestly (ADVICE r18 — the earlier note under-stated it):
    * the float corpus is read by the GT pass and by EVERY per-nprobe
    * rerank — 1 + |nprobes| passes, not one. Here the sweep persists
    * one slim (id, vec) projection up front so those passes after the
    * first hit executor memory; at cluster scale, where the projection
    * may not fit, the sweep's price is 1 + |nprobes| streaming scans
    * of the float store (each a bounded-broadcast join moving only the
    * tail rows — scans, never shuffles) — still maintenance-time-only,
    * never per probe. The pruned-INDEX reads stay ≈ 2× the index total
    * across the ladder (nprobe=1,2,4.. partition-pruned via
    * `codedFor(cells)`).
    */
  def recallSweep(corpus: DataFrame, codedFor: Seq[Int] => DataFrame,
                  model: IvfPqModel, k: Int, refine: Int,
                  nprobes: Seq[Int], sampleN: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Double)] = {
    require(nprobes.nonEmpty && sampleN >= 1,
      s"recallSweep: need nprobes and a positive sample, got $nprobes/$sampleN")
    // one slim projection persisted across the GT pass + every rerank
    // (the 1 + |nprobes| float-store reads priced above)
    val slim = corpus.select(col(idCol), col(vecCol)).persist()
    try {
      val queries = trainSlice(slim, sampleN, idCol, vecCol, 1, "recallSweep")
      val exact = bruteForceTopK(queries, slim, k, idCol, vecCol)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
      nprobes.map { nprobe =>
        val cells = ivfPqProbedCells(queries, model, nprobe, idCol, vecCol)
        val got = ivfPqSearch(queries, slim, codedFor(cells), model,
            k, nprobe, refine, idCol, vecCol)
          .select("query_id", "corpus_id").collect()
          .map(r => (r.get(0), r.get(1)))
        nprobe -> (if (exact.isEmpty) 1.0
          else got.count(exact.contains).toDouble / exact.size)
      }
    } finally { slim.unpersist(); () }
  }

  /** The stored-index side of residual IVF+PQ: `(id, cell, codes)` —
    * residual to the assigned cell (exact double subtraction), then
    * per-subspace argmin of the quantized L2 surrogate
    * `‖c‖q − 2·dotq(r, c)` (ties → lowest code id). A pure projection:
    * no shuffle to build the code table — the same persistable shape
    * as [[ivfPqEncode]], which is what lets the residual form ride the
    * cell-partitioned on-disk index instead of re-encoding per probe.
    */
  def ivfRPqEncode(corpus: DataFrame, model: IvfRPqModel,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import model._
    val centLit = centMatrixLitD(cents)
    corpus
      .withColumn("cell", cellBest(col(vecCol), cents).getField("cid"))
      .withColumn("__res", zip_with(col(vecCol).cast("array<double>"),
        element_at(centLit, col("cell") + 1), (a, b) => a - b))
      .select(col(idCol), col("cell"),
        pqCodesCol(col("__res"), pqCbLitD(rcb), rNorm,
          (mi, ki) => lit(rcb(mi)(ki)), m, sub, codebookSize).as("codes"))
  }

  /** BOTH encodes in one corpus pass — the build side of a dual-tier
    * stored index `(id, cell, codes, rcodes)`: raw-subvector codes for
    * the classic ADC probe and residual codes for the FAISS-faithful
    * one share the coarse assignment (the two models are REQUIRED to
    * share centroids), so one cell-partitioned table serves both
    * probes and the corpus is scanned once per generation, not once
    * per tier.
    */
  def ivfPqEncodeDual(corpus: DataFrame, model: IvfPqModel, rmodel: IvfRPqModel,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(model.cents.length == rmodel.cents.length &&
      model.cents.zip(rmodel.cents).forall { case ((i1, v1), (i2, v2)) =>
        i1 == i2 && java.util.Arrays.equals(v1, v2) },
      "ivfPqEncodeDual: raw and residual models must share coarse centroids")
    val centLit = centMatrixLitD(model.cents)
    corpus
      .withColumn("cell", cellBest(col(vecCol), model.cents).getField("cid"))
      .withColumn("__res", zip_with(col(vecCol).cast("array<double>"),
        element_at(centLit, col("cell") + 1), (a, b) => a - b))
      .select(col(idCol), col("cell"),
        pqCodesCol(col(vecCol), pqCbLitF(model.cb), model.cNorm,
          (mi, ki) => lit(model.cb(mi)(ki)), model.m, model.sub,
          model.codebookSize).as("codes"),
        pqCodesCol(col("__res"), pqCbLitD(rmodel.rcb), rmodel.rNorm,
          (mi, ki) => lit(rmodel.rcb(mi)(ki)), rmodel.m, rmodel.sub,
          rmodel.codebookSize).as("rcodes"))
  }

  /** The serving side of residual IVF+PQ — [[ivfPqSearch]]'s exact
    * shape plus the inner-product decomposition's per-(query,
    * probed-cell) constant: `adc = dotq(q, c_cell) + Σ LUT[code]`,
    * RAW-query LUTs against the residual codebook (the query is never
    * residualized). `coded` is a `(id, cell, codes)` residual code
    * table — [[ivfRPqEncode]]'s output inline, or the persisted
    * artifact's `rcodes` for the stored-index shape.
    */
  def ivfRPqSearch(queries0: DataFrame, corpus: DataFrame, coded: DataFrame,
                   model: IvfRPqModel, k: Int, nprobe: Int, refine: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import model._
    val centLit = centMatrixLitD(cents)
    // queries: RAW-query LUTs against the residual codebook, computed
    // once per query row; the per-probed-cell dotq(q, c_cell) constant
    // attaches on the probe explode
    val queries = queries0
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        pqLutsCol(col(vecCol), pqCbLitD(rcb),
          (mi, ki) => lit(rcb(mi)(ki)), m, sub, codebookSize).as("luts"))
    val probeCells = withProbedCells(queries, cents, nprobe)
      .withColumn("cellconst",
        Vectors.dotQNative(col("q_vec"), element_at(centLit, col("cell") + 1)))
      .select(col("query_id"), col("q_vec"), col("luts"), col("cell"), col("cellconst"))
    // same hot-cell posture as [[ivfPqSearch]]: queries broadcast by
    // contract (unbounded callers chunk to [[MaxQueryBatch]]), the
    // coded index streams; the bounded rerank tail broadcasts against
    // the streaming float store
    val cands = broadcast(probeCells).join(coded, Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("adc", adcCol(col("luts"), col("codes"), m) + col("cellconst"))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col(idCol).asc)
    val tail = cands.withColumn("rn", row_number().over(wa))
      .filter(col("rn") <= refine)
      .select(col("query_id"), col("q_vec"), col(idCol).as("corpus_id"))
    val pairs = broadcast(tail)
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec")),
        Seq("corpus_id"))
      .withColumn("cosine", round(Vectors.cosineQNative(col("q_vec"), col("c_vec")), 9))
    val wr = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    pairs.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** The distinct cells the residual probe will touch — the
    * [[ivfPqProbedCells]] counterpart for [[ivfRPqSearch]], through
    * the same [[withProbedCells]] single source.
    */
  def ivfRPqProbedCells(queries: DataFrame, model: IvfRPqModel,
                        nprobe: Int, idCol: String = "vec_id",
                        vecCol: String = "embedding"): Seq[Int] =
    withProbedCells(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        model.cents, nprobe)
      .select("cell").distinct().collect().map(_.getInt(0)).toSeq.sorted

  def ivfRPqTopK(corpus: DataFrame, queryPred: Column, k: Int, nlist: Int,
                 nprobe: Int, m: Int, codebookSize: Int, refine: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 train: String = annTrain, trainSample: Int = annTrainSampleDefault): DataFrame = {
    val model = ivfRPqModel(corpus, nlist, m, codebookSize, idCol, vecCol,
      train, trainSample)
    ivfRPqSearch(corpus.filter(queryPred), corpus,
      ivfRPqEncode(corpus, model, idCol, vecCol), model,
      k, nprobe, refine, idCol, vecCol)
  }

  /** Lloyd k-means over the embedding column with fully deterministic
    * arithmetic — the clustering backbone for corpus-diversity analysis
    * and SemDeDup-style semantic selection.
    *
    * Seeding (round 16): the default is a HASH-GATED order-statistics
    * draw — the k rows with the smallest LCG key, the same
    * oracle-replayable gate as the sampling operators — replacing the
    * first-k-ids draw (retained as `seeding="first"`), which on a real
    * ingest-ordered corpus is a degenerate seed. Centroids live as
    * LITERALS inside a per-row argmax projection, so each Lloyd
    * assignment pass is a full scan with NO join and NO shuffle over
    * the vectors. The only shuffle per iteration is the centroid
    * update — `posexplode` to (cluster, dim) keys, an integer partial
    * agg, and a ≤ k·dims-row collect (a bounded model artifact).
    *
    * Determinism: assignment uses the quantized cosine rounded to 9
    * decimals with min-id tie-break; the centroid mean is an exact
    * integer sum of 1e6-quantized components with one final division,
    * then narrowed to float (IEEE — identical in any engine). An empty
    * cluster keeps its previous centroid (transcribed by the oracle).
    * Iteration count is a parameter — convergence-based stopping would
    * make round count data-dependent; pipelines run a fixed budget.
    */
  def kmeansAssign(vecs: DataFrame, k: Int, iters: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   seeding: String = "hash"): DataFrame =
    assignWithCentroids(vecs,
      kmeansCentroids(vecs, k, iters, idCol, vecCol, seeding),
      idCol, vecCol)

  /** The trained centroid MODEL from [[kmeansAssign]]'s Lloyd loop — a
    * bounded driver artifact (k × dims floats) exposed so the
    * incremental/serving shapes (persist once, assign arriving batches
    * with FROZEN centroids — the SemDeDup maintenance story) share the
    * exact arithmetic of the batch form.
    */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      seeding: String = "hash"): Array[(Int, Array[Float])] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(Set("hash", "first")(seeding),
      s"seeding must be hash|first, got $seeding")
    // "hash" (default): the k rows with the smallest LCG key
    // pmod(id·A + C, M) (ties → lowest id), re-labeled cid 0..k-1 in
    // key order — a deterministic, oracle-replayable ORDER-STATISTICS
    // sample of the corpus (Spark plans the orderBy+limit as a
    // per-partition top-k + driver merge: no full sort, no shuffle of
    // the vectors). At 100 TB this is a uniform pseudo-random seed
    // draw, where "first k ids" (the retained `seeding="first"`
    // cross-check) is a degenerate, ingest-order-biased one — cluster
    // quality (SemDeDup's Σ|cluster|² bound) inherits the seeds.
    // Same LCG caveat as the sampling gates: swap the key for
    // xxhash64 in production where ids approach ~8e9 (multiply
    // overflow); swap in k-means‖ offline without touching the
    // serving plan. KmeansSeedingSpec pins hash ≥ first on mean
    // assignment cosine for the catalog data.
    val seedRows =
      if (seeding == "hash")
        hashSeeds(vecs, k, TextAnalysis.SampleLcgC, idCol, vecCol, "kmeansAssign")
      else vecs.filter(col(idCol) < k)
        .select(col(idCol).cast("int").as("cid"),
          col(vecCol).cast("array<float>").as("cv"))
        .collect().map { r =>
          require(!r.isNullAt(1),
            s"kmeansAssign seed $idCol=${r.getInt(0)} has a null $vecCol")
          (r.getInt(0), r.getSeq[Float](1).toArray)
        }.sortBy(_._1)
    var cents: Array[(Int, Array[Float])] = seedRows
    require(cents.length == k,
      s"kmeansAssign sampled ${cents.length} seed centroids, expected $k" +
        (if (seeding == "first") s" — '$idCol < $k' assumes dense 0-based ids"
         else s" — corpus has fewer than $k rows"))
    for (_ <- 1 until iters) {
      val assigned = vecs.select(col(vecCol).as("v"),
        cellBest(col(vecCol), cents).getField("cid").as("cl"))
      val sums = assigned
        .select(col("cl"), posexplode(col("v")))
        .groupBy(col("cl"), col("pos"))
        .agg(sum(round(col("col").cast("double") * 1e6).cast("long")).as("sq"),
          count(lit(1)).as("n"))
        .collect()
      val byCl = sums.groupBy(_.getAs[Int]("cl")).map { case (cl, rs) =>
        cl -> rs.sortBy(_.getAs[Int]("pos")).map { r =>
          // (sum/n)/1e6 then IEEE-narrow — the oracle transcribes
          // CAST(CAST(sq AS DOUBLE)/CAST(n AS DOUBLE)/1e6 AS REAL)
          (r.getAs[Long]("sq").toDouble / r.getAs[Long]("n").toDouble / 1e6).toFloat
        }
      }
      cents = cents.map { case (cid, old) => (cid, byCl.getOrElse(cid, old)) }
    }
    cents
  }

  /** Assignment under FROZEN centroids: `(idCol, cluster,
    * cos_centroid)` — highest rounded quantized cosine, ties to lowest
    * cid (the ORDER BY ccos DESC, cid ASC rank-1 everywhere else). A
    * pure per-row projection (path-selected on k): no join, no shuffle.
    */
  def assignWithCentroids(vecs: DataFrame, cents: Array[(Int, Array[Float])],
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    vecs.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__b", cellBest(col("__v"), cents))
      .select(col(idCol), col("__b.cid").as("cluster"),
        col("__b.ccos").as("cos_centroid"))
}
