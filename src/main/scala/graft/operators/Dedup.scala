package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

/** Document deduplication operators for large-scale training-data
  * pipelines (scale extensions beyond the reference surface — SURVEY
  * §7.2 M8). Inputs are `documents`-shaped tables (`doc_id`, `text`).
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * candidate pairs come from equi-joins on content-derived keys (hash,
  * band signature, simhash prefix), so the heavy step is always a hash
  * shuffle on a key with bounded fan-out. All hashing is portable MD5
  * (deterministic on any engine / partitioning — see functions.Text).
  *
  * The variants compose as a TIERED pipeline (PLANS.md "Dedup
  * tiering"): exact (d01) → span (d11) → one persisted band-signature
  * table feeding star+CC clustering (d12+d07, the scale path), the
  * clique pair report (d05, audit tier — quadratic in cluster size by
  * design), and incremental ingest probes (d09 batch / st6 streaming).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest doc_id
    * (deterministic canonical representative), report group size.
    */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    docs.withColumn("content_hash", Text.md5s(col(textCol)))
      .withColumn("keep_id", first("doc_id").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("dup_count", count(lit(1)).over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** Span-level exact dedup — the C4/RefinedWeb LINE-dedup shape
    * adapted to unstructured text: each document is chunked into
    * consecutive `spanWords`-word spans, only the globally FIRST
    * occurrence of each distinct span text survives (first = smallest
    * `(doc_id, span_idx)`, so repeats later in the SAME document drop
    * too), and the surviving spans are reassembled per document in
    * original order. A document whose every span appeared earlier
    * vanishes from the output entirely. Output: `(doc_id, clean_text,
    * n_spans, n_kept)` with `clean_text` rebuilt from the kept spans.
    *
    * Scale shape: two shuffles total — the span-keyed exchange for the
    * first-occurrence window (per-group fan-in = one span's duplication
    * count, never the corpus) and the `doc_id` reassembly groupBy. The
    * chunking itself is a per-row projection; the `transform` /
    * reassembly lambdas are CodegenFallback but touch only one
    * document's few spans per call, never a corpus-sized collection.
    * At 100 TB you would additionally pre-hash the span (xxhash64) so
    * the shuffle carries 8-byte keys and keep the string only for
    * in-bucket equality; here the span text is the key directly so the
    * oracle replays it verbatim.
    */
  def spanDedup(docs: DataFrame, spanWords: Int,
                textCol: String = "text"): DataFrame = {
    require(spanWords > 0, s"spanDedup: spanWords must be positive, got $spanWords")
    val spans = docs
      .withColumn("ws", Text.tokens(col(textCol)))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, (size(ws) - 1) div $spanWords),
           |  i -> array_join(slice(ws, i * $spanWords + 1, $spanWords), ' '))"""
          .stripMargin).as("spans"))
      .select(col("doc_id"), size(col("spans")).cast("long").as("n_spans"),
        posexplode(col("spans")).as(Seq("span_idx", "span")))
    val firstSeen = Window.partitionBy("span").orderBy("doc_id", "span_idx")
    spans
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("span_idx"), col("span")))),
            x => x.getField("span")), " ").as("clean_text"),
        max("n_spans").as("n_spans"),
        count(lit(1)).as("n_kept"))
      .select("doc_id", "clean_text", "n_spans", "n_kept")
  }

  /** Per-doc band signatures `(doc_id, band, band_sig)` — the banding
    * stage behind every band-table candidate generator below; the
    * catalog persists its output once per corpus as the band artifact
    * (TextQ.bandSigs) and the generators read that table back.
    *
    * Band signature: md5 of the band's sorted "seed:minhash" strings.
    * The sort is LEXICOGRAPHIC over the concatenated string (not
    * numeric over the seed) — the oracle's string_agg ORDER BY uses
    * the identical string, so two-digit seeds agree by construction.
    */
  private[graft] def bandSignatures(docs: DataFrame, numHashes: Int, bands: Int,
                                    textCol: String): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "trailing seeds would silently drop from banding")
    // native one-pass banding (expressions/BandSignatures.scala, the
    // same expression the streaming probes use): the relational form
    // (array_min over a transform lambda per seed, then struct/md5
    // assembly) is CodegenFallback all the way down — numHashes
    // interpreted passes over every token list per row. Values are
    // identical (FunctionsSpec pins native == lambda reference);
    // token-less docs have no minhash and are dropped.
    docs.withColumn("__toks", Text.tokens(col(textCol)))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"),
        posexplode(call_function("graft_bandsigs",
          col("__toks"), lit(numHashes), lit(bands))).as(Seq("band", "band_sig")))
  }

  /** MinHash + LSH clique candidates from a band table `(doc_id, band,
    * band_sig)`: docs sharing ≥1 band bucket become candidate pairs
    * (doc_a < doc_b). Pair generation is an equi-join on (band,
    * bucket-signature): only near-duplicates collide, so the join
    * fan-out stays tiny even at billions of docs (the LSH guarantee),
    * and the dedup never goes quadratic outside a duplicate cluster.
    *
    * The band table is a persisted artifact computed once per corpus
    * ([[bandSignatures]] is deterministic), not re-derived from raw
    * text by every consumer — callers that share one materialized band
    * table (d05/d07/d09/d12/st6 here) tokenize and hash the corpus once
    * instead of once per query.
    *
    * WHY THE CLUSTERING TIERS (d07/d17's verified edges) STAY UNCAPPED
    * while the audit tier (d05) caps its buckets: capping a bucket
    * DROPS candidate edges past the cap, and for connected components
    * a dropped edge can silently SPLIT a true duplicate cluster — an
    * under-merge that ships duplicates, worse for a dedup pass than a
    * bounded pair report missing rows. The clique-within-bucket
    * semantic is exactly what the clustering tier verifies (each edge
    * Jaccard-checked before it merges anything), so its bound cannot
    * come from truncation; the scale path for a pathological
    * mega-bucket is the STAR form ([[minhashCandidatesStarFromBands]],
    * d12 — linear per bucket, hub edges keep the bucket connected) or
    * exact-hash grouping (d01), both of which bound the bucket without
    * disconnecting it. A caller that wants the clique semantic AND a
    * hard bound accepts the under-merge explicitly by passing the band
    * table through [[bandsKeptByRank]] first (d05).
    */
  def minhashCandidatesFromBands(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("band_sig"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("band_sig"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** [[minhashCandidatesFromBands]] over a band table that carries a
    * per-bucket doc_id-order rank column (graft's band artifact stores
    * `bucket_rank`), restructured to SPREAD a hot bucket's clique over
    * many tasks instead of one (guide §2.5: a single enormous join key
    * is the one skew AQE cannot split).
    *
    * Owner-block scheme: bucket members are sliced into rank blocks of
    * `blockSize`; pair (a, b) (with doc_a < doc_b, hence rank_a <
    * rank_b, hence block_a <= block_b) is generated by the task that
    * owns doc_a's block — the left side keeps one row per doc keyed by
    * its own block, the right side replicates each doc once per block
    * <= its own (sequence+explode, a fraction 1/blockSize of the pair
    * volume — never the dominant term), and the join key gains the
    * block id. The left side is hash-repartitioned on the full key so
    * pair generation parallelizes even under a broadcast join (whose
    * output otherwise inherits the probe side's partitioning — the
    * band artifact is one compact file, i.e. ONE task). Pair (a, b) is
    * emitted exactly once per colliding band: from a's block a copy of
    * b exists iff block_a <= block_b, and the mirrored (b, a) match
    * fails the doc_a < doc_b filter. DedupSpec pins set-equality with
    * the reference form; the measured effect at sf0.1 is the 1730-doc
    * mega-bucket's 1.5M-pair task splitting into ~14 block tasks.
    */
  def minhashCandidatesFromRankedBands(banded: DataFrame,
                                       rankCol: String = "bucket_rank",
                                       blockSize: Int = 128): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
    val blk = ((col(rankCol) - 1) / blockSize).cast("int")
    // BOTH sides keyed-repartitioned at a PINNED count (round 22): the
    // pair stage is CPU-heavy but byte-light, so a count-less
    // repartition(cols) gets AQE-coalesced by BYTES back into ~1 task
    // (measured: a 1.4 CPU-s single-task pair stage on d07's critical
    // path), and under the planner's broadcast join the output
    // inherits whichever side streamed — the single-file artifact
    // scan's one partition. Pinning to the session's shuffle-partition
    // conf (cores locally, cluster-sized in production — never a local
    // constant) keeps the slices parallel on both routes.
    val np = banded.sparkSession.sessionState.conf.numShufflePartitions
    val a = banded.select(col("band"), col("band_sig"), blk.as("__blk"),
        col("doc_id").as("doc_a"))
      .repartition(np, col("band"), col("band_sig"), col("__blk"))
    val b = banded.select(col("band"), col("band_sig"),
        explode(sequence(lit(0), blk)).as("__blk"), col("doc_id").as("doc_b"))
      .repartition(np, col("band"), col("band_sig"), col("__blk"))
    // SHUFFLE_HASH (not the planner's broadcast): the sides are already
    // co-partitioned by the repartitions above, so the shuffled-hash
    // join adds NO exchange and runs one task per (bucket, block) slice
    // — whereas the auto-chosen broadcast spent a serial 1.2–1.5 CPU-s
    // build stage on d05/d07's critical path (measured round 22), and
    // at corpus scale neither side fits a broadcast anyway. Build side
    // = a (one row per doc; the replicate side b is ~(1 + rank/block)×
    // larger), per-partition build is a 1/numPartitions slice.
    a.hint("SHUFFLE_HASH").join(b, Seq("band", "band_sig", "__blk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Attach `metrics` to `df` as an observed metric: through the
    * caller's Observation (which blocks on `get` after an action — the
    * spec and maintenance-CLI read path) or under `metricName` (which
    * feeds QueryExecutionListeners and the SQL UI). CollectMetrics
    * names must be unique per query: two guards over DIFFERENT inputs
    * composed into one plan fail at action time with duplicate names,
    * so a second call site in one query passes its own `metricName`
    * (or an Observation).
    */
  private def observed(df: DataFrame,
                       observation: Option[org.apache.spark.sql.Observation],
                       metricName: String, metrics: Seq[Column]): DataFrame =
    observation
      .map(o => df.observe(o, metrics.head, metrics.tail: _*))
      .getOrElse(df.observe(metricName, metrics.head, metrics.tail: _*))

  /** The per-bucket blow-up GUARD (the cap filter) over a band table
    * whose per-bucket rank is PRECOMPUTED: keeps `rankCol <=
    * maxDocsPerBucket`. graft's band artifact stores `bucket_rank`
    * over all rows and `corpus_rank` over the corpus slice, each a
    * `row_number` over the bucket in doc_id order written once per
    * generation (DedupGuardSpec pins the stored ranks against a fresh
    * window), so at probe time the guard is a scan-level filter plus a
    * metric aggregation — zero windows, zero new shuffles.
    *
    * Why a cap: a bucket self-join is quadratic in bucket size, so one
    * pathological band bucket (a boilerplate page duplicated 10⁶
    * times) silently emits ~10¹² clique pairs, and on the asymmetric
    * ingest probe multiplies EVERY colliding batch doc by the whole
    * bucket. Capped, each bucket contributes its first
    * `maxDocsPerBucket` docs only (doc_id order — deterministic), and
    * the truncation is OBSERVABLE, never silent: the plan carries
    * `truncated_doc_slots` and `doc_slots` (see [[observed]]); a
    * nonzero `truncated_doc_slots` is the signal to route the bucket
    * ([[bandsRoutedByRank]]) or to the exact tier (d01).
    *
    * Composition: d05 caps the clique by `bucket_rank`; d09/d15/st6
    * cap only the CORPUS side of the ingest probe by `corpus_rank`.
    * There the batch side is never cut — every new doc still probes
    * every bucket it lands in; a truncated bucket can only undercount
    * a new doc's `n_dups` (in the extreme, mark it `kept` though its
    * only verified dups sat past the cap). The rank is bucket-local,
    * so the filter commutes with any partition-pruned read of the same
    * table (st6's prefix-pruned static side keeps exactly the full
    * table's rows for its buckets).
    *
    * `metricName` names the metric when no `observation` collects it
    * (an `Observation` carries its own name); there is no default, so
    * each caller's guard reads under its own name (d05
    * `graft_lsh_bucket_guard`, d09/d15/st6 `graft_lsh_ingest_guard`).
    *
    * `extraMetrics` ride the same observe pass — the maintenance CLI
    * folds its mega-bucket stats (max rank, overflowing-bucket count)
    * into the guard's one scan instead of re-reading the band table
    * for a second aggregation.
    */
  def bandsKeptByRank(banded: DataFrame, rankCol: String,
                      maxDocsPerBucket: Int,
                      observation: Option[org.apache.spark.sql.Observation] = None,
                      metricName: String,
                      extraMetrics: Seq[Column] = Nil): DataFrame = {
    require(maxDocsPerBucket >= 1,
      s"maxDocsPerBucket must be >= 1, got $maxDocsPerBucket")
    val metrics = Seq(
      sum(when(col(rankCol) > maxDocsPerBucket, 1L).otherwise(0L))
        .as("truncated_doc_slots"),
      count(lit(1)).as("doc_slots")) ++ extraMetrics
    observed(banded, observation, metricName, metrics)
      .filter(col(rankCol) <= maxDocsPerBucket)
  }

  /** The ROUTED corpus side `(band, band_sig, doc_id)` of the ingest
    * probe (the route filter) — the EXECUTOR for the maintenance
    * report's `route=` recommendation: buckets whose corpus side
    * OVERFLOWS the cap keep their FULL membership, so each colliding
    * batch doc probes the whole bucket — |bucket| candidates per
    * (batch doc, bucket), linear like d12's hub stars — while every
    * other bucket is capped as in [[bandsKeptByRank]], and the two
    * branches union into one corpus side. Feeding it to
    * [[minhashCandidatesAgainstFromBands]] (d26; st12 per trigger over
    * its partition-pruned artifact read) closes the capped probe's
    * under-merge window by construction: a batch doc whose only true
    * duplicates rank past the cap still meets them, because a bucket
    * deep enough to hold rank > cap necessarily overflowed and was
    * routed (the dispatching-cascade posture of the reference's filter
    * chain, src/detection.py:1043-1118 — dispatch, don't advise).
    *
    * `rankCol` is the PRECOMPUTED corpus-side bucket rank (the band
    * artifact's `corpus_rank` — consecutive from 1 within each bucket
    * in doc_id order), so both the routing decision (`rank == cap+1`
    * marks each overflowing bucket exactly once) and the capped branch
    * are scan-level filters — zero probe-time windows. The decision is
    * bucket-local like the rank itself, so it COMMUTES with any
    * bucket-complete pruning of the table (DedupGuardSpec pins it, the
    * st6 static-side argument). The overflow key set is broadcast BY
    * CONTRACT: overflowing buckets are the pathological exception the
    * route exists for (a store where they are the common case needs
    * re-banding, which the maintenance report's overflow_buckets count
    * exposes long before this join could hurt).
    *
    * Scale honesty: the routed branch is linear in bucket size per
    * colliding batch doc — bounded because ingest batches are bounded
    * (the micro-batch/ingest contract), NOT because the bucket is. Its
    * volume is observable on every run: `routed_buckets` /
    * `routed_doc_slots` ride an observe over the routed branch, the
    * operational cost the routing trades against the capped tier's
    * silent truncation.
    */
  def bandsRoutedByRank(bandedCorpus: DataFrame, rankCol: String,
      maxCorpusPerBucket: Int,
      observation: Option[org.apache.spark.sql.Observation] = None,
      metricName: String = "graft_lsh_route"): DataFrame = {
    require(maxCorpusPerBucket >= 1,
      s"maxCorpusPerBucket must be >= 1, got $maxCorpusPerBucket")
    val corpus = bandedCorpus.select(
      col("band"), col("band_sig"), col("doc_id"), col(rankCol))
    val overflowKeys = corpus.filter(col(rankCol) === maxCorpusPerBucket + 1)
      .select("band", "band_sig")
    val routedRaw = corpus.join(broadcast(overflowKeys),
      Seq("band", "band_sig"), "leftsemi")
    // coalesce: a healthy store routes ZERO rows, and sum over an empty
    // branch is null — the report must read 0, not NPE on a Long cast
    val metrics = Seq(
      count(lit(1)).as("routed_doc_slots"),
      coalesce(sum(when(col(rankCol) === maxCorpusPerBucket + 1, 1L)
        .otherwise(0L)), lit(0L)).as("routed_buckets"))
    val routed = observed(routedRaw, observation, metricName, metrics)
      .select("band", "band_sig", "doc_id")
    // capped branch EXCLUDES the routed buckets (the branches stay
    // disjoint, so the union carries no duplicate corpus rows into the
    // probe join); the rank filter is then a no-op on what remains —
    // kept as belt-and-braces so the branch is capped by construction
    val capped = corpus.join(broadcast(overflowKeys),
        Seq("band", "band_sig"), "left_anti")
      .filter(col(rankCol) <= maxCorpusPerBucket)
      .select("band", "band_sig", "doc_id")
    capped.unionByName(routed)
  }

  /** Top-N overflowing buckets of a RANKED band table, largest first:
    * `(band, band_sig, bucket_size)` for buckets whose precomputed
    * `rankCol` exceeds `cap` — the WHERE behind the maintenance
    * report's overflow counts. A bucket's max rank IS its size, and
    * restricting the scan to `rank > cap` rows keeps exactly the
    * overflowing buckets' maxima, so this is one filter-pushed scan +
    * a group-by over the (few, pathological) overflow rows and a
    * bounded `limit(n)` collect — maintenance-time only, never probe
    * cost. Ties broken by (band, band_sig) for a deterministic report.
    */
  def topOverflowingBuckets(banded: DataFrame, rankCol: String, cap: Int,
                            n: Int): Seq[(Int, String, Long)] =
    banded.filter(col(rankCol) > cap)
      .groupBy("band", "band_sig")
      .agg(max(col(rankCol)).cast("long").as("bucket_size"))
      .orderBy(col("bucket_size").desc, col("band"), col("band_sig"))
      .limit(n)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq

  /** Asymmetric LSH candidates for INCREMENTAL dedup: band buckets of a
    * new batch joined against band buckets of an existing corpus —
    * `(doc_a = new, doc_b = corpus)` pairs only, never new×new or
    * corpus×corpus. This is the shape that dedups a fresh crawl against
    * a 100 TB training set: the corpus's band-signature table is a
    * persisted artifact maintained across batches ([[bandSignatures]]
    * is deterministic, so it never needs recomputing), and each ingest
    * computes signatures for ITS docs only and probes the bucket join —
    * cost scales with the batch, not the corpus. Band signatures are
    * per-row projections, so slicing one shared band table by doc set
    * gives values identical to banding each slice separately. Callers
    * ensure the two inputs are disjoint; ids may overlap across sets
    * without ambiguity because sides are fixed by position. The
    * corpus side may first pass through [[bandsKeptByRank]] (the
    * capped probe) or [[bandsRoutedByRank]] (the routed probe).
    */
  def minhashCandidatesAgainstFromBands(bandedNew: DataFrame,
                                        bandedCorpus: DataFrame): DataFrame = {
    val bn = bandedNew.select(col("band"), col("band_sig"), col("doc_id").as("doc_a"))
    val bc = bandedCorpus.select(col("band"), col("band_sig"), col("doc_id").as("doc_b"))
    bn.join(bc, Seq("band", "band_sig")).select("doc_a", "doc_b").distinct()
  }

  /** Star-reduced LSH candidates from a band table: per (band, bucket)
    * emit only (hub = min doc_id, member) edges instead of the full
    * clique.
    *
    * The clique form ([[minhashCandidatesFromBands]]) is inherently
    * quadratic in duplicate-CLUSTER size — a corpus with a 1 M-doc
    * near-dup cluster yields 5·10¹¹ candidate pairs no matter how
    * selective the banding is, because true duplicates always collide.
    * Star edges cap the fan-out at |docs| × bands while preserving
    * bucket connectivity (every member links to its bucket's hub),
    * which is exactly what downstream connected-components clustering
    * needs. This is the standard production-dedup shape for web-scale
    * corpora; the cost is that two members of one bucket are never
    * DIRECTLY compared, so a pair report derived from star edges lists
    * hub–member pairs only.
    */
  def minhashCandidatesStarFromBands(banded: DataFrame): DataFrame = {
    val hubs = banded.groupBy("band", "band_sig").agg(min("doc_id").as("doc_a"))
    banded.join(hubs, Seq("band", "band_sig"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b")).distinct()
  }

  /** Exact token-set Jaccard for candidate pairs (verification stage
    * after LSH, or standalone n-gram Jaccard dedup when `n > 1`).
    *
    * Gram arrays are sorted ONCE per document (map-side, before the
    * join), so the per-pair intersection is the native two-pointer
    * merge `graft_inter_size` instead of `array_intersect`'s per-row
    * hash set — the verify stage evaluates |candidates| pairs, and at
    * LSH-collision fan-outs that allocation was the dominant cost.
    *
    * With `minJaccard > 0` the verify is threshold-aware: since
    * J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), candidates are first joined
    * against a NARROW (doc_id, size) table and pruned on the size
    * ratio before the wide gram arrays are ever shuffled — colliding-
    * but-dissimilar pairs never carry array payloads. The final
    * `jaccard >= minJaccard` cut subsumes the prefilter, so the
    * prefilter is invisible to results (a pure shuffle-volume
    * optimization — the thing that matters when |candidates| is
    * millions and gram arrays are hundreds of bytes each).
    *
    * Grams are FINGERPRINTED to 64-bit hashes (codegen'd `xxhash64`)
    * map-side before sorting: the per-pair merge then compares longs —
    * one branch each — instead of UTF8 byte strings, and each element
    * is a fixed 8 bytes in the array payload regardless of gram
    * length. Set sizes and intersections are preserved as long as the
    * fingerprint is injective on the corpus vocabulary (a 64-bit hash
    * collides two of V distinct grams with probability ≈ V²/2⁶⁵ —
    * negligible below billions of distinct grams; the standard
    * shingle-fingerprint trade from the MinHash literature).
    */
  def jaccardPairs(docs: DataFrame, candidates: DataFrame, n: Int = 1,
                   textCol: String = "text", minJaccard: Double = 0.0): DataFrame =
    jaccardPairsFromSets(gramSets(docs, n, textCol), candidates, minJaccard)

  /** The per-doc sorted gram-fingerprint table `(doc_id, grams)` the
    * verify stage consumes — exposed so callers can PERSIST it (a
    * deterministic per-row projection, so an on-disk copy is
    * bit-identical to the recompute; see TextQ.GramStore): at
    * corpus scale tokenize+hash+sort per consumer is the dominant
    * verify cost, and a signature store computes it once.
    */
  def gramSets(docs: DataFrame, n: Int = 1, textCol: String = "text"): DataFrame =
    // n>1: materialize the token array before shingling — shingles
    // re-evaluates its input expression per element_at, so an inline
    // tokenize would re-tokenize ~n× per gram position (see
    // TextAnalysis.gramHashes).
    (if (n == 1)
        docs.withColumn("__grams", Text.distinctTokens(col(textCol)))
      else
        docs.withColumn("__toks", Text.tokens(col(textCol)))
          .withColumn("__grams", array_distinct(Text.shingles(col("__toks"), n))))
      .select(col("doc_id"),
        sort_array(transform(col("__grams"), g => xxhash64(g))).as("grams"))

  /** [[jaccardPairs]] over a PRECOMPUTED `(doc_id, grams)` set table
    * (sorted 64-bit fingerprints — [[gramSets]] or its persisted
    * artifact form).
    */
  def jaccardPairsFromSets(sets: DataFrame, candidates: DataFrame,
                           minJaccard: Double = 0.0): DataFrame = {
    val pruned = if (minJaccard > 0.0) {
      val sizes = sets.select(col("doc_id"), size(col("grams")).as("sz"))
      candidates
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
        .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
          greatest(col("sz_a"), col("sz_b")) * minJaccard)
        .select("doc_a", "doc_b")
    } else candidates
    val withA = pruned.join(sets.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("grams", "grams_a"), Seq("doc_a"))
    val withB = withA.join(sets.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("grams", "grams_b"), Seq("doc_b"))
    val scored = withB.withColumn("inter",
        call_function("graft_inter_size", col("grams_a"), col("grams_b")))
      .withColumn("unionSz",
        size(col("grams_a")) + size(col("grams_b")) - col("inter"))
      .withColumn("jaccard",
        when(col("unionSz") === 0, 0.0)
          .otherwise(col("inter").cast("double") / col("unionSz")))
      .select("doc_a", "doc_b", "inter", "unionSz", "jaccard")
    if (minJaccard > 0.0) scored.filter(col("jaccard") >= minJaccard) else scored
  }

  /** SimHash: 16-bit fingerprint from per-token hash16 bit votes.
    * Documents with identical simhash are near-dup candidates; see
    * [[simhashBallPairs]] for the hamming-ball (distance 1..3) tier.
    */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    // bit b of the 16-bit tier votes on bit b of hash16 = the first 4
    // md5 nibbles = bits 63..48 of the 64-bit digest prefix, so the
    // 16-bit fingerprint is the top 16 bits of graft_simhash64 (see
    // expressions/Simhash64.scala for the full equivalence argument).
    // NULL = zero-token doc, dropped like the old explode form did.
    docs.select(col("doc_id"),
        shiftrightunsigned(
          call_function("graft_simhash64", col(textCol)), 48).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash hamming-ball near-dup pairs: every doc pair whose 16-bit
    * fingerprints differ in 1..maxHamming bits (distance-0 pairs are
    * the existing exact-equality tier, [[simhash]] groupBy — kept
    * separate so each tier's output is its own report).
    *
    * Candidate generation is the Manku-style masked-chunk pigeonhole
    * (ref near-dup posture: /root/reference/README.md dedup notes): the
    * fingerprint splits into maxHamming+1 disjoint chunks, and any pair
    * within the ball must agree EXACTLY on at least one chunk — so
    * candidates come from an equi-join on (chunk, chunkValue), never a
    * cross product. Scale posture: the join runs over DISTINCT
    * fingerprints (≤ 2^16 rows regardless of corpus size), so candidate
    * cost is bounded by the fingerprint space, and only verified ball
    * pairs expand back to doc pairs (answer-sized — quadratic only in
    * genuine near-dup cluster sizes, same audit-tier caveat as
    * [[lshCandidatePairs]]). A 64-bit fingerprint would make the
    * chunk buckets sparser still; 16-bit mirrors [[simhash]].
    */
  def simhashBallPairs(docs: DataFrame, maxHamming: Int = 3,
                       textCol: String = "text"): DataFrame = {
    val nChunks = maxHamming + 1
    require(16 % nChunks == 0,
      s"maxHamming+1 must divide the 16-bit fingerprint, got $maxHamming")
    val width = 16 / nChunks
    // Three consumers (distinct-fp derivation + both doc expansions)
    // would each re-run the tokenize + md5 + vote aggregation without
    // this; one cache entry, CacheManager-deduped across calls (the
    // m02 match-table pattern).
    val sh = simhash(docs, textCol).cache()
    val fp = sh.select("simhash").distinct()
    val chunks = fp.select(col("simhash"),
        explode(array((0 until nChunks).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("simhash"), c * width)
              .bitwiseAND((1 << width) - 1).as("ckey"))): _*)).as("ck"))
      .select(col("simhash"), col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey"))
    val fpPairs = chunks.select(col("simhash").as("fp_a"), col("chunk"), col("ckey"))
      .join(chunks.select(col("simhash").as("fp_b"), col("chunk"), col("ckey")),
        Seq("chunk", "ckey"))
      .filter(col("fp_a") < col("fp_b"))
      .select("fp_a", "fp_b").distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
    fpPairs
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("fp_a")), Seq("fp_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("fp_b")), Seq("fp_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** SimHash, 64-bit production tier: fingerprint from per-token 64-bit
    * hash votes (first 16 hex nibbles of md5, most-significant-first —
    * the same convention [[simhash]]'s hash16 uses for its 4). The
    * 16-bit tier ([[simhash]]/[[simhashBallPairs]]) keeps d03/d14 hash
    * stability; THIS is the width production simhash dedup runs at —
    * at 100 TB the 2¹⁶ fingerprint space saturates (every bucket
    * collides, ball pairs go quadratic in corpus size), while 2⁶⁴
    * keeps chunk buckets sparse at any corpus size.
    *
    * Bit 63 is the sign bit: the fingerprint is assembled as bits
    * 0..62 plus Long.MinValue when bit 63's vote is positive — two's
    * complement addition, no overflow, and the identical arithmetic is
    * replayable in any BIGINT engine (the oracle does exactly this).
    */
  def simhash64(docs: DataFrame, textCol: String = "text"): DataFrame =
    // one-pass native projection (expressions/Simhash64.scala): at
    // corpus scale SimHash must be map-side — the old relational form
    // exploded |tokens| rows into a 64-aggregate groupBy shuffle.
    // NULL = zero-token doc, dropped like the old explode form did.
    docs.select(col("doc_id"),
        call_function("graft_simhash64", col(textCol)).as("simhash64"))
      .filter(col("simhash64").isNotNull)

  /** Hamming-ball pairs over the 64-bit fingerprint — the same Manku
    * masked-chunk pigeonhole as [[simhashBallPairs]] lifted to
    * production width: 4 disjoint 16-bit chunks for hamming ≤ 3, so
    * any in-ball pair agrees exactly on ≥ 1 chunk and candidates come
    * from an equi-join on (chunk, ckey), never a cross product. The
    * join runs over DISTINCT fingerprints; at 64 bits the distinct-fp
    * table scales with the corpus (not capped at 2¹⁶ like the 16-bit
    * tier) but each chunk bucket now holds only genuinely chunk-equal
    * fingerprints — the sparsity that makes this the 100 TB shape.
    * Chunk extraction masks after an arithmetic shift, so the sign
    * bit's 1-fill never leaks into a chunk key.
    */
  def simhash64BallPairs(docs: DataFrame, maxHamming: Int = 3,
                         textCol: String = "text"): DataFrame = {
    val nChunks = maxHamming + 1
    require(64 % nChunks == 0,
      s"maxHamming+1 must divide the 64-bit fingerprint, got $maxHamming")
    val width = 64 / nChunks
    val mask = (1L << width) - 1
    val sh = simhash64(docs, textCol).cache()
    val fp = sh.select("simhash64").distinct()
    val chunks = fp.select(col("simhash64"),
        explode(array((0 until nChunks).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("simhash64"), c * width)
              .bitwiseAND(mask).as("ckey"))): _*)).as("ck"))
      .select(col("simhash64"), col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey"))
    val fpPairs = chunks.select(col("simhash64").as("fp_a"), col("chunk"), col("ckey"))
      .join(chunks.select(col("simhash64").as("fp_b"), col("chunk"), col("ckey")),
        Seq("chunk", "ckey"))
      .filter(col("fp_a") < col("fp_b"))
      .select("fp_a", "fp_b").distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
    fpPairs
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash64").as("fp_a")), Seq("fp_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash64").as("fp_b")), Seq("fp_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Asymmetric hamming-ball pairs for INCREMENTAL simhash dedup — the
    * daily-ingest shape at production width: a new batch's 64-bit
    * fingerprints probe the corpus's PERSISTED fingerprint table
    * (`(doc_id, simhash64)` — see TextQ.SimhashStore), emitting
    * `(doc_a = new, doc_b = corpus)` pairs within `maxHamming`. Same
    * Manku masked-chunk pigeonhole as [[simhash64BallPairs]], but the
    * chunk equi-join is batch-vs-corpus only — never new×new or
    * corpus×corpus — so per-ingest cost scales with the batch's
    * distinct fingerprints, not the corpus's pair space. Unlike the
    * symmetric tiers (where distance-0 is the exact-equality report's
    * job), hamming 0 IS included here: a batch doc identical to a
    * corpus doc is precisely the hit an ingest gate must see.
    */
  def simhash64BallPairsAgainst(shNew: DataFrame, shCorpus: DataFrame,
                                maxHamming: Int = 3): DataFrame = {
    val nChunks = maxHamming + 1
    require(64 % nChunks == 0,
      s"maxHamming+1 must divide the 64-bit fingerprint, got $maxHamming")
    val width = 64 / nChunks
    val mask = (1L << width) - 1
    def chunked(fp: DataFrame) =
      fp.select(col("simhash64"),
          explode(array((0 until nChunks).map(c =>
            struct(lit(c).as("chunk"),
              shiftright(col("simhash64"), c * width)
                .bitwiseAND(mask).as("ckey"))): _*)).as("ck"))
        .select(col("simhash64"), col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey"))
    // each side feeds two consumers (distinct-fp probe + doc
    // expansion) but is NOT cached here: the expected inputs are
    // slices of the persisted fingerprint artifact (already a cheap
    // FileScan, memoize-cached by TextQ.simhashFps) — an operator-
    // level cache would leak a pinned relation per call, since the
    // lazily-returned plan still needs the inputs after this returns
    val sn = shNew.select("doc_id", "simhash64")
    val sc = shCorpus.select("doc_id", "simhash64")
    val fpPairs = chunked(sn.select("simhash64").distinct())
      .withColumnRenamed("simhash64", "fp_a")
      .join(chunked(sc.select("simhash64").distinct())
        .withColumnRenamed("simhash64", "fp_b"), Seq("chunk", "ckey"))
      .select("fp_a", "fp_b").distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
    fpPairs
      .join(sn.select(col("doc_id").as("doc_a"), col("simhash64").as("fp_a")), Seq("fp_a"))
      .join(sc.select(col("doc_id").as("doc_b"), col("simhash64").as("fp_b")), Seq("fp_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Embedding near-dup end-to-end: multi-table sign-bit LSH candidate
    * generation (SimilaritySearch.lshTables — a pair is a candidate
    * when ANY table's bucket agrees, banding-style) followed by the
    * exact quantized-cosine verify at `threshold`. Nothing here is
    * all-pairs: the self-join keys on (tbl, bucket) with bounded
    * fan-out, and the verify join touches candidates only. Quantized
    * cosine (bit-identical across engines) makes the threshold cut
    * reproducible — a plain-double cosine could flip boundary pairs
    * between partitionings.
    */
  def embeddingNearDupLsh(emb: DataFrame, numTables: Int, planesPerTable: Int,
                          threshold: Double, dims: Int = 64): DataFrame = {
    val sigs = SimilaritySearch.lshTables(emb, numTables, planesPerTable, dims)
    val a = sigs.select(col("vec_id").as("doc_a"), col("tbl"), col("bucket"))
    val b = sigs.select(col("vec_id").as("doc_b"), col("tbl"), col("bucket"))
    val cands = a.join(b, Seq("tbl", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val e = emb.select(col("vec_id"), col("embedding"))
    cands
      .join(e.select(col("vec_id").as("doc_a"), col("embedding").as("emb_a")), Seq("doc_a"))
      .join(e.select(col("vec_id").as("doc_b"), col("embedding").as("emb_b")), Seq("doc_b"))
      .withColumn("cosine", round(Vectors.cosineQNative(col("emb_a"), col("emb_b")), 9))
      .filter(col("cosine") >= threshold)
      .select("doc_a", "doc_b", "cosine")
  }

  /** Verified same-cluster cosine edges from a `(cluster, id, vec)`
    * table, with the within-cluster self-join SPREAD over rank blocks
    * (guide §2.5 — the minhashCandidatesFromRankedBands owner-block
    * scheme). The raw cluster equi-join has at most k distinct keys,
    * and under a broadcast join its output inherits the probe side's
    * partitioning — at sf0.1 ALL Σ|cluster|² quantized-cosine verifies
    * ran in ONE task (measured round 22: a single 1.8 CPU-s task on
    * d19's 3.1 s wall). Members are sliced into rank blocks of
    * `blockSize`; pair (a, b) with id_a < id_b — hence rank_a < rank_b,
    * hence block_a <= block_b — is generated exactly once, by the task
    * owning a's block (the right side replicates each row once per
    * block <= its own, a 1/blockSize fraction of pair volume). Pair
    * set and cosine values are identical to the plain self-join
    * (AnnSpec pins set-equality, including gapped ids and blockSize 1).
    */
  private[graft] def clusterCosineEdges(withVec: DataFrame, threshold: Double,
                                        idCol: String, vecCol: String,
                                        blockSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy("cluster").orderBy(idCol)
    val ranked = withVec.withColumn("__r", row_number().over(wc))
    val blk = ((col("__r") - 1) / blockSize).cast("int")
    // BOTH sides keyed-repartitioned at a PINNED count: the cosine
    // verify is CPU-heavy byte-light, so a count-less repartition(cols)
    // gets AQE-coalesced by BYTES back into ~1 task, and under a
    // broadcast join the output inherits whichever side streamed
    // (measured round 22: with only `a` repartitioned the planner
    // broadcast `a` and the whole verify fused into the window's single
    // task). Pinned to the session's shuffle-partition conf — cores
    // locally, cluster-sized in production, never a local constant.
    val np = withVec.sparkSession.sessionState.conf.numShufflePartitions
    val a = ranked.select(col("cluster"), blk.as("__blk"),
        col(idCol).as("id_a"), col(vecCol).as("v_a"))
      .repartition(np, col("cluster"), col("__blk"))
    val b = ranked.select(col("cluster"),
        explode(sequence(lit(0), blk)).as("__blk"),
        col(idCol).as("id_b"), col(vecCol).as("v_b"))
      .repartition(np, col("cluster"), col("__blk"))
    // SHUFFLE_HASH: co-partitioned sides → no exchange, no serial
    // broadcast build (see minhashCandidatesFromRankedBands)
    a.hint("SHUFFLE_HASH").join(b, Seq("cluster", "__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(Vectors.cosineQNative(col("v_a"), col("v_b")), 9))
      .filter(col("cosine") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023's recipe over
    * this engine's deterministic primitives): k-means-cluster the
    * embedding space, compare pairs WITHIN each cluster only (the
    * clusters bound the quadratic — Σ|cluster|² pairs instead of n²,
    * the whole point of the method at 100 TB), connect pairs above the
    * cosine threshold into duplicate groups, and keep ONE
    * representative per group — per the paper, the member with the
    * LOWEST cosine to its cluster centroid (prefer the atypical
    * example for diversity; ties to the lowest id). Every vector is
    * emitted with its cluster, duplicate group, group size and keep
    * flag; singletons keep themselves.
    *
    * Determinism: assignment and pair scores are the quantized cosine
    * rounded to 9 decimals (bit-identical across engines and
    * partitionings); groups are component-min labels.
    */
  def semDeDup(emb: DataFrame, k: Int, iters: Int, threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: three consumers (both pair-join sides + the final output
    // join) would each re-run the k x dims argmax scan without it;
    // registered with the session memo so its reset releases it instead
    // of pinning one relation per distinct input for the session
    val assign = graft.SessionMemo.register(
      SimilaritySearch.kmeansAssign(emb, k, iters, idCol, vecCol).cache(),
      emb.sparkSession)
    val withVec = assign.join(emb.select(col(idCol), col(vecCol)), Seq(idCol))
    val edges = clusterCosineEdges(withVec, threshold, idCol, vecCol)
    val groups = connectedComponents(edges, distinctEdges = false)
      .select(col("doc_id").as(idCol), col("cluster_id").as("dup_group"))
    semanticTail(assign, groups, idCol)
  }

  /** Shared output shape of the semantic-dedup family: attach group
    * labels to the assignment (singletons keep themselves), then group
    * size and the paper's keep rule — LOWEST centroid cosine wins,
    * ties to the lowest id.
    */
  private def semanticTail(assign: DataFrame, groups: DataFrame,
                           idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("dup_group")
      .orderBy(col("cos_centroid").asc, col(idCol).asc)
    assign.join(groups, Seq(idCol), "left")
      .withColumn("dup_group", coalesce(col("dup_group"), col(idCol)))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy("dup_group")).cast("long"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster"), col("cos_centroid"),
        col("dup_group"), col("group_size"), col("keep"))
  }

  /** INCREMENTAL SemDeDup — the ingest shape of [[semDeDup]], closing
    * the maintenance loop the band/cluster tiers already have
    * (d09/d17/d18): an arriving batch is assigned under the FROZEN
    * persisted centroid model, pairs only against same-cluster corpus
    * members (plus same-cluster batch peers), and its verified edges
    * are star-merged into the persisted duplicate-group labels via
    * [[ccIncremental]] — never re-clustering the corpus.
    *
    * Correctness: cluster assignment gates pair candidacy, and both
    * paths assign with the SAME frozen centroids, so the full edge set
    * decomposes exactly into corpus–corpus (already folded into
    * `corpusState`'s labels) + batch-touching (generated here). The
    * star-merge fixpoint therefore equals batch [[semDeDup]] over
    * corpus ∪ batch — bit-identical, which is what the d21 catalog row
    * pins against d19's oracle. Cost scales with the batch's cluster
    * spread: |batch| × |touched clusters' members| pairs, one
    * star-forest CC, no corpus-wide work.
    *
    * @param batch        arriving rows `(idCol, vecCol)`
    * @param corpusState  persisted `(idCol, cluster, cos_centroid,
    *                     dup_group)` — the semantic artifact
    * @param vectors      vector lookup covering corpus ∪ batch ids
    *                     (the base embedding table)
    * @param cents        the frozen centroid model
    * @param corpusProbe  `(cluster, idCol)` source for the PAIR side —
    *                     pass the cluster-partition-pruned artifact
    *                     read (TextQ.prunedSemState) so the candidate
    *                     scan touches only the batch's clusters; the
    *                     default falls back to `corpusState` (same
    *                     rows — the cluster equi-join makes the two
    *                     row-identical, pruning is purely a scan cut)
    */
  def semDeDupIncremental(batch: DataFrame, corpusState: DataFrame,
                          vectors: DataFrame,
                          cents: Array[(Int, Array[Float])],
                          threshold: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          corpusProbe: DataFrame = null): DataFrame = {
    val batchAssign =
      SimilaritySearch.assignWithCentroids(batch, cents, idCol, vecCol)
    val probeSide = Option(corpusProbe).getOrElse(corpusState)
    // candidate ids first (distinct canonical pairs), vectors joined
    // back only for surviving candidates — the d17 probe-then-verify
    // shape
    val candIds = batchAssign.select(col("cluster"), col(idCol).as("id_x"))
      .join(probeSide.select(col("cluster"), col(idCol).as("id_y"))
          .unionByName(batchAssign.select(col("cluster"), col(idCol).as("id_y"))),
        Seq("cluster"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    val vlook = vectors.select(col(idCol), col(vecCol))
    val edges = candIds
      .join(vlook.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), Seq("id_a"))
      .join(vlook.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), Seq("id_b"))
      .withColumn("cosine", round(Vectors.cosineQNative(col("v_a"), col("v_b")), 9))
      .filter(col("cosine") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val prev = corpusState
      .select(col(idCol).as("doc_id"), col("dup_group").as("cluster_id"))
    val merged = ccIncremental(prev, edges)
      .select(col("doc_id").as(idCol), col("cluster_id").as("dup_group"))
    val assignAll = corpusState.select(col(idCol), col("cluster"), col("cos_centroid"))
      .unionByName(batchAssign)
    semanticTail(assignAll, merged, idCol)
  }

  /** Connected components over a duplicate-pair table — the clustering
    * step that turns pairwise near-dup hits into dedup groups (keep one
    * representative per component). Iterative min-label propagation:
    * every node starts labeled with itself; each round takes the min of
    * its own and its neighbors' labels; converged when nothing changes.
    * The fixpoint (min reachable id per component) is independent of
    * iteration order and partitioning, so results are deterministic on
    * any cluster layout.
    *
    * Scale: each round is (a) a neighbor-min hash shuffle of the edge
    * table joined to the label table, then (b) a POINTER-DOUBLING step
    * — label ← label(label), a self-join on the label table. (b) is
    * what makes round count O(log diameter) instead of O(diameter):
    * plain neighbor propagation walks a duplicate CHAIN one hop per
    * round (a 200-doc chain = 200 shuffles), doubling collapses it in
    * ~8. Both steps only move labels downward toward the component
    * min, so the fixpoint — and the emitted result — is unchanged and
    * independent of partitioning. Checkpointing truncates the growing
    * lineage each round so the plan stays O(1) in round count:
    * `localCheckpoint` (the default) keeps the snapshot in executor
    * block storage — fast, but NOT executor-loss-tolerant (a lost
    * executor mid-job kills the query, since truncated lineage cannot
    * recompute). Pass `checkpointDir` to use RELIABLE `checkpoint`
    * into that fault-tolerant location (HDFS/S3A on a real cluster) —
    * the right default for long CC jobs at 100 TB, at the cost of a
    * write+read per round. Superseded rounds' checkpoint files are
    * DELETED as the loop advances (Spark never cleans reliable
    * checkpoints itself — without this a 20-round job retains every
    * round's full snapshot); only the final generation's files remain,
    * needed by the returned DataFrame — remove the directory when done
    * with the result. Note `setCheckpointDir` is context-global and
    * stays set after the call.
    *
    * `localSolveThreshold`: once the CONTRACTED edge fringe shrinks to
    * at most this many edges (and node ids are integral), the
    * remaining components are solved in one pass on the driver
    * (union-find over the collected fringe — a bounded model-artifact
    * collect through the primitive tuple encoder: specialized
    * Tuple2[Long,Long] holds unboxed longs, so the transient driver
    * footprint is ~threshold × 32 B incl. object headers — ≈64 MB at
    * the 2²¹ default, vs ~3× for a GenericRow collect) instead of
    * running more
    * distributed rounds. The geometric contraction means the LAST
    * rounds of distributed CC always degenerate into many tiny
    * latency-bound jobs over a vanishing fringe — the standard
    * production mitigation is exactly this hybrid tail (large graph:
    * distributed rounds shrink the fringe under the threshold, then
    * one driver pass finishes; small graph: the driver pass runs
    * immediately). The fixpoint (component-min label) is identical —
    * CcSpec checks the hybrid against reference union-find. Set 0 to
    * force the fully-distributed loop.
    *
    * The default is 2²¹ SYMMETRIC edges (each undirected edge counts
    * twice here) — raised from 2²⁰ in round 21: the sf0.1 dedup
    * clustering's verified edge set (≈7.6×10⁵ undirected, 1.53M
    * symmetric) sat just above the old threshold, so d07 paid two
    * distributed rounds plus the compress loop (~20 latency-bound
    * jobs) to shrink a fringe the driver solves in well under a
    * second. The driver bound stays ≤64 MB transient, and the 100 TB
    * posture is unchanged: a corpus-scale edge set still runs the
    * distributed rounds until the fringe contracts under the
    * threshold.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_a",
                          dstCol: String = "doc_b", maxIter: Int = 50,
                          checkpointDir: Option[String] = None,
                          distinctEdges: Boolean = true,
                          localSolveThreshold: Long = 1L << 21): DataFrame = {
    val sc = edges.sparkSession.sparkContext
    // reliable mode: track each generation's rdd-* dirs (a checkpoint
    // call adds exactly one, eagerly) so release() can delete a
    // superseded generation's files at the same point it unpersists it
    val ckptFs = checkpointDir.map { dir =>
      sc.setCheckpointDir(dir)
      val root = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      (root, root.getFileSystem(sc.hadoopConfiguration))
    }
    def listCkpts: Set[String] = ckptFs match {
      case Some((root, fs)) if fs.exists(root) =>
        fs.listStatus(root).map(_.getPath.toString).toSet
      case _ => Set.empty
    }
    val gen = new java.util.IdentityHashMap[DataFrame, Set[String]]
    val ckpt: DataFrame => DataFrame =
      if (ckptFs.isDefined) { df =>
        val before = listCkpts
        val out = df.checkpoint()
        gen.put(out, listCkpts -- before)
        out
      } else df => df.localCheckpoint(true)
    def release(df: DataFrame): Unit = {
      df.unpersist()
      Option(gen.remove(df)).foreach(_.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        ckptFs.foreach(_._2.delete(path, true))
      })
    }
    // The loop body deliberately contains NO Union — a Union duplicated
    // through iteration plans trips Spark 4.1's constraint rewrite
    // (Derived.scala bug class). The symmetric closure is built by
    // EXPLODING each edge into both directions in one projection — one
    // pass, one materialization, and no self-referencing Union at all
    // (the earlier union-of-checkpoint form paid a second full-edge
    // checkpoint job just to read the first one back). `distinctEdges`
    // exists because dedup'ing the input costs a full-edge shuffle:
    // callers whose edge table is already pair-distinct (every LSH
    // pair table here — candidates end in `.distinct()`) skip it;
    // duplicate edges would only inflate round-1 volume, never labels.
    // Materialize the UNDIRECTED edge table first (round 21): the
    // common small-graph route — iter-0 driver tail solve — never needs
    // the symmetric closure (union-find is direction-blind), so the 2×
    // explode, its checkpoint write, and the collect all ran on twice
    // the rows for nothing. The distributed loop still symmetrizes
    // below (its min-neighbor hook is directional); the threshold keeps
    // its symmetric-edge meaning (2 × undirected at iter 0, contracted
    // symmetric count on later rounds — exactly the old tests).
    // distinctEdges note: dedup on the undirected table does not
    // collapse an (a,b)/(b,a) mirrored INPUT pair the old symmetric
    // distinct would have; duplicate edges only inflate round-1 volume,
    // never labels (the documented contract, pinned in CcSpec).
    val und = ckpt({
      val base = edges.filter(col(srcCol) =!= col(dstCol))
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      if (distinctEdges) base.distinct() else base
    })
    val undCnt = und.count()
    // labels are initialized LAZILY (round 22): the common small-graph
    // route — the iter-0 driver tail solve — derives the full
    // (node, label) table from the collected fringe itself (every
    // CC-visible node is an edge endpoint), so the distributed
    // explode+distinct+checkpoint identity init and the rep-map
    // broadcast join both vanish from that path (two jobs over the
    // full edge set, on every d07/d17/d19 run and every st7 trigger).
    // The distributed loop and the empty-edge case still build the
    // identity map here.
    var labels: DataFrame = null
    def labelsIdentityInit(): Unit = if (labels == null) {
      labels = ckpt(und
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .distinct().withColumn("label", col("node")))
    }
    var iter = 0
    // one size job per round, shared by the loop guard, the tail-solve
    // threshold test, and the post-loop convergence check (an action;
    // testing emptiness and size separately would double the
    // per-iteration job count — the df is checkpoint-materialized, so
    // count is a cheap metadata-ish scan)
    val spark = edges.sparkSession
    val nodeType = und.schema("src").dataType
    val tailSolvable = nodeType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => localSolveThreshold > 0
      case _ => false
    }
    // `e` is the SYMMETRIC working table of the distributed loop —
    // built lazily, only if the loop actually runs a distributed round
    var e: DataFrame = null
    var eCnt = 2 * undCnt
    var drained = eCnt == 0
    def symmetrize(): Unit = if (e == null) {
      e = ckpt(und
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("se"))
        .select(col("se.src").as("src"), col("se.dst").as("dst")))
      release(und)
    }
    // When the tail solve runs on the FIRST iteration, labels are still
    // the identity map, so coalesce(find(node), node) IS the union-find
    // fixpoint — the post-loop compress pass would be a provable no-op
    // (one join + one stability check of pure overhead on the common
    // small-graph path; the sf0.1 dedup edge sets all take this route).
    var fixpointProven = false
    while (iter < maxIter && !drained) {
      if (tailSolvable && eCnt <= localSolveThreshold) {
        // HYBRID TAIL: the fringe is bounded — finish on the driver.
        // Union-find with component-min roots over the contracted
        // edges, then one broadcast join rewrites every label whose
        // rep merged. Values identical to more distributed rounds
        // (both compute min reachable id); on a MID-LOOP handoff
        // (iter > 0) the compress loop below still runs and
        // independently verifies the fixpoint — at iter 0 labels are
        // the identity map, the union-find result IS the fixpoint,
        // and the compress pass is skipped as a proven no-op (the
        // CcSpec hybrid-vs-distributed parity covers both routes).
        // collect through the tuple encoder, not Row: Tuple2[Long,Long]
        // is @specialized so the fringe lands as unboxed longs (~32 B/
        // edge incl. headers) instead of GenericRow + boxed Longs (~100 B).
        // At iter 0 the symmetric table was never built — union-find is
        // direction-blind, so the UNDIRECTED table (half the rows) is
        // collected instead.
        val fringe: Array[(Long, Long)] = {
          import spark.implicits._
          (if (e == null) und else e)
            .select(col("src").cast("long"), col("dst").cast("long"))
            .as[(Long, Long)].collect()
        }
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        fringe.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        import spark.implicits._
        if (iter == 0) {
          // labels are still the identity map, so the solved table is
          // (endpoint, find(endpoint)) — build it straight from the
          // union-find instead of initializing a distributed identity
          // map and broadcast-joining the rep map into it (two jobs
          // over the full edge set, pure overhead on this route). Same
          // driver memory class as the fringe collect above (≤2 longs
          // per edge, bounded by localSolveThreshold).
          val seen = new java.util.HashSet[java.lang.Long](fringe.length * 2)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          fringe.foreach { case (a, b) =>
            if (seen.add(a)) out += ((a, find(a)))
            if (seen.add(b)) out += ((b, find(b)))
          }
          labels = ckpt(out.toSeq.toDF("node", "label")
            .select(col("node").cast(nodeType).as("node"),
              col("label").cast(nodeType).as("label")))
        } else {
          val repMap = parent.keys.map(k => (k, find(k))).toSeq
          val repDf = broadcast(repMap.toDF("__rep", "__cmin")
            .select(col("__rep").cast(nodeType), col("__cmin").cast(nodeType).as("__cmin")))
          val solved = ckpt(labels
            .join(repDf, labels("label") === repDf("__rep"), "left")
            .select(col("node"), coalesce(col("__cmin"), col("label")).as("label")))
          release(labels)
          labels = solved
        }
        fixpointProven = iter == 0
        drained = true
      } else {
      labelsIdentityInit() // before symmetrize(), which releases `und`
      symmetrize()
      // hook: every representative adopts min(self, neighbors) in the
      // CONTRACTED graph (e is in representative space from round 2 on)
      // not materialized: recomputing this one groupBy inside the
      // doubling self-join is cheaper than an extra checkpoint job
      val minNb = e.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("rep"), least(col("src"), col("mn")).as("newrep"))
      val hooked = labels
        .join(minNb.withColumnRenamed("rep", "label"), Seq("label"), "left")
        .select(col("node"), coalesce(col("newrep"), col("label")).as("label"))
      // pointer doubling: label ← label(label). Hook alone walks a
      // duplicate CHAIN one hop per round (O(diameter) rounds); with
      // doubling the reachable distance doubles every round, and the
      // contracted edge set below shrinks geometrically — O(log
      // diameter) rounds total. Both steps only move labels downward
      // toward the component min, so the fixpoint is unchanged and
      // independent of partitioning.
      val doubled = ckpt(hooked.as("a")
        .join(hooked.select(col("node").as("dn"), col("label").as("dl")).as("b"),
          col("a.label") === col("b.dn"), "left")
        .select(col("a.node").as("node"),
          coalesce(col("dl"), col("a.label")).as("label")))
      release(labels)
      labels = doubled
      // contract: rewrite edges into new-representative space and drop
      // intra-cluster loops — the edge table shrinks geometrically, so
      // later rounds shuffle only the still-unmerged fringe
      val relabeled = ckpt(e
        .join(labels.select(col("node").as("src"), col("label").as("ls")), Seq("src"))
        .join(labels.select(col("node").as("dst"), col("label").as("ld")), Seq("dst"))
        .select(col("ls").as("src"), col("ld").as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
      release(e)
      e = relabeled
      iter += 1
      eCnt = e.count()
      drained = eCnt == 0
      }
    }
    // a silent partial merge would be a wrong-but-plausible clustering;
    // with doubling+contraction, maxIter=50 covers graphs far beyond
    // 2^50 diameter, so hitting it means a logic bug — fail loudly
    require(drained,
      s"connectedComponents did not converge in $maxIter rounds")
    // empty-edge input: the loop never ran, so build the (empty)
    // identity map before `und` is released below
    labelsIdentityInit()
    // the drained edge table is never read again (und is already
    // released when the loop symmetrized it)
    if (e != null) release(e) else release(und)
    // the edge set can empty while the label forest still has depth > 1
    // (a cluster's rep was itself relabeled in a later round): compress
    // to the fixpoint with doubling — depth halves per pass. Skipped
    // when the iter-0 tail solve already proved the fixpoint (above).
    var stable = fixpointProven
    while (!stable) {
      val nxt = ckpt(labels.as("a")
        .join(labels.select(col("node").as("dn"), col("label").as("dl")).as("b"),
          col("a.label") === col("b.dn"), "left")
        .select(col("a.node").as("node"),
          coalesce(col("dl"), col("a.label")).as("label")))
      stable = nxt.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .filter(col("n.label") < col("o.label")).isEmpty
      release(labels) // after the stable check, which reads the old labels
      labels = nxt
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** INCREMENTAL connected components — the maintenance form of
    * [[connectedComponents]] for a corpus whose duplicate clusters are
    * already computed: merge a new batch's edges into the existing
    * clustering WITHOUT re-clustering the corpus.
    *
    * Correctness: the batch fixpoint (min reachable id) is a pure
    * function of the graph, and an existing clustering is equivalent
    * to its STAR graph (node → cluster representative) — every
    * component of (star ∪ newEdges) has exactly the node set of the
    * corresponding merged component in (oldEdges ∪ newEdges), so
    * running the same min-label CC over the star union reaches the
    * identical fixpoint. Cost: the star edge table is |corpus| rows
    * regardless of how many pair edges produced it, and only
    * components actually TOUCHED by new edges do any label movement —
    * the CC rounds over everything else contract immediately. This is
    * how a 100 TB dedup keeps cluster ids stable across daily
    * ingests: batch CC once, then star-merge each increment.
    *
    * `prevLabels`: `(doc_id, cluster_id)` from a previous run (any
    * clustering whose representative is the component min). Nodes that
    * appear only in `prevLabels` keep their cluster; nodes only in
    * `newEdges` form/join clusters as usual.
    */
  def ccIncremental(prevLabels: DataFrame, newEdges: DataFrame,
                    srcCol: String = "doc_a", dstCol: String = "doc_b",
                    checkpointDir: Option[String] = None): DataFrame = {
    val star = prevLabels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(srcCol), col("cluster_id").as(dstCol))
    // singleton clusters (doc == rep, no star edge) must survive even
    // if untouched by new edges: CC only emits nodes that occur in
    // some edge, so re-attach them after the merge
    val merged = connectedComponents(
      star.unionByName(newEdges.select(col(srcCol), col(dstCol))),
      srcCol, dstCol, checkpointDir = checkpointDir)
    val singletons = prevLabels
      .join(merged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    merged.unionByName(singletons)
  }

}
