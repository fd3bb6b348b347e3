package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Artifact
import graft.functions.Text
import graft.operators.{Dedup, SequencePack, SimilaritySearch, TextAnalysis}

/** Text-analysis, dedup, and similarity-search query catalog over the
  * `documents` / `embeddings` tables (training-data-pipeline operators,
  * SURVEY §7.2 M8). Oracle parity via portable MD5 hashing and
  * quantized-integer accumulation (see functions.Text / Rel header).
  */
object TextQ {

  /** Stopword profiles for language-ID (deterministic operator shape —
    * the synthetic corpus shares one vocabulary, so these are arbitrary
    * but fixed; alphabetical CASE order = tie-break).
    */
  val profiles: Map[String, Seq[String]] = Map(
    "de" -> Seq("join", "row", "customer"),
    "en" -> Seq("the", "a", "order"),
    "es" -> Seq("slow", "agg", "merge"),
    "fr" -> Seq("scan", "data", "query"),
    "zh" -> Seq("small", "stream", "value"))

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  // t05's language-mix fractions as exact integer hash-gate thresholds
  // (frac · SampleModulus, truncated): derived from the OPERATOR'S own
  // constants so the mix can never drift between the Spark filter and
  // the oracle CASE. en is upsampled, de mid-weighted, the tail default.
  private val mixThresholds: Seq[(String, Long)] = Seq(
    "en" -> (0.5 * TextAnalysis.SampleModulus).toLong,
    "de" -> (0.3 * TextAnalysis.SampleModulus).toLong)
  private val mixDefault: Long = (0.1 * TextAnalysis.SampleModulus).toLong

  // Shared water-filling allocation CTE for t11/t12 — transcribes
  // TextAnalysis.domainMixAllocation step for step (same weight
  // expression, same integer tests, `//` = Spark's `div` on the
  // non-negative operands involved). The double ratio is an ORDER BY
  // key only; every decision and allocation is exact integer
  // arithmetic, so one shared text keeps both oracles honest.
  /** Shared simhash oracle text (d03's fingerprint derivation, reused
    * verbatim by d14's hamming-ball tier): ends in a CTE `sh(doc_id,
    * simhash)`. One copy so a vote-formula edit cannot reach one
    * consumer and not the other.
    */
  private val SimhashCtes: String = {
    val votes = (0 until 16).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n    ")
    val bits = (0 until 16).map(b =>
      s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
      |  FROM documents
      |), h16 AS (
      |  SELECT doc_id,
      |    (CASE WHEN ascii(substr(md5(tok), 1, 1)) <= 57 THEN ascii(substr(md5(tok), 1, 1)) - 48 ELSE ascii(substr(md5(tok), 1, 1)) - 87 END) * 4096 +
      |    (CASE WHEN ascii(substr(md5(tok), 2, 1)) <= 57 THEN ascii(substr(md5(tok), 2, 1)) - 48 ELSE ascii(substr(md5(tok), 2, 1)) - 87 END) * 256 +
      |    (CASE WHEN ascii(substr(md5(tok), 3, 1)) <= 57 THEN ascii(substr(md5(tok), 3, 1)) - 48 ELSE ascii(substr(md5(tok), 3, 1)) - 87 END) * 16 +
      |    (CASE WHEN ascii(substr(md5(tok), 4, 1)) <= 57 THEN ascii(substr(md5(tok), 4, 1)) - 48 ELSE ascii(substr(md5(tok), 4, 1)) - 87 END) AS h
      |  FROM toks
      |), votes AS (
      |  SELECT doc_id,
      |    $votes
      |  FROM h16 GROUP BY doc_id
      |), sh AS (
      |  SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes
      |)""".stripMargin
  }

  /** 64-bit simhash oracle CTEs (d16): per-token hash = first 16 md5
    * nibbles most-significant-first (nibble value via the same
    * ASCII-math hexDigit formula as h16), 64 bit-votes, fingerprint
    * assembled as bits 0..62 plus two's-complement Long.MinValue when
    * bit 63's vote is positive — the identical arithmetic the Scala
    * side runs, so the signed BIGINT fingerprints agree exactly.
    */
  private val Simhash64Ctes: String = {
    def nibbleExpr(i: Int) =
      s"(CASE WHEN ascii(substr(h, ${i + 1}, 1)) <= 57 THEN ascii(substr(h, ${i + 1}, 1)) - 48 ELSE ascii(substr(h, ${i + 1}, 1)) - 87 END)"
    val nibs = (0 until 16).map(i => s"${nibbleExpr(i)} AS n$i").mkString(",\n    ")
    val votes = (0 until 64).map { b =>
      val nib = 15 - b / 4
      val p = b % 4
      s"sum(CASE WHEN (n$nib >> $p) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val low = (0 until 63).map(b =>
      s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val sign = "CASE WHEN v63 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    s"""toks64 AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
      |  FROM documents
      |), nib64 AS (
      |  SELECT doc_id,
      |    $nibs
      |  FROM (SELECT doc_id, md5(tok) AS h FROM toks64)
      |), votes64 AS (
      |  SELECT doc_id,
      |    $votes
      |  FROM nib64 GROUP BY doc_id
      |), sh64 AS (
      |  SELECT doc_id, CAST($low AS BIGINT) + $sign AS simhash64 FROM votes64
      |)""".stripMargin
  }

  /** Shared MinHash-banding oracle text — ONE copy of the signature
    * formula for both its consumers (d09's batch incremental dedup and
    * st6's streaming ingest probe in ExtQ): a formula edit that
    * reached one oracle but not the other would make them silently
    * disagree about the same artifact.
    */
  private[queries] val BandCtes: String =
    """toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
      |    FROM documents) t
      |), per_seed AS (
      |  SELECT doc_id, seed, min(md5('s' || CAST(seed AS VARCHAR) || '_' || tok)) AS mh
      |  FROM toks, range(16) r(seed) GROUP BY doc_id, seed
      |), banded AS (
      |  SELECT doc_id, CAST(seed // 8 AS INT) AS band,
      |    md5(string_agg(CAST(seed AS VARCHAR) || ':' || mh, '|'
      |        ORDER BY CAST(seed AS VARCHAR) || ':' || mh)) AS band_sig
      |  FROM per_seed GROUP BY doc_id, CAST(seed // 8 AS INT)
      |), src AS (SELECT doc_id, source FROM documents)""".stripMargin

  /** Distinct-token sets for exact Jaccard verify — shared by the same
    * two oracles as [[BandCtes]].
    */
  private[queries] val GramSetsCte: String =
    """sets AS (
      |  SELECT doc_id, list_distinct(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS gs
      |  FROM documents
      |)""".stripMargin

  private val MixAllocSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS n_tokens
      |  FROM documents
      |), per_src AS (
      |  SELECT source,
      |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
      |    CAST(sum(n_tokens) AS BIGINT) AS cap_tokens,
      |    count(*) AS n_docs
      |  FROM tok GROUP BY source
      |), tot AS (
      |  SELECT CAST(sum(cap_tokens) AS BIGINT) AS total_tokens,
      |         CAST(sum(weight) AS BIGINT) AS total_weight FROM per_src
      |), ranked AS (
      |  SELECT s.*, t.total_tokens, t.total_weight,
      |    (t.total_tokens * 4) // 5 AS budget,
      |    CAST(sum(cap_tokens) OVER ord AS BIGINT) AS cum_cap,
      |    CAST(sum(weight) OVER ord AS BIGINT) AS cum_w
      |  FROM per_src s, tot t
      |  WINDOW ord AS (ORDER BY CAST(cap_tokens AS DOUBLE)/weight, source
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), flagged AS (
      |  SELECT *,
      |    min(CASE WHEN cap_tokens * (total_weight - cum_w) <= (budget - cum_cap) * weight
      |        THEN 1 ELSE 0 END) OVER (ORDER BY CAST(cap_tokens AS DOUBLE)/weight, source
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
      |  FROM ranked
      |), ctot AS (
      |  SELECT COALESCE(CAST(sum(CASE WHEN capped=1 THEN cap_tokens END) AS BIGINT),0) AS capped_cap,
      |         COALESCE(CAST(sum(CASE WHEN capped=1 THEN weight END) AS BIGINT),0) AS capped_w
      |  FROM flagged
      |), alloc AS (
      |  SELECT f.source, f.weight, f.cap_tokens, f.n_docs, f.capped,
      |    CASE WHEN f.capped=1 THEN f.cap_tokens
      |         ELSE ((f.budget - c.capped_cap) * f.weight) // (f.total_weight - c.capped_w)
      |    END AS alloc_tokens,
      |    CAST(CASE WHEN f.capped=1 THEN f.cap_tokens
      |         ELSE ((f.budget - c.capped_cap) * f.weight) // (f.total_weight - c.capped_w)
      |         END AS DOUBLE) / CAST(f.cap_tokens AS DOUBLE) AS rate
      |  FROM flagged f, ctot c
      |)
      |""".stripMargin

  /** Verified embedding near-dup pairs, materialized ONCE per
    * (session, dir) — the same persisted-stage pattern as
    * `scoredPairs`: d06 reports the pairs, d08 clusters them, and a
    * real dedup DAG would likewise persist the verified-pairs table
    * before fanning out.
    */
  private def ndPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.SessionMemo.cached(s, ("nd_pairs", d)) {
      Dedup.embeddingNearDupLsh(Tables.embeddings(s, d),
        numTables = 2, planesPerTable = 6, threshold = 0.40)
    }

  /** d06's oracle chain as reusable CTEs ending in
    * `ndpairs(doc_a, doc_b, cosine)` — the verified embedding near-dup
    * pairs (2-table × 6-bit sign-LSH candidates, exact quantized-cosine
    * ≥ 0.40). d06 selects it directly; d08 chains the recursive closure
    * + representative argmax on top.
    */
  private val d06PairCtes: String = {
    val hd = (k: Int) => s"(CASE WHEN ascii(substr(h, $k, 1)) <= 57 THEN ascii(substr(h, $k, 1)) - 48 ELSE ascii(substr(h, $k, 1)) - 87 END)"
    s"""coefs AS (
      |  SELECT p, i,
      |    CAST(${hd(1)} * 4096 + ${hd(2)} * 256 + ${hd(3)} * 16 + ${hd(4)} AS DOUBLE) / 65536.0 - 0.5 AS coef
      |  FROM (SELECT p, i, md5('p' || CAST(p AS VARCHAR) || '_d' || CAST(i AS VARCHAR)) AS h
      |        FROM range(12) a(p), range(64) b(i)) t
      |), dots AS (
      |  SELECT e.vec_id, c.p,
      |    CAST(sum(CAST(ROUND(CAST(e.embedding[c.i + 1] AS DOUBLE) * c.coef * 1e12) AS BIGINT)) AS BIGINT) AS dq
      |  FROM embeddings e, coefs c GROUP BY e.vec_id, c.p
      |), sigs AS (
      |  SELECT vec_id, p // 6 AS tbl,
      |    CAST(sum(CASE WHEN dq > 0 THEN 1 << (p % 6) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, p // 6
      |), nd_cands AS (
      |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
      |  WHERE a.vec_id < b.vec_id
      |), nd_dq AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
      |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS na,
      |    CAST(sum(CAST(ROUND(CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nb
      |  FROM nd_cands c
      |  JOIN embeddings a ON a.vec_id = c.doc_a
      |  JOIN embeddings b ON b.vec_id = c.doc_b, range(64) r(i)
      |  GROUP BY c.doc_a, c.doc_b
      |), nd_cos AS (
      |  SELECT doc_a, doc_b,
      |    ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END, 9) AS cosine
      |  FROM nd_dq
      |), ndpairs AS (
      |  SELECT doc_a, doc_b, cosine FROM nd_cos WHERE cosine >= 0.40
      |)""".stripMargin
  }

  /** Recompute the corpus's MinHash band-signature table `(doc_id,
    * band, band_sig, source)` from raw text — used ONLY to build the
    * on-disk artifact ([[BandStore]]); every query-time consumer
    * reads the artifact back instead. `source` rides along so the
    * incremental consumers can slice batch vs corpus without a second
    * join.
    */
  private def bandSigsCompute(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val base = Dedup.bandSignatures(docs, 16, 2, "text")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    // the per-bucket guard ranks, PRECOMPUTED at build time (round 18):
    // a bucket's doc_id-order rank is a static property of the table,
    // so the blow-up guards (d05's clique cap, d09/d15/st6's corpus-
    // side cap) pay these two windows ONCE PER GENERATION here and
    // filter a stored column at probe time — zero probe-time windows
    // (measured: the probe-side window cost d05 ~7% and st6 ~0.5-1 s
    // per trigger). bucket_rank ranks ALL rows in the bucket (the
    // clique guard's subject); corpus_rank ranks the corpus slice
    // only (the ingest guards' subject; null on batch rows so a
    // mis-wired filter drops them loudly instead of mis-ranking).
    val isCorpus = col("source") =!= "src0"
    val wAll = Window.partitionBy("band", "band_sig").orderBy("doc_id")
    val wSide = Window.partitionBy(col("band"), col("band_sig"), isCorpus)
      .orderBy("doc_id")
    base
      .withColumn("bucket_rank", row_number().over(wAll))
      .withColumn("corpus_rank", when(isCorpus, row_number().over(wSide)))
  }

  /** The band artifact's partition-prefix column: the first 2 hex
    * chars of the md5 band signature, "x"-prefixed so the partition
    * directory value can never be inferred as a numeric type on read
    * (an all-digit sample would otherwise flip the column to int and
    * break probe-side string equality). 256 uniform partitions — at
    * 100 TB each still holds millions of signatures, but a streaming
    * ingest's probe touches only the prefixes its micro-batch emits,
    * so the static FileScan prunes ~99% of the store instead of
    * re-scanning all of it every trigger (the st6 steady-state shape).
    */
  private[graft] def sigPfx(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("x"), substring(sig, 1, 2))

  /** Params/layout tag for [[BandStore]] (ArtifactStore `sub`):
    * 16 hashes, 2 bands, dual layout (compact full-scan copy +
    * 2-hex-char-prefix-partitioned probe copy), "r" = the precomputed
    * bucket_rank/corpus_rank guard columns (round 18). Bump when the
    * banding config or on-disk layout changes so stale-param artifacts
    * are invalidated and GC'd like stale-data generations.
    */
  private[graft] val BandArtifactTag = "h16b2p2dualr"

  /** The persisted ON-DISK band-signature artifact — the cross-session
    * maintenance story the incremental-dedup docs promise: written ONCE
    * per distinct source-data generation, then FileScanned by every
    * dedup consumer (d05 via scoredPairs, d07/d17's clustering edges,
    * d09's asymmetric probe, d12's star edges, d15's ingest, st6's
    * static side) — none of them
    * ever re-tokenizes or re-hashes the corpus. At 100 TB this is the
    * production posture: banding is deterministic, so the artifact is
    * computed once per corpus and probed forever after (measured at
    * sf0.1: ~4.9 s artifact probe vs ~10.6 s recompute per consumer).
    * The artifact directory is keyed by the source file's (length,
    * mtime), so a regenerated documents.parquet at the same path
    * invalidates the artifact instead of silently serving stale
    * signatures (the driver DOES regenerate testdata between rounds).
    *
    * The band store is written in TWO layouts under one generation —
    * the standard scan-vs-probe split of a production signature store:
    *   - `full/` — compact files for the batch consumers that scan the
    *     whole table anyway (d05/d07/d09/d12/d15/d17 via [[bandSigs]]);
    *     measured at sf0.1, a full scan of the 256-directory layout
    *     pays ~0.6 s of footer opens vs ~0.13 s compact — a pure
    *     constant that multiplied across every consumer per bench. The
    *     store compacts it before publishing, so every full-scan
    *     consumer pays one footer open per ~target-sized file instead
    *     of one per shuffle partition.
    *   - `pfx/` — partitioned by [[sigPfx]] (256 directories, one
    *     writer task each) for the streaming probes (st6/st7), whose
    *     micro-batches push their signature prefixes as partition
    *     filters and read ~the batch's key spread, not the corpus.
    *     One file per partition directory already (the repartition).
    */
  val BandStore: Artifact = Artifact("band")("graft_band_artifact",
      Seq("documents.parquet"), BandArtifactTag, compacts = Some("full")) { (s, d, dir) =>
    val sigs = bandSigsCompute(s, d).cache()
    try {
      sigs.write.mode("overwrite").parquet(s"$dir/full")
      sigs.withColumn("sig_pfx", sigPfx(col("band_sig")))
        // one shuffle on the partition value: each directory is written
        // by exactly one task (256 files total, not tasks×256)
        .repartition(col("sig_pfx"))
        .write.mode("overwrite").partitionBy("sig_pfx").parquet(s"$dir/pfx")
    } finally sigs.unpersist()
  }

  /** Session view of the band artifact (building it first if this
    * corpus generation has never been banded) — an UNCACHED memoized
    * read (round 21): the compact copy is one ~150 KB file, so a
    * columnar cache+count materialization cost more (two extra jobs
    * inside every consumer's timed region) than simply re-scanning the
    * file at each reference; [[storeRead]] still reuses the analyzed
    * relation and its file listing.
    */
  private[graft] def bandSigs(s: org.apache.spark.sql.SparkSession, d: String) =
    // batch consumers scan the whole table → the compact copy
    storeRead(s, s"${BandStore.resolve(s, d)}/full")

  /** Session-memoized UNCACHED read of one parquet store: reuses the
    * analyzed relation — and with it the listed file index — across
    * calls, without materializing any data. A partitioned store's
    * directory listing is a driver-side job (256 dirs is over the
    * parallel-discovery threshold, so Spark runs a 256-task listing
    * job); before this memo every streaming trigger re-listed the
    * store it probes (measured round 21: two 255-task listing jobs
    * per st6 trigger). Partition pruning still applies per query —
    * pruning filters the ALREADY-LISTED index at planning time.
    * Keyed by resolved store path, so a regenerated artifact (new
    * generation directory) never serves a stale index.
    */
  private[graft] def storeRead(s: org.apache.spark.sql.SparkSession,
                               path: String): org.apache.spark.sql.DataFrame =
    graft.SessionMemo(s, ("store", path))(s.read.parquet(path))

  /** The PARTITION-PRUNED corpus-side band probe: reads only the
    * artifact partitions whose `sig_pfx` appears in `prefixes` (the
    * distinct signature prefixes of one ingest micro-batch). This is
    * the stream-static shape that survives 100×: the static FileScan's
    * `PartitionFilters` (pinned in PlanShapeSpec) cut the scan to the
    * ≤256ths of the signature store a batch can possibly collide with,
    * so per-trigger cost scales with the batch's key spread, not the
    * corpus (previously st6 re-scanned the whole cached corpus table
    * every micro-batch — the one superlinear cross-SF curve in r13).
    *
    * `withCorpusRank` additionally selects the artifact's precomputed
    * `corpus_rank` guard column (st6's capped static side); default
    * stays the bare 3-column shape st7's clustering unions expect —
    * the clustering tier is deliberately UNCAPPED (see
    * Dedup.minhashCandidatesFromBands), so it must not even see the
    * column.
    */
  private[graft] def prunedCorpusBands(s: org.apache.spark.sql.SparkSession,
                                       d: String, prefixes: Seq[String],
                                       withCorpusRank: Boolean = false) =
    // existing, not resolve: this is the per-trigger probe the
    // streaming ingests (st6/st7) run inside a micro-batch — a missing
    // store there is a maintenance outage and must fail loudly, never
    // silently rebuild the corpus banding inside a micro-batch trigger
    // (StreamBoundarySpec pins it; the queries' pre-stream resolve /
    // dedup-maintain own the build)
    storeRead(s, BandStore.existing(s, d) + "/pfx")
      .where(col("sig_pfx").isin(prefixes: _*))
      .filter(col("source") =!= "src0")
      .select("band", ("band_sig" :: "doc_id" ::
        (if (withCorpusRank) List("corpus_rank") else Nil)): _*)

  /** The persisted gram-fingerprint artifact `(doc_id, grams)` — the
    * signature-store companion to [[BandStore]]: the Jaccard verify
    * stage's per-doc sorted 64-bit token fingerprints, a deterministic
    * per-row projection computed once per corpus generation and
    * FileScanned by every verify consumer (scoredPairs for d05/d07,
    * d09/d15's incremental verify, d12's star verify) instead of
    * re-running tokenize + xxhash64 + sort over the corpus per query.
    * Same (length, mtime) keying and `_SUCCESS` gating as the bands.
    */
  val GramStore: Artifact = Artifact("gram")("graft_gram_artifact",
      // params tag: unigram (n=1) xxhash64 fingerprints — a gram-order
      // or hash change must invalidate the store, not serve stale sets
      Seq("documents.parquet"), "g1x64", compacts = Some("")) { (s, d, dir) =>
    Dedup.gramSets(Tables.documents(s, d)).write.mode("overwrite").parquet(dir)
  }

  private[graft] def gramSetsOf(s: org.apache.spark.sql.SparkSession, d: String) =
    // uncached (round 21, same reasoning as bandSigs): the gram store
    // is ~100 KB; the verify joins reference it up to three times per
    // query, each a cheap re-scan through the memoized relation
    storeRead(s, GramStore.resolve(s, d))

  /** The persisted 64-bit SimHash fingerprint artifact `(doc_id,
    * simhash64, source)` — the fourth leg of the signature store: the
    * corpus's production-width simhash table, computed once per data
    * generation (a per-row native projection over text) and probed by
    * the incremental hamming-ball tier (d18) so a daily ingest never
    * re-fingerprints the corpus. Same (length, mtime) keying,
    * `_SUCCESS` gating and params-tag invalidation as the band store.
    */
  val SimhashStore: Artifact = Artifact("simhash")("graft_simhash_artifact",
      Seq("documents.parquet"), "w64", compacts = Some("")) { (s, d, dir) =>
    val docs = Tables.documents(s, d)
    Dedup.simhash64(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .write.mode("overwrite").parquet(dir)
  }

  private[graft] def simhashFps(s: org.apache.spark.sql.SparkSession, d: String) =
    // uncached (round 21, same reasoning as bandSigs)
    storeRead(s, SimhashStore.resolve(s, d))

  /** The s08/s09 IVF+PQ configuration — single-sourced because the
    * stored index ([[AnnStore]]) MUST be encoded with the same model the
    * probe rebuilds (the artifact key carries these params, so a retune
    * invalidates the store like a data change would).
    */
  private[graft] val AnnNlist = 8
  private[graft] val AnnM = 8
  private[graft] val AnnCb = 16

  /** The persisted IVF+PQ INDEX artifact `(vec_id, codes, rcodes)`
    * partitioned BY CELL — the fifth leg of the signature store and
    * the ANN serving posture at 100 TB: the code table is a maintained
    * on-disk index (one byte-ish per subspace per vector per tier),
    * laid out so a query's nprobe cells become PartitionFilters on the
    * FileScan and the probe never touches the other nlist−nprobe
    * cells. DUAL-TIER since round 16: `codes` is the raw-subvector
    * encode (s09's probe), `rcodes` the residual encode (s11's) — both
    * tiers share the coarse assignment, so one corpus pass per
    * generation builds both and neither probe ever pays an encode.
    * The float vectors stay in the base table, joined back only for
    * the rerank tail. Same (length, mtime) keying, `_SUCCESS` gating
    * and params-tag invalidation as the band store; the model
    * artifacts (centroids + codebooks) are deterministic samples of
    * the same generation, so probes rebuild them driver-side (a ≤
    * codebookSize-row collect) rather than reading them from disk.
    */
  val AnnStore: Artifact = Artifact("index")("graft_ann_artifact",
      Seq("embeddings.parquet"),
      // "dcah" = dual codes-as-array layout + hash-drawn model seeds
      // (round 16): the per-subspace code columns became ONE array<int>
      // column when the encode went native, the residual tier's rcodes
      // joined them, and the centroid/codebook seeds moved to the
      // hash-gated draw — layout AND params changes, so the tag must
      // invalidate older stores
      s"nl${AnnNlist}m${AnnM}cb${AnnCb}dcah$annTrainSubTag") { (s, d, dir) =>
    val emb = Tables.embeddings(s, d)
    val model = SimilaritySearch.ivfPqModel(emb, AnnNlist, AnnM, AnnCb)
    val rmodel = SimilaritySearch.ivfRPqModel(emb, AnnNlist, AnnM, AnnCb)
    SimilaritySearch.ivfPqEncodeDual(emb, model, rmodel)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
  }

  /** Engine default nprobe when neither the caller nor a maintenance
    * sweep has chosen one — the catalog serving budget.
    */
  private[graft] val AnnDefaultNprobe = 2

  /** The `suggested_nprobe` sidecar file inside an index generation —
    * underscore-prefixed so parquet reads of the directory ignore it
    * (the `_SUCCESS` convention). Written by `ann-maintain` after its
    * recall sweep; additive to a sealed generation (the parquet data
    * is never touched) and scoped to it — a rebuilt generation starts
    * without a suggestion until maintenance measures one.
    */
  private[graft] val SuggestedNprobeSidecar = "_graft_suggested_nprobe"

  /** Persist the maintenance sweep's suggestion into the index
    * generation dir — the write half of the FAISS-autotune loop
    * (measure recall at maintenance time → serving reads the result).
    */
  private[graft] def writeSuggestedNprobe(s: org.apache.spark.sql.SparkSession,
      indexDir: String, nprobe: Int): Unit = {
    require(nprobe >= 1 && nprobe <= AnnNlist,
      s"suggested nprobe $nprobe outside [1, $AnnNlist]")
    val p = new org.apache.hadoop.fs.Path(indexDir, SuggestedNprobeSidecar)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // write-then-rename, never truncate in place: a serving reader
    // racing a scheduled maintenance rewrite (or a JVM kill mid-write)
    // must see the old value or the new one, never a torn file the
    // fail-loud reader would report as corruption (the repo's
    // torn-write-is-rewritten-never-read posture, sidecar-sized)
    val tmpP = new org.apache.hadoop.fs.Path(indexDir,
      s".$SuggestedNprobeSidecar.tmp")
    val out = fs.create(tmpP, true)
    try out.write(nprobe.toString.getBytes("UTF-8")) finally out.close()
    // OVERWRITE-capable rename (ADVICE r19): the FileSystem#rename
    // fallback of delete-then-rename opens a window where the sidecar
    // is ABSENT and a racing resolveNprobe silently serves the default
    // — a silent-degrade path in a fail-loud feature. FileContext
    // renames with Options.Rename.OVERWRITE atomically on HDFS and the
    // local FS, so a concurrent reader sees old value or new, never
    // neither. Filesystems without a FileContext impl fall back to the
    // plain rename (which clobbers on the local FS anyway).
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, s.sparkContext.hadoopConfiguration)
      fc.rename(fs.makeQualified(tmpP), fs.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (!fs.rename(tmpP, p)) {
          fs.delete(p, false)
          require(fs.rename(tmpP, p),
            s"could not publish $SuggestedNprobeSidecar at $indexDir")
        }
    }
  }

  /** Serving-side nprobe resolution — the read half of the autotune
    * loop: an explicit caller choice wins (the catalog rows pin one so
    * oracle hashes never depend on maintenance state); otherwise the
    * generation's swept suggestion if `ann-maintain` stored one;
    * otherwise [[AnnDefaultNprobe]]. A PRESENT-but-corrupt sidecar
    * fails loudly (the fail-loud artifact-boundary posture — garbage
    * must not silently degrade to the default).
    */
  private[graft] def resolveNprobe(s: org.apache.spark.sql.SparkSession,
      indexDir: String, explicit: Option[Int]): Int =
    explicit.getOrElse {
      val p = new org.apache.hadoop.fs.Path(indexDir, SuggestedNprobeSidecar)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) AnnDefaultNprobe
      else {
        val in = fs.open(p)
        val txt = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
        val np = try txt.toInt catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"corrupt $SuggestedNprobeSidecar sidecar at $indexDir: '$txt' " +
              "— rewrite it via ann-maintain or delete the file")
        }
        require(np >= 1 && np <= AnnNlist,
          s"$SuggestedNprobeSidecar at $indexDir holds $np outside [1, $AnnNlist]")
        np
      }
    }

  /** ONE serving entry point per stored-index probe shape (VERDICT r19
    * #3): every caller that searches a PERSISTED index generation and
    * takes an optional nprobe resolves it through [[resolveNprobe]] —
    * explicit choice wins (the catalog rows pin one so their oracle
    * hashes never depend on maintenance state), else the generation's
    * maintenance-swept sidecar, else the engine default. Resolution is
    * one FS stat + read at plan build, never per row; a corrupt
    * sidecar fails the BUILD loudly, which is also how the spec proves
    * each surface actually consults the resolver.
    *
    * This is the raw-PQ tier of the dual stored index — the s09 shape:
    * probed cells collected driver-side from the (small by contract)
    * query set become PartitionFilters on the index FileScan.
    */
  private[graft] def servedPqProbe(s: org.apache.spark.sql.SparkSession,
      d: String, queries: org.apache.spark.sql.DataFrame,
      nprobe: Option[Int] = None, k: Int = 5, refine: Int = 20): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val index = AnnStore.resolve(s, d)
    val np = resolveNprobe(s, index, nprobe)
    val model = SimilaritySearch.ivfPqModel(emb, AnnNlist, AnnM, AnnCb)
    val cells = SimilaritySearch.ivfPqProbedCells(queries, model, nprobe = np)
    val coded = storeRead(s, index).where(col("cell").isin(cells: _*))
    SimilaritySearch.ivfPqSearch(queries, emb, coded, model,
      k = k, nprobe = np, refine = refine)
  }

  /** The RESIDUAL tier of the same dual index — the s11 shape. The
    * sidecar is generation-scoped, not tier-scoped: the sweep measures
    * the raw-PQ tier, and the residual tier shares its coarse geometry
    * (same centroids, same cell histogram), so the suggested coarse-
    * cell budget transfers — the standard FAISS-autotune approximation
    * when two quantizers share one coarse index.
    */
  private[graft] def servedRPqProbe(s: org.apache.spark.sql.SparkSession,
      d: String, queries: org.apache.spark.sql.DataFrame,
      nprobe: Option[Int] = None, k: Int = 5, refine: Int = 20): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val index = AnnStore.resolve(s, d)
    val np = resolveNprobe(s, index, nprobe)
    val rmodel = SimilaritySearch.ivfRPqModel(emb, AnnNlist, AnnM, AnnCb)
    val cells = SimilaritySearch.ivfRPqProbedCells(queries, rmodel, nprobe = np)
    val coded = storeRead(s, index)
      .where(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("cell"), col("rcodes").as("codes"))
    SimilaritySearch.ivfRPqSearch(queries, emb, coded, rmodel,
      k = k, nprobe = np, refine = refine)
  }

  /** The delta-ingest tier over the CORPUS index — the s12 shape: the
    * batch slice encoded under the frozen corpus model is the delta.
    */
  private[graft] def servedDeltaProbe(s: org.apache.spark.sql.SparkSession,
      d: String, queries: org.apache.spark.sql.DataFrame,
      nprobe: Option[Int] = None, k: Int = 5, refine: Int = 20): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val model = annCorpusModel(emb)
    deltaProbe(s, emb, model, AnnCorpusStore.resolve(s, d),
      SimilaritySearch.ivfPqEncode(emb.filter(SemBatchPred), model), queries, nprobe, k, refine)
  }

  /** The delta-ingest tier's probe, shared by s12 and st11's post-drain
    * probe: the partition-pruned corpus `index` ∪ the `delta` code
    * table, searched over `emb` under the frozen corpus `model`.
    * `nprobe = None` resolves against the corpus index generation's own
    * sidecar (absent until a maintenance sweep targets that store → the
    * engine default; the dual index's suggestion is a different model's
    * measurement and deliberately does NOT transfer).
    */
  private[graft] def deltaProbe(s: org.apache.spark.sql.SparkSession,
      emb: org.apache.spark.sql.DataFrame, model: SimilaritySearch.IvfPqModel,
      index: String, delta: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, nprobe: Option[Int],
      k: Int = 5, refine: Int = 20): org.apache.spark.sql.DataFrame = {
    val np = resolveNprobe(s, index, nprobe)
    val cells = SimilaritySearch.ivfPqProbedCells(queries, model, nprobe = np)
    def probed(codes: org.apache.spark.sql.DataFrame) = codes
      .where(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("cell"), col("codes"))
    SimilaritySearch.ivfPqSearch(queries, emb,
      annDeltaCoded(probed(storeRead(s, index)), probed(delta)), model,
      k = k, nprobe = np, refine = refine)
  }

  /** The delta tier's frozen model over the embeddings `emb`: seeds
    * drawn from the corpus slice only, never the arriving batch.
    */
  private[graft] def annCorpusModel(emb: org.apache.spark.sql.DataFrame) =
    SimilaritySearch.ivfPqModel(emb.filter(!SemBatchPred), AnnNlist, AnnM, AnnCb)

  /** The delta-ingest tier's MAIN index: the raw-PQ code table of the
    * CORPUS slice only, encoded under a model whose seeds are drawn
    * from the corpus only (no lookahead into the arriving batch — the
    * d22/t18/d25 stance applied to the ANN model), cell-partitioned
    * like [[AnnStore]]. This is the index that exists BEFORE a
    * batch arrives; s12/st11 encode the batch under the same frozen
    * model and union the delta codes into the probe, so new vectors
    * become searchable without touching (let alone rebuilding) this
    * store — between `ann-maintain` generations the index is
    * append-only. `ann-maintain` owns the build. The sub carries the
    * model params plus the batch-split residue: retuning either must
    * invalidate the store (ADVICE r13 rule).
    */
  val AnnCorpusStore: Artifact = Artifact("corpus")("graft_ann_corpus_artifact",
      Seq("embeddings.parquet"),
      s"nl${AnnNlist}m${AnnM}cb${AnnCb}b7$annTrainSubTag") { (s, d, dir) =>
    val emb = Tables.embeddings(s, d)
    SimilaritySearch.ivfPqEncode(emb.filter(!SemBatchPred), annCorpusModel(emb))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
  }

  /** Probe-side locator of the corpus index — `existing`, never
    * `resolve` (the clfModelOfStore rule): a missing store at probe time
    * (above all inside st11's stream) means `ann-maintain` didn't run
    * for this generation, and it fails loudly naming that fix instead
    * of encoding the corpus inside a micro-batch.
    */
  private[graft] def annCorpusIndexOfStore(s: org.apache.spark.sql.SparkSession,
      d: String): String = AnnCorpusStore.existing(s, d)

  /** Fold-in recommendation threshold for the delta tier: when the
    * un-indexed delta outgrows this fraction of the main index,
    * `ann-maintain` says so and the probe metric reads hot. The delta
    * side of a probe is cell-filtered but not PARTITION-pruned (it is
    * a fresh in-memory table, not the cell-partitioned store), so a
    * delta past this ratio quietly erodes the pruning the main tier
    * pays for — fold it in by re-running the maintenance build.
    */
  private[graft] val AnnDeltaFoldRatio = 0.25

  /** The delta-tier probe's code table: main (partition-pruned store)
    * ∪ delta (batch-encoded), with the delta/main row balance of THIS
    * probe emitted as an `observe` metric — the growth guard (VERDICT
    * r16 #6): an append-only delta that has outgrown its main index
    * degrades silently otherwise (the delta side is unpruned). The
    * named form feeds listeners/the SQL UI; tests pass an
    * [[org.apache.spark.sql.Observation]] to block-read the counts.
    */
  private[graft] def annDeltaCoded(main: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame,
      observation: Option[org.apache.spark.sql.Observation] = None): org.apache.spark.sql.DataFrame = {
    val tagged = main.withColumn("__delta", lit(0L))
      .unionByName(delta.withColumn("__delta", lit(1L)))
    val metrics = Seq(
      sum(col("__delta")).as("delta_rows"),
      sum(lit(1L) - col("__delta")).as("main_rows"))
    observation
      .map(o => tagged.observe(o, metrics.head, metrics.tail: _*))
      .getOrElse(tagged.observe("graft_ann_delta_guard",
        metrics.head, metrics.tail: _*))
      .drop("__delta")
  }

  /** The Jaccard threshold the CLUSTERING tier verifies at — single-
    * sourced across the corpus label artifact, d07's batch clustering
    * and d17's batch edges, because the persisted labels MUST be built
    * at the same threshold as the edges later merged into them (the
    * artifact is keyed by data generation, not by threshold: a split
    * tune would silently serve stale-threshold labels).
    */
  private[graft] val ClusterJaccard = 0.9

  /** Verified duplicate edges for the clustering tier: candidate pairs
    * → exact-Jaccard >= [[ClusterJaccard]] over the gram artifact.
    * Scoring AT the clustering threshold (not d05's 0.5 report
    * threshold) lets the size-ratio prefilter drop colliding-but-
    * dissimilar pairs before any gram arrays shuffle.
    */
  private def clusterEdges(s: org.apache.spark.sql.SparkSession, d: String,
                           cands: org.apache.spark.sql.DataFrame) =
    Dedup.jaccardPairsFromSets(gramSetsOf(s, d), cands,
        minJaccard = ClusterJaccard)
      .select("doc_a", "doc_b")

  /** The persisted CORPUS CLUSTER-LABEL artifact `(doc_id, cluster_id)`
    * — batch connected components over the corpus slice's verified
    * duplicate edges (source <> 'src0', Jaccard >= 0.9), written once
    * per source-data generation. This is the third leg of the
    * signature-store posture: at 100 TB the dedup cluster assignment is
    * a MAINTAINED table, not something an ingest recomputes — each
    * batch star-merges its verified edges into these labels
    * (Dedup.ccIncremental), so d17's steady-state cost is the batch's
    * candidate probe + verify + a star-forest CC, never a corpus-wide
    * re-cluster. Candidates come from the corpus-only rows of the band
    * artifact (band collisions between two corpus docs are unaffected
    * by whether batch rows sit in the same table), so the labels are
    * bit-identical to clustering the corpus inline.
    */
  val ClusterStore: Artifact = Artifact("clusters")("graft_cluster_artifact",
      // params tag: the labels are only valid for edges verified at
      // THIS threshold over THIS banding config — retuning either must
      // invalidate the persisted clustering (ADVICE r13)
      Seq("documents.parquet"), s"j${ClusterJaccard}_h16b2",
      compacts = Some("")) { (s, d, dir) =>
    // ranked-block form over the ALL-rows bucket_rank: within the
    // corpus slice ranks stay doc_id-ordered (gaps only widen
    // blocks), which is all the owner-block argument needs
    val corpusEdges = clusterEdges(s, d,
      Dedup.minhashCandidatesFromRankedBands(
        bandSigs(s, d).filter(col("source") =!= "src0")))
    Dedup.connectedComponents(corpusEdges, distinctEdges = false)
      .write.mode("overwrite").parquet(dir)
  }

  private[graft] def prevClusters(s: org.apache.spark.sql.SparkSession, d: String) =
    // uncached (round 21, same reasoning as bandSigs)
    storeRead(s, ClusterStore.resolve(s, d))

  /** Shared tail of the incremental-dedup queries (d09 memoized / d15
    * artifact): exact-Jaccard verify of the asymmetric candidates at
    * 0.5, per-new-doc match count, kept = no verified corpus near-dup.
    */
  private def incrementalDedup(s: org.apache.spark.sql.SparkSession, d: String,
                               cands: org.apache.spark.sql.DataFrame) = {
    val docs = Tables.documents(s, d)
    val fresh = docs.filter(col("source") === "src0")
    val nDups = Dedup.jaccardPairsFromSets(gramSetsOf(s, d), cands, minJaccard = 0.5)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_dups"))
    fresh.join(nDups, Seq("doc_id"), "left")
      .withColumn("n_dups", coalesce(col("n_dups"), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_dups"),
        (col("n_dups") === 0).as("kept"))
  }

  /** ONE verify tail for every incremental-dedup oracle (d09/d15's
    * capped tier AND d26's routed hybrid): `corpusCtes` must end in a
    * `cands(doc_a, doc_b)` CTE; the exact-Jaccard verify at 0.5, the
    * per-new-doc match count and the kept flag are shared verbatim so
    * a threshold or formula edit cannot reach one tier and not the
    * other (the BandCtes sharing rule applied to the tail).
    */
  private def incrementalDedupSqlFrom(corpusCtes: String): String =
    s"""WITH $BandCtes,
      |$corpusCtes, $GramSetsCte,
      |scored AS (
      |  SELECT c.doc_a,
      |    len(list_intersect(sa.gs, sb.gs)) AS inter,
      |    len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs)) AS usz
      |  FROM cands c JOIN sets sa ON c.doc_a = sa.doc_id JOIN sets sb ON c.doc_b = sb.doc_id
      |), dupc AS (
      |  SELECT doc_a AS doc_id, count(*) AS n_dups FROM scored
      |  WHERE usz > 0 AND CAST(inter AS DOUBLE) / usz >= CAST(0.5 AS DOUBLE)
      |  GROUP BY doc_a
      |)
      |SELECT d.doc_id AS doc_id, d.lang AS lang,
      |  CAST(coalesce(dupc.n_dups, 0) AS BIGINT) AS n_dups,
      |  coalesce(dupc.n_dups, 0) = 0 AS kept
      |FROM documents d LEFT JOIN dupc ON dupc.doc_id = d.doc_id
      |WHERE d.source = 'src0'""".stripMargin

  /** ONE oracle text for both CAPPED incremental-dedup forms: d15's
    * artifact is deterministic band signatures, so DuckDB recomputing
    * them from raw text must agree with the artifact byte-for-byte — a
    * d09/d15 divergence would mean the artifact served stale or
    * corrupt rows.
    */
  private lazy val IncrementalDedupSql: String = incrementalDedupSqlFrom(
    s"""corpus_kept AS (
      |  SELECT doc_id, band, band_sig FROM (
      |    SELECT b.doc_id, b.band, b.band_sig,
      |      row_number() OVER (PARTITION BY b.band, b.band_sig ORDER BY b.doc_id) AS rn
      |    FROM banded b JOIN src s ON s.doc_id = b.doc_id AND s.source <> 'src0') t
      |  WHERE rn <= $D05MaxBucket
      |), cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN src sa ON sa.doc_id = a.doc_id AND sa.source = 'src0'
      |       JOIN corpus_kept b ON a.band = b.band AND a.band_sig = b.band_sig
      |)""".stripMargin)

  /** d26's oracle ROUTES IDENTICALLY to the engine: corpus buckets are
    * ranked, rank == cap+1 marks each overflowing bucket, the capped
    * branch anti-joins them out, the routed branch carries their FULL
    * membership, and the branch union feeds the shared verify tail.
    */
  private lazy val RoutedDedupSql: String = incrementalDedupSqlFrom(
    s"""corpus_ranked AS (
      |  SELECT b.doc_id, b.band, b.band_sig,
      |    row_number() OVER (PARTITION BY b.band, b.band_sig ORDER BY b.doc_id) AS rn
      |  FROM banded b JOIN src s ON s.doc_id = b.doc_id AND s.source <> 'src0'
      |), overflow AS (
      |  SELECT band, band_sig FROM corpus_ranked WHERE rn = $RoutedCap + 1
      |), corpus_routed AS (
      |  SELECT c.doc_id, c.band, c.band_sig FROM corpus_ranked c
      |  LEFT JOIN overflow o ON c.band = o.band AND c.band_sig = o.band_sig
      |  WHERE o.band IS NULL AND c.rn <= $RoutedCap
      |  UNION ALL
      |  SELECT c.doc_id, c.band, c.band_sig FROM corpus_ranked c
      |  JOIN overflow o ON c.band = o.band AND c.band_sig = o.band_sig
      |), cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN src sa ON sa.doc_id = a.doc_id AND sa.source = 'src0'
      |       JOIN corpus_routed b ON a.band = b.band AND a.band_sig = b.band_sig
      |)""".stripMargin)

  /** The per-bucket guard bound of BOTH LSH blow-up guards — d05's
    * clique (Dedup.bandsKeptByRank on bucket_rank) and the d09/d15/st6
    * ingest probes' corpus side (Dedup.bandsKeptByRank on
    * corpus_rank). Far above any real band bucket in
    * the catalog data (so every guarded hash is cap-invariant there)
    * while capping a pathological bucket's blow-up at ~8M clique
    * pairs / 4096 corpus partners per colliding batch doc instead of
    * unbounded; the truncation counts are observable on the plans.
    */
  private[graft] val D05MaxBucket = 4096

  /** d26's routing cap — deliberately SMALL (unlike [[D05MaxBucket]],
    * which no catalog bucket reaches) so the routed tier genuinely
    * fires at every catalog SF: this corpus's planted duplicate groups
    * form band buckets well past 8 docs, so d26 exercises BOTH
    * branches — capped for the healthy buckets, full-membership star
    * for the overflowing ones — and its oracle hash proves the union
    * recovers the uncapped answer exactly.
    */
  private[graft] val RoutedCap = 8

  /** Jaccard-scored LSH near-dup pairs at J ≥ 0.5 — the near-dup
    * report (d05). The dedup clustering (d07) verifies its own edges
    * at J ≥ 0.9 via [[clusterEdges]] over the same persisted band/gram
    * artifacts, so the artifact store (not a session cache) is what
    * keeps the corpus tokenized/hashed once.
    *
    * Banding is 16 hashes in 2 bands of 8: the LSH S-curve threshold
    * (1/b)^(1/r) = 0.5^(1/8) ≈ 0.917 sits AT the 0.9 dedup threshold,
    * so candidate volume tracks the true near-dup count instead of the
    * mid-similarity bulk (the r4 config, 2 bands of 4, thresholded at
    * 0.84 and admitted ~30% of ALL pairs on this shared-vocabulary
    * corpus — 3.8 M candidates at sf0.1, 39% of total bench time).
    * jaccardPairs' size-ratio prefilter then drops colliding-but-
    * dissimilar pairs before any gram array is shuffled.
    *
    * d05's verified-pair pipeline — NOT memoized/cached (round 21):
    * d05 is its only consumer, so the old cache+count materialization
    * ran the whole pipeline once to fill the columnar cache and then
    * re-read ~2.25M cached rows inside the same timed action — pure
    * double work in a one-shot run (measured at sf0.1: the cached
    * read-back stage alone cost 3–113 CPU-s depending on JIT state;
    * the single-pass form pays the pipeline exactly once).
    */
  private def scoredPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
      // the clique guard over the artifact's PRECOMPUTED bucket_rank —
      // a scan filter, not a probe-time window (round 18; the window
      // form cost d05 ~7% at sf0.1, r17's documented guard price)
      val cands = Dedup.minhashCandidatesFromRankedBands(
        Dedup.bandsKeptByRank(bandSigs(s, d), "bucket_rank", D05MaxBucket,
          metricName = "graft_lsh_bucket_guard"))
      Dedup.jaccardPairsFromSets(gramSetsOf(s, d), cands, minJaccard = 0.5)
    }

  /** Vocab collected by the t16 query run — NOT session state over an
    * artifact, so it lives outside [[graft.SessionMemo]] and survives
    * its reset: it is the model the lazily-built t16 oracle
    * interpolates, read AFTER the query run (Verify dumps oracles last),
    * and a reset in between must not lose the integers the Spark result
    * was scored with. Keyed by (context, dir):
    * a session that runs t16 against two datasets must not let the
    * second run's vocab masquerade as the first's.
    */
  private[queries] val t16Vocab =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.SparkContext, String), Seq[(String, Long, Long)]]

  /** t16 oracle SQL, built at read time (see `Q.lazyOracle`): when the
    * query has run in this session against exactly ONE dataset (the
    * Verify shape — one dir, dump after), the vocab CTE is the memoized
    * (term, df, idf_q) integers as a VALUES list — single-engine idf
    * derivation, no DuckDB `ln` call. Anything else — not yet run, an
    * EMPTY corpus vocab (a VALUES list with zero rows is invalid SQL),
    * or runs against multiple dirs whose vocabs differ (which dir this
    * dump is for is unknowable here) — falls back to the self-contained
    * oracle that re-derives idf in DuckDB (the round-11 form).
    */
  private[queries] def t16OracleSql: String = {
    def esc(s: String) = s.replace("'", "''")
    val live = t16Vocab.toSeq.collect {
      case ((ctx, _), v) if !ctx.isStopped => v
    }.distinct
    val vocabCte = live match {
      case Seq(v) if v.nonEmpty =>
        val rows = v.map { case (t, df, q) =>
          s"(CAST('${esc(t)}' AS VARCHAR), CAST($df AS BIGINT), CAST($q AS BIGINT))"
        }.mkString(",\n        |    ")
        s"""vocab(term, df, idf_q) AS (
        |  VALUES $rows
        |)""".stripMargin
      case _ =>
        """vocab AS (
        |  SELECT term, df,
        |    CAST(ROUND(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df) * 1e9) AS BIGINT) AS idf_q
        |  FROM (
        |    SELECT term, count(*) AS df
        |    FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toked)
        |    GROUP BY term
        |  ) ORDER BY df DESC, term ASC LIMIT 100
        |)""".stripMargin
    }
    s"""WITH toked AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
      |  FROM documents
      |), $vocabCte, tf AS (
      |  SELECT e.doc_id, e.term, v.idf_q, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS term FROM toked) e
      |  JOIN vocab v USING (term)
      |  GROUP BY e.doc_id, e.term, v.idf_q
      |)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
      |  CAST(tf * idf_q AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tf * idf_q DESC, term ASC) AS rnk
      |  FROM tf) t
      |WHERE rnk <= 3""".stripMargin
  }

  /** d07's full-graph clustering oracle — recursive-CTE transitive
    * closure + component-min over the J>=0.9 clique edges. Shared
    * verbatim by d17: the incremental star-merge must reach the
    * identical fixpoint as batch CC over the full edge set.
    */
  private[graft] lazy val ClusterOracleSql: String =
    """WITH RECURSIVE toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
        |    FROM documents) t
        |), per_seed AS (
        |  SELECT doc_id, seed, min(md5('s' || CAST(seed AS VARCHAR) || '_' || tok)) AS mh
        |  FROM toks, range(16) r(seed) GROUP BY doc_id, seed
        |), banded AS (
        |  SELECT doc_id, CAST(seed // 8 AS INT) AS band,
        |    md5(string_agg(CAST(seed AS VARCHAR) || ':' || mh, '|'
        |        ORDER BY CAST(seed AS VARCHAR) || ':' || mh)) AS band_sig
        |  FROM per_seed GROUP BY doc_id, CAST(seed // 8 AS INT)
        |), cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
        |  WHERE a.doc_id < b.doc_id
        |), sets AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS gs
        |  FROM documents
        |), thr AS MATERIALIZED (
        |  SELECT c.doc_a, c.doc_b
        |  FROM cands c JOIN sets sa ON c.doc_a = sa.doc_id JOIN sets sb ON c.doc_b = sb.doc_id
        |  WHERE CASE WHEN len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs)) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
        |      / (len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs))) END >= 0.9
        |), edges AS MATERIALIZED (
        |  SELECT doc_a AS src, doc_b AS dst FROM thr
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM thr
        |), reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.node = e.dst
        |), cc AS (
        |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
        |)
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        |  doc_id = cluster_id AS keep
        |FROM cc""".stripMargin

  /** Shared 2-iteration Lloyd k-means oracle CTEs (k=8, hash-gated
    * seed draw: the 8 rows with the smallest LCG key, re-labeled cid
    * 0..7 in key order — transcribing kmeansCentroids' default
    * `seeding="hash"`) — ends in `assign(vec_id, cluster,
    * cos_centroid)`. One copy for both consumers (s05's assignment
    * dump and d19's SemDeDup grouping) so a centroid-formula or
    * seeding edit cannot reach one and not the other.
    */
  private[graft] lazy val KmeansCtes: String =
    """cents0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (((vec_id * 1103515245 + 12345) % 2147483648) + 2147483648) % 2147483648, vec_id) AS INT) - 1 AS cid,
        |    embedding AS cv
        |  FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY (((vec_id * 1103515245 + 12345) % 2147483648) + 2147483648) % 2147483648, vec_id) <= 8
        |), cc1 AS (
        |  SELECT v.vec_id, c.cid,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(v.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nv,
        |    CAST(sum(CAST(ROUND(CAST(c.cv[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM embeddings v, cents0 c, range(64) r(i)
        |  GROUP BY v.vec_id, c.cid
        |), s1 AS (
        |  SELECT vec_id, cid,
        |    ROUND(CASE WHEN nv = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS ccos
        |  FROM cc1
        |), a1 AS (
        |  SELECT vec_id, cid AS cl FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn FROM s1) x
        |  WHERE rn = 1
        |), compsum AS (
        |  SELECT a.cl, r.i AS pos,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[r.i + 1] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sq,
        |    count(*) AS n
        |  FROM embeddings v JOIN a1 a ON a.vec_id = v.vec_id CROSS JOIN range(64) r(i)
        |  GROUP BY a.cl, r.i
        |), cent1 AS (
        |  SELECT c0.cid, r.i AS pos,
        |    coalesce(CAST(CAST(cs.sq AS DOUBLE) / CAST(cs.n AS DOUBLE) / 1e6 AS REAL), c0.cv[r.i + 1]) AS comp
        |  FROM cents0 c0 CROSS JOIN range(64) r(i)
        |  LEFT JOIN compsum cs ON cs.cl = c0.cid AND cs.pos = r.i
        |), cc2 AS (
        |  SELECT v.vec_id, c.cid,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[c.pos + 1] AS DOUBLE) * CAST(c.comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[c.pos + 1] AS DOUBLE) * CAST(v.embedding[c.pos + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nv,
        |    CAST(sum(CAST(ROUND(CAST(c.comp AS DOUBLE) * CAST(c.comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM embeddings v CROSS JOIN cent1 c
        |  GROUP BY v.vec_id, c.cid
        |), s2 AS (
        |  SELECT vec_id, cid,
        |    ROUND(CASE WHEN nv = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS ccos
        |  FROM cc2
        |), assign AS (
        |  SELECT vec_id, CAST(cid AS INT) AS cluster, ccos AS cos_centroid FROM (
        |    SELECT vec_id, cid, ccos, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn FROM s2) x
        |  WHERE rn = 1
        |)""".stripMargin

  /** Semantic-dedup tier parameters — single-sourced across d19
    * (batch), d21 (incremental), the persisted semantic artifact, AND
    * the oracle text below: a retune that reached one consumer and not
    * the others would silently compare different clusterings.
    */
  private[graft] val SemK = 8
  private[graft] val SemIters = 2
  private[graft] val SemTau = 0.40

  /** Ingest split for the semantic tier: vec_id ≡ 7 (mod 10) plays the
    * arriving batch (≈10% of vectors, size-invariant across SFs),
    * everything else the existing corpus whose state the artifact
    * persists.
    */
  private[graft] def SemBatchPred: org.apache.spark.sql.Column =
    pmod(col("vec_id"), lit(10)) === lit(7)
  /** The corpus (non-batch) side of [[SemBatchPred]] in DuckDB text —
    * the seed-draw restriction of the s12/st11 delta-tier oracle. */
  private[graft] val VecCorpusWhereSql = "((vec_id % 10) + 10) % 10 <> 7"

  /** Shared SemDeDup oracle — d19's FULL-table replay (Lloyd ×2,
    * within-cluster pair scoring, recursive-CTE grouping, keep rule),
    * consumed VERBATIM by d21's incremental form too: the star-merge
    * fixpoint over (persisted corpus labels ∪ batch edges) must be
    * bit-identical to batch SemDeDup over all vectors — that identity
    * IS the correctness claim of incremental semantic maintenance.
    */
  private[graft] lazy val SemDeDupOracleSql: String =
    s"""WITH RECURSIVE $KmeansCtes,
        |sd_pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assign a JOIN assign b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |), sd_dots AS (
        |  SELECT p.id_a, p.id_b,
        |    CAST(sum(CAST(ROUND(CAST(x.embedding[i + 1] AS DOUBLE) * CAST(y.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(x.embedding[i + 1] AS DOUBLE) * CAST(x.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nx,
        |    CAST(sum(CAST(ROUND(CAST(y.embedding[i + 1] AS DOUBLE) * CAST(y.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS ny
        |  FROM sd_pairs p
        |  JOIN embeddings x ON x.vec_id = p.id_a
        |  JOIN embeddings y ON y.vec_id = p.id_b, range(64) r(i)
        |  GROUP BY p.id_a, p.id_b
        |), sd_edges AS MATERIALIZED (
        |  SELECT id_a, id_b FROM sd_dots
        |  WHERE ROUND(CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |    ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(ny AS DOUBLE))) END, 9)
        |    >= CAST(0.40 AS DOUBLE)
        |), sd_ed2 AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM sd_edges
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM sd_edges
        |), sd_reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM sd_ed2
        |  UNION
        |  SELECT e.src, rc.r FROM sd_ed2 e JOIN sd_reach rc ON rc.node = e.dst
        |), sd_cc AS (
        |  SELECT node AS vec_id, min(r) AS dup_group FROM sd_reach GROUP BY node
        |), sd_lab AS (
        |  SELECT a.vec_id, a.cluster, a.cos_centroid,
        |    coalesce(c.dup_group, a.vec_id) AS dup_group
        |  FROM assign a LEFT JOIN sd_cc c ON c.vec_id = a.vec_id
        |)
        |SELECT vec_id, cluster, cos_centroid, dup_group,
        |  CAST(count(*) OVER (PARTITION BY dup_group) AS BIGINT) AS group_size,
        |  row_number() OVER (PARTITION BY dup_group ORDER BY cos_centroid ASC, vec_id ASC) = 1 AS keep
        |FROM sd_lab""".stripMargin

  /** The persisted SEMANTIC-DEDUP artifact — the fourth leg of the
    * signature-store posture (bands / grams+clusters / ANN index /
    * THIS): written once per embedding generation,
    *   - `cents/` — the frozen k-means centroid model (k rows), the
    *     SemDeDup analogue of the PQ codebook: ingest batches assign
    *     under it without re-training. NOTE (ADVICE r15): these
    *     centroids are trained by kmeansCentroids over ALL embeddings
    *     — including the rows the d21 batch later re-ingests — because
    *     d21 is pinned bit-identical to d19's full-table oracle, and
    *     d19 clusters the full table. The incremental ≡ batch identity
    *     holds for ANY shared frozen centroid set (that is the
    *     property d21 actually pins); unlike d22's frozen LMs, the
    *     centroid training here is NOT itself batch-independent;
    *   - `state/` — per-CORPUS-vector `(vec_id, cluster, cos_centroid,
    *     dup_group)`: assignment under the frozen model + duplicate
    *     groups from corpus–corpus within-cluster edges at
    *     [[SemTau]].
    * d21 probes both: batch assignment is a projection under `cents`,
    * candidate pairs touch only the batch's clusters, verified edges
    * star-merge into `state`'s labels (Dedup.ccIncremental).
    */
  val SemStore: Artifact = Artifact("sem")("graft_sem_artifact",
      Seq("embeddings.parquet"),
      // params/layout tag: "dual" = compact + cluster-partitioned state
      // layouts, "hs" = hash-gated k-means seeding (round 16); a param
      // OR layout change must bump this sub (ADVICE r13 rule)
      s"k${SemK}i${SemIters}t${SemTau}dualhs", compacts = Some("state")) { (s, d, dir) =>
    val emb = Tables.embeddings(s, d)
    val cents = graft.operators.SimilaritySearch.kmeansCentroids(
      emb, SemK, SemIters)
    import s.implicits._
    cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cvec")
      .withColumn("cvec", col("cvec").cast("array<float>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cents")
    val corpus = emb.filter(!SemBatchPred)
    val assignC = graft.operators.SimilaritySearch
      .assignWithCentroids(corpus, cents)
    val withVec = assignC
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val edges = withVec
      .select(col("cluster"), col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .join(withVec.select(col("cluster"), col("vec_id").as("id_b"),
        col("embedding").as("v_b")), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(graft.functions.Vectors.cosineQNative(col("v_a"), col("v_b")), 9))
      .filter(col("cosine") >= SemTau)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val groups = graft.operators.Dedup
      .connectedComponents(edges, distinctEdges = false)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("dup_group"))
    // DUAL state layout, the band-store pattern: `state/` compact for
    // the full-table consumers (the output union + star labels are
    // corpus-wide by semantics; the store compacts it pre-publish),
    // `byclust/` partitioned by cluster for the ingest's pair probe —
    // a batch touches few clusters at production k, and the probe's
    // FileScan prunes to exactly those (one file per partition
    // directory already)
    val state = assignC.join(groups, Seq("vec_id"), "left")
      .withColumn("dup_group", coalesce(col("dup_group"), col("vec_id")))
      .cache()
    try {
      state.write.mode("overwrite").parquet(s"$dir/state")
      state.repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/byclust")
    } finally state.unpersist()
  }

  /** The PARTITION-PRUNED semantic-state probe: only the `byclust/`
    * partitions whose `cluster` appears in `clusters` (the distinct
    * clusters one ingest batch assigned into) — the pair-candidate
    * side of d21 reads members of touched clusters, never the corpus
    * (PlanShapeSpec pins the PartitionFilters). The full-table
    * consumers keep the compact `state/` copy.
    */
  private[graft] def prunedSemState(s: org.apache.spark.sql.SparkSession,
                                    d: String, clusters: Seq[Int]) =
    // existing: probe-side twin of the SemStore build — d21
    // resolves the artifact before probing, and a trigger-shaped
    // consumer must never own the corpus clustering build
    storeRead(s, SemStore.existing(s, d) + "/byclust")
      .where(col("cluster").isin(clusters: _*))
      .select(col("cluster"), col("vec_id"))

  /** DSIR tier parameters — single-sourced across d20 (batch), d22
    * (incremental), the frozen-LM artifact, and both oracles. */
  private[graft] val DsirVocab = 64

  /** Ingest split for the DSIR tier: doc_id ≡ 7 (mod 10) plays the
    * arriving batch (the SemBatchPred convention on the documents
    * table), the rest the corpus whose frozen LMs the artifact holds.
    */
  private[graft] def DocBatchPred: org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(10)) === lit(7)
  /** The corpus (non-batch) side of [[DocBatchPred]] in DuckDB text —
    * interpolated into BOTH frozen-LM training slices of d22's oracle.
    */
  private[graft] val DocBatchPredSqlNot = "((doc_id % 10) + 10) % 10 <> 7"

  /** Shared DSIR oracle scaffolding — ONE copy of the tokenization,
    * the per-leg LM CTEs (vocab → OOV-folded bigrams → add-one
    * quantized scores), and the weight/gate arithmetic, consumed by
    * d20 (LMs trained on the full table, every doc emitted) and d22
    * (LMs frozen on the non-batch corpus, output restricted to the
    * batch): a smoothing or clamp edit cannot reach one oracle and
    * not the other. `trainT`/`trainR` filter the target/raw LM's
    * training rows; `outWhere` filters the emitted docs ("" = all).
    */
  private[graft] def dsirOracleSql(trainT: String, trainR: String,
                                   outWhere: String): String = {
    def lm(sfx: String, trainWhere: String) = s"""vocab$sfx AS (
      |  SELECT tok FROM (SELECT unnest(ws) AS tok FROM dsir_toked WHERE $trainWhere) t
      |  GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT $DsirVocab
      |), bg$sfx AS (
      |  SELECT doc_id, source,
      |    CASE WHEN m[i] = '^' OR m[i] IN (SELECT tok FROM vocab$sfx) THEN m[i] ELSE '<oov>' END AS prev,
      |    CASE WHEN m[i+1] IN (SELECT tok FROM vocab$sfx) THEN m[i+1] ELSE '<oov>' END AS cur
      |  FROM dsir_idx
      |), cb$sfx AS (
      |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
      |  FROM bg$sfx WHERE $trainWhere GROUP BY 1, 2
      |), cp$sfx AS (
      |  SELECT prev, CAST(sum(c) AS BIGINT) AS cpc FROM cb$sfx GROUP BY 1
      |), sc$sfx AS (
      |  SELECT g.doc_id,
      |    CAST(sum(CAST(ROUND(CAST(coalesce(b.c, 0) + 1 AS DOUBLE)
      |      / CAST(coalesce(p.cpc, 0) + ${DsirVocab + 2} AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS s$sfx
      |  FROM bg$sfx g
      |  LEFT JOIN cb$sfx b ON b.prev = g.prev AND b.cur = g.cur
      |  LEFT JOIN cp$sfx p ON p.prev = g.prev
      |  GROUP BY g.doc_id
      |)""".stripMargin
    import graft.operators.TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}
    s"""WITH dsir_toked AS (
      |  SELECT doc_id, source, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      |  FROM documents
      |), dsir_nonempty AS (
      |  SELECT doc_id, source, list_prepend('^', ws) AS m, len(ws) AS n
      |  FROM dsir_toked WHERE len(ws) > 0
      |), dsir_idx AS (
      |  SELECT doc_id, source, m, unnest(range(1, n + 1)) AS i FROM dsir_nonempty
      |),
      |${lm("t", trainT)},
      |${lm("r", trainR)}
      |SELECT d.doc_id, d.source, st.st AS s_t, sr.sr AS s_r,
      |  (least(st.st, 140737488355327) * 65536) // greatest(sr.sr, 1) AS wt16,
      |  ((d.doc_id * $SampleLcgA + $SampleLcgC) % $SampleModulus + $SampleModulus) % $SampleModulus
      |    < least($SampleModulus, (least((least(st.st, 140737488355327) * 65536) // greatest(sr.sr, 1), 131072) * ($SampleModulus // 65536)) // 2) AS kept
      |FROM documents d
      |JOIN sct st ON st.doc_id = d.doc_id
      |JOIN scr sr ON sr.doc_id = d.doc_id
      |$outWhere""".stripMargin
  }

  /** The persisted FROZEN-LM artifact of the DSIR tier — per leg
    * (`t` = target, trained on the corpus's src1 slice; `r` = raw,
    * trained on the whole corpus, batch rows excluded from both):
    *   - `vocab_<leg>/` — the top-[[DsirVocab]] training vocabulary
    *     (membership is what scoring needs: OOV folding of NEW batch
    *     tokens must use the frozen vocab, not the batch's);
    *   - `cb_<leg>/` — the OOV-folded (prev, cur) bigram counts,
    *     ≤ (V+2)² rows; the per-context totals are re-derived at probe
    *     time with one tiny agg rather than stored (they are a pure
    *     function of cb, and storing both invites drift).
    * d22 probes it: batch scoring is bigram-explode + two broadcast
    * lookups per leg — no corpus scan, no retrain.
    */
  val DsirStore: Artifact = Artifact("dsir")("graft_dsir_artifact",
      Seq("documents.parquet"),
      // params tag: vocab size + batch-split residue — retuning either
      // must invalidate the store (ADVICE r13 rule)
      s"v${DsirVocab}b7") { (s, d, dir) =>
    val corpus = Tables.documents(s, d).filter(!DocBatchPred)
    def persist(sfx: String, train: org.apache.spark.sql.DataFrame): Unit = {
      val m = graft.operators.TextAnalysis.bigramLmModel(train, DsirVocab)
      import s.implicits._
      m.vocab.toDF("tok").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/vocab_$sfx")
      m.cb.coalesce(1).write.mode("overwrite").parquet(s"$dir/cb_$sfx")
    }
    persist("t", corpus.filter(col("source") === "src1"))
    persist("r", corpus)
  }

  /** Classifier tier parameters — single-sourced across t17 (full
    * train/holdout), t18 (frozen-artifact batch serving) and
    * [[ClfStore]]'s builder.
    */
  private[graft] val ClfHashHexChars = 4
  private[graft] val ClfGateHalf = graft.operators.TextAnalysis.SampleModulus / 2

  /** Shared classifier oracle scaffolding — ONE copy of the
    * tokenization, md5-prefix bucketing, count model, add-one
    * quantized scoring and tie-broken argmax, consumed by t17 (model
    * = the LCG train half, output = the holdout) and t18 (model = the
    * train half minus the batch, output = the batch): a smoothing or
    * tie-order edit cannot reach one oracle and not the other.
    * `trainWhere` filters the model's token rows, `scoreWhere` the
    * scored docs; both see `(doc_id, lang, gate)`.
    */
  private[graft] def hashClfOracleSql(trainWhere: String,
                                      scoreWhere: String): String = {
    import graft.operators.TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}
    val buckets = 1L << (4 * ClfHashHexChars)
    s"""WITH toked AS (
        |  SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, lang, gate, substr(md5(tok), 1, $ClfHashHexChars) AS b FROM (
        |    SELECT doc_id, lang,
        |      ((doc_id * $SampleLcgA + $SampleLcgC) % $SampleModulus + $SampleModulus) % $SampleModulus AS gate,
        |      unnest(toks) AS tok
        |    FROM toked WHERE len(toks) > 0) t
        |), model AS (
        |  SELECT lang AS lbl, b, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE $trainWhere GROUP BY 1, 2
        |), tot AS (
        |  SELECT lbl, CAST(sum(c) AS BIGINT) AS n FROM model GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.lang, tt.lbl,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(ROUND(CAST(coalesce(m.c, 0) + 1 AS DOUBLE)
        |      / CAST(tt.n + $buckets AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS s
        |  FROM tok t
        |  CROSS JOIN tot tt
        |  LEFT JOIN model m ON m.lbl = tt.lbl AND m.b = t.b
        |  WHERE $scoreWhere
        |  GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, lang AS label, lbl AS pred_label, n_tokens, s AS score_q
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lbl ASC) = 1""".stripMargin
  }

  /** The persisted frozen-model artifact of the classifier tier: the
    * hashed-bucket counts table (`label, __b, c`, ≤ labels ×
    * 16^[[ClfHashHexChars]] rows), trained on the LCG train half with
    * the arriving batch excluded (no lookahead — the d22 stance; the
    * oracle freezes the same slice). Labels and per-label totals are
    * re-derived at probe time (pure functions of the counts — the
    * [[DsirStore]] `cp` principle). The sub is the params tag: bucket
    * width + batch-split residue — retuning either must invalidate the
    * store (ADVICE r13 rule).
    */
  val ClfStore: Artifact = Artifact("clf")("graft_clf_artifact",
      Seq("documents.parquet"), s"h${ClfHashHexChars}b7") { (s, d, dir) =>
    import graft.operators.TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}
    val gate = pmod(col("doc_id") * lit(SampleLcgA) + lit(SampleLcgC),
      lit(SampleModulus))
    val train = Tables.documents(s, d)
      .filter(gate < ClfGateHalf).filter(!DocBatchPred)
    val m = graft.operators.TextAnalysis.hashClfTrain(
      train, hashHexChars = ClfHashHexChars)
    m.counts.coalesce(1).write.mode("overwrite").parquet(s"$dir/counts")
  }

  /** Probe-side loader of the frozen classifier model —
    * `existing`, never `resolve`: a missing store at probe time
    * (above all inside a streaming trigger, st9) means the maintenance
    * path (`dedup-maintain` or the query's own pre-stream
    * [[ClfStore]] resolve) didn't run for this generation, and it fails
    * loudly naming that fix instead of training a model inside a
    * micro-batch. Labels/totals are re-derived from the counts
    * ([[graft.operators.TextAnalysis.hashClfModelOf]]).
    */
  private[graft] def clfModelOfStore(s: org.apache.spark.sql.SparkSession,
      d: String): graft.operators.TextAnalysis.HashClfModel = {
    graft.operators.TextAnalysis.hashClfModelOf(
      s.read.parquet(s"${ClfStore.existing(s, d)}/counts"), ClfHashHexChars)
  }

  /** Decontamination tier parameters — single-sourced across d23/d24
    * (inline sketches), the frozen artifact, and the d25/st10 probes:
    * gram width, the eval slice, and the sketch size. */
  private[graft] val DecontamN = 5
  private[graft] val DecontamEvalSrc = "src19"
  private[graft] val DecontamSketchItems = 200000L
  private[graft] val DecontamSketchBits = 2000000L

  /** The persisted frozen eval-gram model of the decontamination tier:
    * the held-out suite's distinct gram fingerprints (`grams/`, the
    * exact-verify relation) plus the Bloom sketch aggregated over them
    * (`bloom/`, one row, ≤ [[DecontamSketchBits]]/8 bytes — the
    * map-side prefilter). Built ONCE per documents generation — eval
    * suites change when benchmarks do, not per ingest batch — so the
    * d25/st10 probes never re-tokenize the eval side. The sketch is
    * aggregated from the PERSISTED grams (not the source) so the two
    * files can never disagree. The sub carries gram width, eval slice,
    * and sketch size: retuning any of them must invalidate the store
    * (ADVICE r13 rule).
    */
  val DecontamStore: Artifact = Artifact("decontam")("graft_decontam_artifact",
      Seq("documents.parquet"), s"n${DecontamN}s19e200kb2m") { (s, d, dir) =>
    import graft.operators.TextAnalysis
    TextAnalysis.evalGramHashes(
        Tables.documents(s, d).filter(col("source") === DecontamEvalSrc),
        n = DecontamN)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/grams")
    s.read.parquet(s"$dir/grams")
      .agg(call_function("graft_bloom_agg", col("g"),
        lit(DecontamSketchItems), lit(DecontamSketchBits)).as("bf"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bloom")
  }

  /** Probe-side loader of the frozen decontamination model —
    * `existing`, never `resolve` (the clfModelOfStore rule): a
    * missing store at probe time fails loudly naming the maintenance
    * fix instead of tokenizing the eval suite inside a micro-batch.
    * The sketch row is a bounded driver collect (≤ sketchBits/8
    * bytes); the gram relation stays a lazy DataFrame for the exact
    * verify join.
    */
  private[graft] def decontamModelOfStore(s: org.apache.spark.sql.SparkSession,
      d: String): graft.operators.TextAnalysis.DecontamModel = {
    val dir = DecontamStore.existing(s, d)
    graft.operators.TextAnalysis.DecontamModel(
      s.read.parquet(s"$dir/bloom").collect()(0).getAs[Array[Byte]](0),
      s.read.parquet(s"$dir/grams"))
  }

  /** d10/d23/d25/st10 shared oracle scaffolding — ONE copy of the
    * tokenization, gram derivation, eval side, and hit count.
    * `trainWhere` filters the scored documents (d10/d23: the whole
    * non-eval corpus; d25/st10: the arriving batch slice — the frozen
    * artifact's sketch/grams are pure functions of the eval slice, so
    * restricting the train side is the ONLY difference between the
    * inline and the frozen-model forms). The text is written so the
    * same `trainWhere` applies unqualified in both places (hits
    * exposes `hdoc`, keeping `doc_id`/`source` unambiguous in the
    * outer query).
    */
  private[graft] def decontamOracleSql(trainWhere: String): String =
    s"""WITH toked AS (
        |  SELECT doc_id, source, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, source, list_distinct(
        |    list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gs
        |  FROM toked WHERE len(toks) >= 5
        |), evalg AS (
        |  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE source = 'src19'
        |), traing AS (
        |  SELECT doc_id, unnest(gs) AS g FROM grams WHERE $trainWhere
        |), hits AS (
        |  SELECT t.doc_id AS hdoc, count(*) AS n FROM traing t JOIN evalg e ON t.g = e.g
        |  GROUP BY t.doc_id
        |)
        |SELECT doc_id, source,
        |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_grams,
        |  coalesce(h.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.hdoc = d.doc_id
        |WHERE $trainWhere""".stripMargin

  /** d10/d23 shared oracle — the exact n-gram-overlap flags. d23's
    * Bloom prefilter is a pure semi-join reduction (false positives
    * die in the exact verify join), so both engines' answers — and
    * therefore both queries' oracle — are IDENTICAL by construction.
    */
  private[graft] lazy val DecontaminationOracleSql: String =
    decontamOracleSql("source <> 'src19'")

  /** The d25/st10 train slice: the arriving batch (DocBatchPred) minus
    * the eval slice, in both engines' text. */
  private[graft] val DecontamBatchWhereSql =
    "source <> 'src19' AND ((doc_id % 10) + 10) % 10 = 7"

  /** d13/d24 shared oracle — the exact contaminated-pair table. d24's
    * Bloom prefilter is the same pure semi-join reduction as d23's
    * (false positives die in the exact pair join), so both queries
    * share this text verbatim.
    */
  private[graft] lazy val ProvenanceOracleSql: String =
    """WITH toked AS (
        |  SELECT doc_id, source, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, source, list_distinct(
        |    list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gs
        |  FROM toked WHERE len(toks) >= 5
        |), evalg AS (
        |  SELECT doc_id AS eval_doc_id, unnest(gs) AS g FROM grams WHERE source = 'src19'
        |), traing AS (
        |  SELECT doc_id AS train_doc_id, unnest(gs) AS g FROM grams WHERE source <> 'src19'
        |)
        |SELECT t.train_doc_id, e.eval_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM traing t JOIN evalg e ON t.g = e.g
        |GROUP BY t.train_doc_id, e.eval_doc_id""".stripMargin

  /** The hash-gated seed draw in DuckDB text — transcribes
    * SimilaritySearch.hashSeeds: the n rows with the smallest LCG key
    * (ties → lowest vec_id), re-labeled `label` 0..n-1 in key order.
    * One shared stream (lcgC 12345, the sampling increment) serves
    * both the centroid and codebook draws — see ivfPqModel's design
    * note on why the overlap is deliberate. Emits (vec_id, `label`,
    * cv) so residual-codebook oracles can join back by vec_id.
    * `where` restricts the draw's source rows (the s12/st11 delta
    * tier draws from the corpus slice only — no lookahead into the
    * arriving batch); "" = the full table.
    */
  private def seedDrawSql(n: Int, lcgC: Long, label: String,
                          where: String = ""): String = {
    val w = if (where.isEmpty) "" else s"\n  WHERE $where"
    s"""SELECT vec_id,
        |    CAST(row_number() OVER (ORDER BY (((vec_id * 1103515245 + $lcgC) % 2147483648) + 2147483648) % 2147483648, vec_id) AS INT) - 1 AS $label,
        |    embedding AS cv
        |  FROM embeddings$w
        |  QUALIFY row_number() OVER (ORDER BY (((vec_id * 1103515245 + $lcgC) % 2147483648) + 2147483648) % 2147483648, vec_id) <= $n""".stripMargin
  }

  /** Lloyd-TRAINED coarse centroids in DuckDB text — transcribes
    * SimilaritySearch.kmeansCentroids (hash-gated seed draw, then
    * `iters − 1` assignment/update passes: quantized-cosine argmax
    * with min-cid ties, 1e6-integer component means with one final
    * division and a REAL narrow, empty cells keep their previous
    * centroid), ending in `cents(cid, cv)` — the drop-in replacement
    * for the seed-draw `cents` CTE when the ANN family runs
    * `train="lloyd"`. `where` restricts the seed draw AND every
    * assignment scan (the delta tier trains on the corpus slice
    * only); the update scan needs no explicit restriction because the
    * assignment it joins is already restricted. Same arithmetic as
    * [[KmeansCtes]] (green in s05/d19), generated per (k, iters,
    * where) instead of hand-unrolled.
    */
  private def lloydCentsSql(k: Int, iters: Int, where: String,
                            trainSample: Int = 0): String = {
    require(iters >= 1, s"lloydCentsSql: iters must be >= 1, got $iters")
    val w = if (where.isEmpty) "" else s"\n  WHERE $where"
    val sb = new StringBuilder
    sb.append(
      s"""__seed AS (
         |  ${seedDrawSql(k, 12345L, "cid", where)}
         |), __cent0 AS (
         |  SELECT cid, i AS pos, cv[i + 1] AS comp FROM __seed, range(64) r(i)
         |)""".stripMargin)
    // the bounded training sample (SimilaritySearch.trainSlice): ALL
    // lloyd training scans in this WITH (coarse here, pqCblSql's and
    // rcbSql's codebook passes when composed with the same value)
    // restrict to these rows; the seed draws are its own top-k prefix
    if (trainSample > 0) sb.append(
      s""", __ts AS (
         |  SELECT vec_id FROM embeddings$w
         |  QUALIFY row_number() OVER (ORDER BY (((vec_id * 1103515245 + 12345) % 2147483648) + 2147483648) % 2147483648, vec_id) <= $trainSample
         |)""".stripMargin)
    val tsJoin = if (trainSample > 0) ", __ts __t" else ""
    val tsCond = if (trainSample > 0) "\n  WHERE v.vec_id = __t.vec_id" else w
    for (it <- 1 until iters) {
      val prev = s"__cent${it - 1}"
      sb.append(s""", __cc$it AS (
         |  SELECT v.vec_id, c.cid,
         |    CAST(sum(CAST(ROUND(CAST(v.embedding[c.pos + 1] AS DOUBLE) * CAST(c.comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
         |    CAST(sum(CAST(ROUND(CAST(v.embedding[c.pos + 1] AS DOUBLE) * CAST(v.embedding[c.pos + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nv,
         |    CAST(sum(CAST(ROUND(CAST(c.comp AS DOUBLE) * CAST(c.comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
         |  FROM embeddings v$tsJoin, $prev c$tsCond
         |  GROUP BY v.vec_id, c.cid
         |), __a$it AS (
         |  SELECT vec_id, cid AS cl FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
         |      ROUND(CASE WHEN nv = 0 OR nc = 0 THEN 0.0
         |        ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) DESC, cid ASC) AS rn
         |    FROM __cc$it) x WHERE rn = 1
         |), __cs$it AS (
         |  SELECT a.cl, r.i AS pos,
         |    CAST(sum(CAST(ROUND(CAST(v.embedding[r.i + 1] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sq,
         |    count(*) AS n
         |  FROM embeddings v JOIN __a$it a ON a.vec_id = v.vec_id CROSS JOIN range(64) r(i)
         |  GROUP BY a.cl, r.i
         |), __cent$it AS (
         |  SELECT p.cid, p.pos,
         |    coalesce(CAST(CAST(cs.sq AS DOUBLE) / CAST(cs.n AS DOUBLE) / 1e6 AS REAL), p.comp) AS comp
         |  FROM $prev p LEFT JOIN __cs$it cs ON cs.cl = p.cid AND cs.pos = p.pos
         |)""".stripMargin)
    }
    sb.append(s""", cents AS (
       |  SELECT cid, list(comp ORDER BY pos) AS cv FROM __cent${iters - 1} GROUP BY cid
       |)""".stripMargin)
    sb.toString
  }

  /** The coarse-centroid CTE chain every IVF/PQ oracle opens with,
    * ending in `cents(cid, cv)` — branches on the SAME training mode
    * the Spark model functions read (SimilaritySearch.annTrain /
    * GRAFT_ANN_TRAIN), so a Verify run's oracle_sql.json can never
    * disagree with the mode that produced its parquet dumps.
    */
  private def centsSql(where: String,
      mode: String = graft.operators.SimilaritySearch.annTrain,
      trainSample: Int = graft.operators.SimilaritySearch.annTrainSampleDefault): String =
    if (mode == "lloyd")
      lloydCentsSql(AnnNlist, graft.operators.SimilaritySearch.AnnTrainIters,
        where, trainSample)
    else
      s"""cents AS (
         |  ${seedDrawSql(AnnNlist, 12345L, "cid", where)}
         |)""".stripMargin

  /** The `sub`-tag suffix that brands every ANN artifact with its
    * training mode: a mode flip must invalidate the stored index (the
    * r13 params rule) — a lloyd probe must never read codes encoded
    * under sampled centroids or vice versa.
    */
  private def annTrainSubTag: String =
    if (graft.operators.SimilaritySearch.annTrain == "lloyd")
      s"ll${graft.operators.SimilaritySearch.AnnTrainIters}s${graft.operators.SimilaritySearch.AnnLloydTrainSample}"
    else ""

  /** Subspace width of the AnnM × 64-dim PQ configuration. */
  private val AnnSub = 64 / AnnM

  /** s13's bounded Lloyd training sample — single-sourced with the
    * JVM-wide lloyd mode's default (SimilaritySearch.AnnLloydTrainSample)
    * and below the corpus row count at every catalog SF (500 at
    * sf0.01, 5000 at sf0.1), so the driver gate genuinely exercises
    * the sample-restricted training scans.
    */
  private[graft] val AnnTrainSample =
    graft.operators.SimilaritySearch.AnnLloydTrainSample

  /** The RAW PQ codebook as a long-form CTE `cbl(ki, mi, j, comp)` —
    * the seed-draw expansion under `train="sample"`, or that expansion
    * refined by `AnnTrainIters − 1` subspace-k-means passes under
    * `train="lloyd"` (transcribing SimilaritySearch.pqLloyd with
    * narrowToFloat: assignment by the encode's own quantized-L2
    * argmin, 1e6-integer component means REAL-narrowed per pass,
    * empty codewords keep their entry). Expects `cbv(vec_id, ki, cv)`
    * (the seed draw) in scope; `seedWhere` restricts the training
    * scans to the model slice (the delta tier trains on the corpus
    * only) — the update scan inherits the restriction through its
    * assignment join.
    */
  private def pqCblSql(seedWhere: String,
      mode: String = graft.operators.SimilaritySearch.annTrain,
      trainSample: Int = graft.operators.SimilaritySearch.annTrainSampleDefault): String = {
    val expand =
      s"""  SELECT ki, mi.m AS mi, j.j AS j, cv[mi.m * $AnnSub + j.j + 1] AS comp
         |  FROM cbv, range($AnnM) mi(m), range($AnnSub) j(j)""".stripMargin
    if (mode != "lloyd")
      s"cbl AS (\n$expand\n)"
    else {
      val iters = graft.operators.SimilaritySearch.AnnTrainIters
      // trainSample > 0 requires composition after a centsSql emitted
      // with the SAME value (the shared __ts CTE) — true by
      // construction inside ivfPqOracleSql, the only composer
      val w0 = if (seedWhere.isEmpty) "" else s"\n  WHERE $seedWhere"
      val tsJoin = if (trainSample > 0) ", __ts __t" else ""
      val w = if (trainSample > 0) "\n  WHERE e.vec_id = __t.vec_id" else w0
      val sb = new StringBuilder(s"__cbl0 AS (\n$expand\n)")
      for (it <- 1 until iters) {
        val prev = s"__cbl${it - 1}"
        sb.append(s""", __pqn$it AS (
           |  SELECT ki, mi, CAST(sum(CAST(ROUND(CAST(comp AS DOUBLE) * CAST(comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
           |  FROM $prev GROUP BY ki, mi
           |), __pqd$it AS (
           |  SELECT e.vec_id, c.ki, c.mi,
           |    CAST(sum(CAST(ROUND(CAST(e.embedding[c.mi * $AnnSub + c.j + 1] AS DOUBLE) * CAST(c.comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq
           |  FROM embeddings e$tsJoin, $prev c$w
           |  GROUP BY e.vec_id, c.ki, c.mi
           |), __pqa$it AS (
           |  SELECT vec_id, mi, ki AS code FROM (
           |    SELECT d.vec_id, d.mi, d.ki,
           |      row_number() OVER (PARTITION BY d.vec_id, d.mi
           |        ORDER BY (n.nc - 2 * d.dq) ASC, d.ki ASC) AS rn
           |    FROM __pqd$it d JOIN __pqn$it n ON n.ki = d.ki AND n.mi = d.mi) t
           |  WHERE rn = 1
           |), __pqs$it AS (
           |  SELECT a.mi, a.code, j.j AS j,
           |    CAST(sum(CAST(ROUND(CAST(e.embedding[a.mi * $AnnSub + j.j + 1] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sq,
           |    count(*) AS n
           |  FROM embeddings e JOIN __pqa$it a ON a.vec_id = e.vec_id CROSS JOIN range($AnnSub) j(j)
           |  GROUP BY a.mi, a.code, j.j
           |), __cbl$it AS (
           |  SELECT p.ki, p.mi, p.j,
           |    coalesce(CAST(CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE) / 1e6 AS REAL), p.comp) AS comp
           |  FROM $prev p LEFT JOIN __pqs$it s ON s.code = p.ki AND s.mi = p.mi AND s.j = p.j
           |)""".stripMargin)
      }
      sb.append(s", cbl AS (\n  SELECT ki, mi, j, comp FROM __cbl${iters - 1}\n)")
      sb.toString
    }
  }

  /** The RESIDUAL PQ codebook as `rcb(ki, j, rv)` — the seed-residual
    * table under `train="sample"`, or that table refined by subspace
    * k-means over the CORPUS residuals under `train="lloyd"`
    * (SimilaritySearch.pqLloyd with narrowToFloat=false: residual
    * codewords stay exact doubles). Expects `resv(vec_id, j, rv)` and
    * `cbsel(vec_id, ki, cv)` in scope; the residual form has no
    * model-slice variant (s10/s11 train on the full table), so the
    * training scans are unrestricted like resv itself.
    */
  private def rcbSql(
      mode: String = graft.operators.SimilaritySearch.annTrain,
      trainSample: Int = graft.operators.SimilaritySearch.annTrainSampleDefault): String = {
    val seedRes =
      "  SELECT cs.ki, v.j, v.rv FROM resv v JOIN cbsel cs ON cs.vec_id = v.vec_id"
    if (mode != "lloyd")
      s"rcb AS (\n$seedRes\n)"
    else {
      val iters = graft.operators.SimilaritySearch.AnnTrainIters
      // same composition contract as pqCblSql: __ts comes from the
      // centsSql emitted with the same trainSample
      val rdTs = if (trainSample > 0) " JOIN __ts __t ON __t.vec_id = v.vec_id" else ""
      val sb = new StringBuilder(s"__rcb0 AS (\n$seedRes\n)")
      for (it <- 1 until iters) {
        val prev = s"__rcb${it - 1}"
        sb.append(s""", __rn$it AS (
           |  SELECT ki, j // $AnnSub AS mi,
           |    CAST(sum(CAST(ROUND(rv * rv * 1e12) AS BIGINT)) AS BIGINT) AS nc
           |  FROM $prev GROUP BY ki, j // $AnnSub
           |), __rd$it AS (
           |  SELECT v.vec_id, r.ki, v.j // $AnnSub AS mi,
           |    CAST(sum(CAST(ROUND(v.rv * r.rv * 1e12) AS BIGINT)) AS BIGINT) AS dq
           |  FROM resv v JOIN $prev r ON r.j = v.j$rdTs
           |  GROUP BY v.vec_id, r.ki, v.j // $AnnSub
           |), __ra$it AS (
           |  SELECT vec_id, mi, ki AS code FROM (
           |    SELECT d.vec_id, d.mi, d.ki,
           |      row_number() OVER (PARTITION BY d.vec_id, d.mi
           |        ORDER BY (n.nc - 2 * d.dq) ASC, d.ki ASC) AS rn
           |    FROM __rd$it d JOIN __rn$it n ON n.ki = d.ki AND n.mi = d.mi) t
           |  WHERE rn = 1
           |), __rs$it AS (
           |  SELECT a.mi, a.code, v.j AS j,
           |    CAST(sum(CAST(ROUND(v.rv * 1e6) AS BIGINT)) AS BIGINT) AS sq,
           |    count(*) AS n
           |  FROM resv v JOIN __ra$it a ON a.vec_id = v.vec_id AND a.mi = v.j // $AnnSub
           |  GROUP BY a.mi, a.code, v.j
           |), __rcb$it AS (
           |  SELECT p.ki, p.j,
           |    coalesce(CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE) / 1e6, p.rv) AS rv
           |  FROM $prev p LEFT JOIN __rs$it s ON s.code = p.ki AND s.mi = p.j // $AnnSub AND s.j = p.j
           |)""".stripMargin)
      }
      sb.append(s", rcb AS (\n  SELECT ki, j, rv FROM __rcb${iters - 1}\n)")
      sb.toString
    }
  }

  /** Residual IVF+PQ oracle (s10): same coarse-assign prefix as
    * [[IvfPqOracleSql]], then residuals (exact double subtraction of
    * the assigned centroid), a shared residual codebook (the first 16
    * vectors' residuals to their own cells), per-subspace argmin
    * encode, RAW-query LUTs, and the inner-product ADC
    * `dotq(q, c_cell) + Σ LUT[code]` — the per-(query, probed-cell)
    * constant is exactly `cellcos.dq`. Refine + exact rerank as s08.
    */
  private[graft] lazy val IvfRPqOracleSql: String = ivfRPqOracleSql()

  /** The residual-PQ oracle, parameterized by TRAINING MODE like
    * [[ivfPqOracleSql]]: s10/s11 read the JVM-wide mode (so a forced-
    * lloyd Verify run replays the trained passes for them too), s14
    * forces `mode = "lloyd"` + the bounded sample — the permanent
    * driver gate on the engine's highest-recall tier. Everything
    * downstream of the model CTEs (residualize, encode, LUTs, cell
    * constants, ADC, refine, rerank) is shared text across the three.
    */
  private[graft] def ivfRPqOracleSql(
      mode: String = graft.operators.SimilaritySearch.annTrain,
      trainSample: Int = graft.operators.SimilaritySearch.annTrainSampleDefault): String =
    s"""WITH ${centsSql("", mode, trainSample)}, cellcos AS (
        |  SELECT v.vec_id, c.cid,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(v.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nv,
        |    CAST(sum(CAST(ROUND(CAST(c.cv[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM embeddings v, cents c, range(64) r(i)
        |  GROUP BY v.vec_id, c.cid
        |), scored AS (
        |  SELECT vec_id, cid,
        |    ROUND(CASE WHEN nv = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS ccos
        |  FROM cellcos
        |), ranked AS (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
        |  FROM scored
        |), cells AS (
        |  SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM ranked WHERE rn <= 2 AND vec_id < 10
        |), resv AS (
        |  SELECT e.vec_id, j.j AS j,
        |    CAST(e.embedding[j.j + 1] AS DOUBLE) - CAST(c.cv[j.j + 1] AS DOUBLE) AS rv
        |  FROM embeddings e
        |  JOIN cells ce ON ce.vec_id = e.vec_id
        |  JOIN cents c ON c.cid = ce.cell, range(64) j(j)
        |), cbsel AS (
        |  ${seedDrawSql(AnnCb, 12345L, "ki")}
        |), ${rcbSql(mode, trainSample)}, rnorm AS (
        |  SELECT ki, j // 8 AS mi,
        |    CAST(sum(CAST(ROUND(rv * rv * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM rcb GROUP BY ki, j // 8
        |), cdot AS (
        |  SELECT v.vec_id, r.ki, v.j // 8 AS mi,
        |    CAST(sum(CAST(ROUND(v.rv * r.rv * 1e12) AS BIGINT)) AS BIGINT) AS dq
        |  FROM resv v JOIN rcb r ON r.j = v.j
        |  GROUP BY v.vec_id, r.ki, v.j // 8
        |), codes AS (
        |  SELECT vec_id, mi, ki AS code FROM (
        |    SELECT d.vec_id, d.mi, d.ki,
        |      row_number() OVER (PARTITION BY d.vec_id, d.mi
        |        ORDER BY (n.nc - 2 * d.dq) ASC, d.ki ASC) AS rn
        |    FROM cdot d JOIN rnorm n ON n.ki = d.ki AND n.mi = d.mi) t
        |  WHERE rn = 1
        |), lutq AS (
        |  SELECT e.vec_id AS query_id, r.ki, r.j // 8 AS mi,
        |    CAST(sum(CAST(ROUND(CAST(e.embedding[r.j + 1] AS DOUBLE) * r.rv * 1e12) AS BIGINT)) AS BIGINT) AS dq
        |  FROM embeddings e, rcb r
        |  WHERE e.vec_id < 10
        |  GROUP BY e.vec_id, r.ki, r.j // 8
        |), cands AS (
        |  SELECT p.query_id, p.cell, mm.vec_id AS corpus_id
        |  FROM probes p JOIN cells mm ON p.cell = mm.cell
        |  WHERE p.query_id <> mm.vec_id
        |), adcs AS (
        |  SELECT ca.query_id, ca.corpus_id,
        |    CAST(cc.dq + sum(l.dq) AS BIGINT) AS adc
        |  FROM cands ca
        |  JOIN cellcos cc ON cc.vec_id = ca.query_id AND cc.cid = ca.cell
        |  JOIN codes co ON co.vec_id = ca.corpus_id
        |  JOIN lutq l ON l.query_id = ca.query_id AND l.mi = co.mi AND l.ki = co.code
        |  GROUP BY ca.query_id, ca.corpus_id, cc.dq
        |), tail AS (
        |  SELECT query_id, corpus_id FROM (
        |    SELECT query_id, corpus_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, corpus_id ASC) AS rn
        |    FROM adcs) t WHERE rn <= 20
        |), dots AS (
        |  SELECT t.query_id, t.corpus_id,
        |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
        |    CAST(sum(CAST(ROUND(CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM tail t
        |  JOIN embeddings a ON a.vec_id = t.query_id
        |  JOIN embeddings b ON b.vec_id = t.corpus_id, range(64) r(i)
        |  GROUP BY t.query_id, t.corpus_id
        |), cos AS (
        |  SELECT query_id, corpus_id,
        |    ROUND(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS cosine
        |  FROM dots
        |)
        |SELECT query_id, corpus_id, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS BIGINT) AS rank
        |  FROM cos) t
        |WHERE rank <= 5""".stripMargin

  /** Shared IVF+PQ oracle — ONE replay of coarse-assign / encode /
    * LUT / ADC / rerank for both its consumers: s08 (inline encode)
    * and s09 (the cell-partitioned stored index) — the two must be
    * row-identical because the code table is a deterministic
    * projection, exactly the d09/d15 artifact-equivalence argument.
    */
  private[graft] lazy val IvfPqOracleSql: String = ivfPqOracleSql("")

  /** The raw-PQ oracle, parameterized by the MODEL TRAINING slice:
    * s08/s09 train on the full table (`seedWhere` = ""); the delta
    * tier (s12/st11) freezes the model on the corpus slice — the
    * batch never reaches a seed draw (no lookahead), while assignment
    * and encode still cover every vector (corpus from the stored
    * index, batch from the delta encode). Everything downstream of
    * the two draws is shared text — a smoothing or tie-break edit
    * cannot reach one consumer and not the others.
    */
  private[graft] def ivfPqOracleSql(seedWhere: String,
      mode: String = graft.operators.SimilaritySearch.annTrain,
      trainSample: Int = graft.operators.SimilaritySearch.annTrainSampleDefault): String =
    s"""WITH ${centsSql(seedWhere, mode, trainSample)}, cellcos AS (
        |  SELECT v.vec_id, c.cid,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(v.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nv,
        |    CAST(sum(CAST(ROUND(CAST(c.cv[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM embeddings v, cents c, range(64) r(i)
        |  GROUP BY v.vec_id, c.cid
        |), scored AS (
        |  SELECT vec_id, cid,
        |    ROUND(CASE WHEN nv = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS ccos
        |  FROM cellcos
        |), ranked AS (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
        |  FROM scored
        |), cells AS (
        |  SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM ranked WHERE rn <= 2 AND vec_id < 10
        |), cbv AS (
        |  ${seedDrawSql(AnnCb, 12345L, "ki", seedWhere)}
        |), ${pqCblSql(seedWhere, mode, trainSample)}, cnorm AS (
        |  SELECT ki, mi,
        |    CAST(sum(CAST(ROUND(CAST(comp AS DOUBLE) * CAST(comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM cbl GROUP BY ki, mi
        |), cdot AS (
        |  SELECT e.vec_id, c.ki, c.mi,
        |    CAST(sum(CAST(ROUND(CAST(e.embedding[c.mi * $AnnSub + c.j + 1] AS DOUBLE) * CAST(c.comp AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq
        |  FROM embeddings e, cbl c
        |  GROUP BY e.vec_id, c.ki, c.mi
        |), codes AS (
        |  SELECT vec_id, mi, ki AS code FROM (
        |    SELECT d.vec_id, d.mi, d.ki,
        |      row_number() OVER (PARTITION BY d.vec_id, d.mi
        |        ORDER BY (n.nc - 2 * d.dq) ASC, d.ki ASC) AS rn
        |    FROM cdot d JOIN cnorm n ON n.ki = d.ki AND n.mi = d.mi) t
        |  WHERE rn = 1
        |), lut AS (
        |  SELECT vec_id AS query_id, ki, mi, dq FROM cdot WHERE vec_id < 10
        |), cands AS (
        |  SELECT p.query_id, mm.vec_id AS corpus_id
        |  FROM probes p JOIN cells mm ON p.cell = mm.cell
        |  WHERE p.query_id <> mm.vec_id
        |), adcs AS (
        |  SELECT ca.query_id, ca.corpus_id, CAST(sum(l.dq) AS BIGINT) AS adc
        |  FROM cands ca
        |  JOIN codes co ON co.vec_id = ca.corpus_id
        |  JOIN lut l ON l.query_id = ca.query_id AND l.mi = co.mi AND l.ki = co.code
        |  GROUP BY ca.query_id, ca.corpus_id
        |), tail AS (
        |  SELECT query_id, corpus_id FROM (
        |    SELECT query_id, corpus_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, corpus_id ASC) AS rn
        |    FROM adcs) t WHERE rn <= 20
        |), dots AS (
        |  SELECT t.query_id, t.corpus_id,
        |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
        |    CAST(sum(CAST(ROUND(CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM tail t
        |  JOIN embeddings a ON a.vec_id = t.query_id
        |  JOIN embeddings b ON b.vec_id = t.corpus_id, range(64) r(i)
        |  GROUP BY t.query_id, t.corpus_id
        |), cos AS (
        |  SELECT query_id, corpus_id,
        |    ROUND(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS cosine
        |  FROM dots
        |)
        |SELECT query_id, corpus_id, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS BIGINT) AS rank
        |  FROM cos) t
        |WHERE rank <= 5""".stripMargin

  /** The persisted stores above, as catalog rows declare them in
    * `needs` (built untimed by Bench's pre-touch, by the maintain
    * commands, or by the query's own first resolve). `Run`'s maintain
    * commands resolve the ones that read one source table each, in
    * this order (their report order).
    */
  val stores: Seq[Artifact] = Seq(BandStore, GramStore, ClusterStore,
    SimhashStore, AnnStore, SemStore, AnnCorpusStore, DsirStore, ClfStore,
    DecontamStore)

  val defs: Seq[Q] = Seq(

    // Language-ID confusion matrix: label vs stopword-argmax prediction.
    Q("t01_langid",
      (s, d) => TextAnalysis.withLangId(Tables.documents(s, d), profiles)
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs")),
      Some {
        val hit = profiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
          s"len(list_filter(string_split(lower(text), ' '), t -> t IN (${inList(ws)}))) AS hits_$lang"
        }.mkString(",\n    ")
        """WITH h AS (
          |  SELECT lang,
          |    HITS
          |  FROM documents
          |), p AS (
          |  SELECT lang,
          |    CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
          |         WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
          |         WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
          |         WHEN hits_fr >= hits_zh THEN 'fr'
          |         ELSE 'zh' END AS lang_pred
          |  FROM h
          |)
          |SELECT lang, lang_pred, count(*) AS n_docs FROM p GROUP BY lang, lang_pred"""
          .stripMargin.replace("HITS", hit)
      }),

    // Quality heuristics per source: exact-count ratios, 1e9-quantized
    // before averaging.
    Q("t02_quality",
      (s, d) => {
        val q = TextAnalysis.withQuality(Tables.documents(s, d), Seq("the", "a", "of"))
          .withColumn("punct_q", round(col("q_punct_ratio") * 1e9).cast("long"))
          .withColumn("stop_q", round(col("q_stop_ratio") * 1e9).cast("long"))
        q.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("q_n_tokens").as("total_tokens"),
          (sum("q_len").cast("double") / count(lit(1))).as("avg_len"),
          (sum("punct_q").cast("double") / count(lit(1)) / 1e9).as("avg_punct_ratio"),
          (sum("stop_q").cast("double") / count(lit(1)) / 1e9).as("avg_stop_ratio"))
      },
      Some("""WITH q AS (
        |  SELECT source, length(text) AS len,
        |    len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS n_tokens,
        |    CAST(ROUND(CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END * 1e9) AS BIGINT) AS punct_q,
        |    CAST(ROUND(CASE WHEN len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) > 0 THEN CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the', 'a', 'of'))) AS DOUBLE) / len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) ELSE 0.0 END * 1e9) AS BIGINT) AS stop_q
        |  FROM documents
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(CAST(sum(len) AS BIGINT) AS DOUBLE) / count(*) AS avg_len,
        |  CAST(CAST(sum(punct_q) AS BIGINT) AS DOUBLE) / count(*) / 1e9 AS avg_punct_ratio,
        |  CAST(CAST(sum(stop_q) AS BIGINT) AS DOUBLE) / count(*) / 1e9 AS avg_stop_ratio
        |FROM q GROUP BY source""".stripMargin)),

    // Document fingerprints (order-canonical content signature).
    Q("t03_fingerprint",
      (s, d) => TextAnalysis.withFingerprint(Tables.documents(s, d))
        .groupBy("lang").agg(
          countDistinct("fingerprint").as("n_distinct"),
          min("fingerprint").as("min_fp")),
      Some("""SELECT lang,
        | count(DISTINCT md5(array_to_string(list_sort(list_distinct(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))), ' '))) AS n_distinct,
        | min(md5(array_to_string(list_sort(list_distinct(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))), ' '))) AS min_fp
        |FROM documents GROUP BY lang""".stripMargin)),

    // Token counting (whitespace + subword-piece proxy).
    Q("t04_token_counts",
      (s, d) => TextAnalysis.withTokenCounts(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_subword_pieces").cast("long").as("n_subword_pieces")),
      Some("""SELECT doc_id,
        | len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS n_tokens,
        | len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> len(x) > 0))
        |   + len(list_filter(regexp_split_to_array(text, '[A-Za-z0-9\s]+'), x -> len(x) > 0)) AS n_subword_pieces
        |FROM documents""".stripMargin)),

    // Deterministic stratified sampling (training-data mixing): per-
    // language mix fractions as hash-gate thresholds — a pure map-side
    // filter, no shuffle, no per-stratum window, rerun-stable on any
    // partitioning (TextAnalysis.stratifiedSampleByHash).
    Q("t05_stratified_sample",
      (s, d) => TextAnalysis.stratifiedSampleByHash(Tables.documents(s, d),
          col("lang"), col("doc_id"), mixThresholds, mixDefault)
        .select("doc_id", "lang", "source"),
      Some {
        val cases = mixThresholds.map { case (k, t) => s"WHEN '$k' THEN $t" }.mkString(" ")
        s"""SELECT doc_id, lang, source FROM documents
           |WHERE ((doc_id * ${TextAnalysis.SampleLcgA} + ${TextAnalysis.SampleLcgC}) % ${TextAnalysis.SampleModulus} + ${TextAnalysis.SampleModulus}) % ${TextAnalysis.SampleModulus} <
           |  CASE lang $cases ELSE $mixDefault END""".stripMargin
      }),

    // Vocabulary-coverage quality filter: per-doc OOV count against the
    // corpus top-32 vocab (count desc, token asc — deterministic).
    // Exact integer counts; the vocab is a bounded driver artifact
    // scored as a codegen IN-list (TextAnalysis.vocabCoverage).
    Q("t06_vocab_coverage",
      (s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d), vocabSize = 32)
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_oov").cast("long").as("n_oov")),
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
        |  FROM documents
        |), vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
        |  ORDER BY cnt DESC, tok LIMIT 32
        |), score AS (
        |  SELECT t.doc_id,
        |    count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
        |  coalesce(s.n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN score s ON s.doc_id = d.doc_id""".stripMargin)),

    // Repetition-based quality signals (Gopher/MassiveText rules):
    // most-repeated-2-gram frequency + duplicated-3-gram occurrences
    // per doc — exact integer counts (TextAnalysis.repetitionStats).
    Q("t07_repetition",
      (s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d))
        .select(col("doc_id"),
          col("n_gram2").cast("long").as("n_gram2"),
          col("top_gram2").cast("long").as("top_gram2"),
          col("dup_gram3").cast("long").as("dup_gram3")),
      Some("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tk
        |  FROM documents
        |), g2 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])) AS gram
        |  FROM toks WHERE len(tk) >= 2
        |), c2 AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram
        |), s2 AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_gram2, max(cnt) AS top_gram2 FROM c2 GROUP BY doc_id
        |), g3 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |  FROM toks WHERE len(tk) >= 3
        |), c3 AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY doc_id, gram
        |), s3 AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_gram3 FROM c3 GROUP BY doc_id
        |)
        |SELECT d.doc_id AS doc_id, coalesce(s2.n_gram2, 0) AS n_gram2,
        |  coalesce(s2.top_gram2, 0) AS top_gram2,
        |  coalesce(s3.dup_gram3, 0) AS dup_gram3
        |FROM documents d LEFT JOIN s2 ON s2.doc_id = d.doc_id LEFT JOIN s3 ON s3.doc_id = d.doc_id"""
        .stripMargin)),

    // Sequence packing (GPT concat-and-split): route every doc to its
    // fixed 512-token training sequence(s) via RangeRank's bucketed
    // prefix sum — no single-partition window; assignment is a pure
    // function of the data (SequencePack.packConcat).
    Q("t08_sequence_pack",
      (s, d) => SequencePack.packConcat(
          Tables.documents(s, d)
            .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long")),
          col("n_tokens"), col("doc_id"), seqLen = 512)
        .select("doc_id", "n_tokens", "cum_tokens",
          "seq_first", "seq_last", "seq_offset"),
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens,
        |  (cum_tokens - n_tokens) // 512 AS seq_first,
        |  CASE WHEN n_tokens > 0 THEN (cum_tokens - 1) // 512 ELSE (cum_tokens - n_tokens) // 512 END AS seq_last,
        |  (cum_tokens - n_tokens) % 512 AS seq_offset
        |FROM c""".stripMargin)),

    // End-to-end corpus cleaning gate: the composition a training-data
    // pipeline actually ships — length band, stopword-ratio floor,
    // repetition caps, OOV-ratio ceiling — all as exact integer
    // comparisons (ratio r >= 1/k written as n*k >= total: no FP
    // anywhere in a keep/drop decision).
    Q("t09_quality_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val rep = TextAnalysis.repetitionStats(docs)
          .select(col("doc_id"), col("top_gram2"), col("dup_gram3"))
        TextAnalysis.vocabCoverage(docs, vocabSize = 32)
          .withColumn("n_stop",
            size(filter(Text.tokens(col("text")), t => t.isin("the", "a", "of"))))
          .join(rep, Seq("doc_id"))
          .filter(col("n_tokens").between(20, 90)
            && col("n_stop") * 20 >= col("n_tokens")
            && col("dup_gram3") === 0 && col("top_gram2") <= 2
            && col("n_oov") * 4 <= col("n_tokens"))
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("n_stop").cast("long").as("n_stop"),
            col("top_gram2"), col("dup_gram3"),
            col("n_oov").cast("long").as("n_oov"))
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tk
        |  FROM documents
        |), flat AS (
        |  SELECT doc_id, unnest(tk) AS tok FROM toks
        |), vocab AS (
        |  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM flat GROUP BY tok)
        |  ORDER BY cnt DESC, tok LIMIT 32
        |), cover AS (
        |  SELECT f.doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM flat f LEFT JOIN vocab v ON f.tok = v.tok GROUP BY f.doc_id
        |), g2 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])) AS gram
        |  FROM toks WHERE len(tk) >= 2
        |), c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram),
        |s2 AS (SELECT doc_id, max(cnt) AS top_gram2 FROM c2 GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |  FROM toks WHERE len(tk) >= 3
        |), c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY doc_id, gram),
        |s3 AS (SELECT doc_id, CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_gram3 FROM c3 GROUP BY doc_id),
        |stop AS (
        |  SELECT doc_id, len(list_filter(tk, t -> t IN ('the', 'a', 'of'))) AS n_stop FROM toks
        |), sig AS (
        |  SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source,
        |    coalesce(c.n_tokens, 0) AS n_tokens, coalesce(c.n_oov, 0) AS n_oov,
        |    coalesce(s2.top_gram2, 0) AS top_gram2, coalesce(s3.dup_gram3, 0) AS dup_gram3,
        |    coalesce(st.n_stop, 0) AS n_stop
        |  FROM documents d
        |  LEFT JOIN cover c ON c.doc_id = d.doc_id
        |  LEFT JOIN s2 ON s2.doc_id = d.doc_id
        |  LEFT JOIN s3 ON s3.doc_id = d.doc_id
        |  LEFT JOIN stop st ON st.doc_id = d.doc_id
        |)
        |SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_stop AS BIGINT) AS n_stop, top_gram2, dup_gram3, n_oov
        |FROM sig
        |WHERE n_tokens BETWEEN 20 AND 90
        |  AND n_stop * 20 >= n_tokens
        |  AND dup_gram3 = 0 AND top_gram2 <= 2
        |  AND n_oov * 4 <= n_tokens""".stripMargin)),

    // Deterministic global training shuffle + round-robin shard
    // assignment over the shuffled order (16 shards) — the writer
    // stage before training-data sharding. Global position from
    // RangeRank (bucketed windows + broadcast offsets), never a
    // single-partition row_number; the oracle's global window is the
    // semantic spec, not the plan.
    Q("t10_seeded_shuffle",
      (s, d) => TextAnalysis.seededShuffle(
          Tables.documents(s, d).select("doc_id"), col("doc_id"), nShards = 16)
        .select("doc_id", "shuffle_key", "rnk", "shard", "pos_in_shard"),
      Some {
        import TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}
        s"""WITH keyed AS (
           |  SELECT doc_id,
           |    ((doc_id * $SampleLcgA + $SampleLcgC) % $SampleModulus + $SampleModulus) % $SampleModulus AS shuffle_key
           |  FROM documents
           |), ranked AS (
           |  SELECT doc_id, shuffle_key,
           |    row_number() OVER (ORDER BY shuffle_key, doc_id) AS rnk
           |  FROM keyed
           |)
           |SELECT doc_id, CAST(shuffle_key AS BIGINT) AS shuffle_key,
           |  CAST(rnk AS BIGINT) AS rnk,
           |  CAST((rnk - 1) % 16 AS BIGINT) AS shard,
           |  CAST((rnk - 1) // 16 AS BIGINT) AS pos_in_shard
           |FROM ranked""".stripMargin
      }),

    // Domain-mixing token-budget allocation: water-fill 80% of the
    // corpus's tokens across sources with weights cycling 1..3 —
    // capacity-limited sources saturate (rate 1.0), the rest split the
    // remainder by weight. Every decision is integer arithmetic (the
    // double ratio is an ordering key only), so the oracle is
    // hash-exact; windows run over the per-source aggregate (20 rows),
    // never the corpus.
    Q("t11_domain_mix",
      (s, d) => TextAnalysis.domainMixAllocation(
          Tables.documents(s, d),
          sourceCol = "source",
          weightExpr = expr("cast(substring(source, 4) as bigint) % 3 + 1"),
          budgetNum = 4L, budgetDen = 5L)
        .select("source", "weight", "cap_tokens", "n_docs", "capped",
          "alloc_tokens", "rate"),
      Some(MixAllocSql +
        """SELECT f.source, f.weight, f.cap_tokens, f.n_docs,
          |  CAST(f.capped AS BIGINT) AS capped, f.alloc_tokens, f.rate
          |FROM alloc f""".stripMargin)),

    // Apply the t11 allocation as a deterministic per-source
    // downsample: the tiny allocation table becomes inlined hash-gate
    // thresholds thr = (alloc·M) div cap, so the corpus-side plan is a
    // pure scan + filter — the same LCG gate as t05, rates derived
    // from the water-filling instead of configured.
    Q("t12_mix_apply",
      (s, d) => TextAnalysis.applyMixSample(
          Tables.documents(s, d).select("doc_id", "source"),
          TextAnalysis.domainMixAllocation(
            Tables.documents(s, d),
            sourceCol = "source",
            weightExpr = expr("cast(substring(source, 4) as bigint) % 3 + 1"),
            budgetNum = 4L, budgetDen = 5L)),
      Some {
        import TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}
        MixAllocSql +
        // cap_tokens = 0 (an all-empty-text source) keeps everything in
        // applyMixSample (thr = M); mirror the guard or this divides by
        // zero on exactly the data the engine special-cases
        s"""SELECT d.doc_id, d.source
           |FROM documents d JOIN alloc a USING (source)
           |WHERE ((d.doc_id * $SampleLcgA + $SampleLcgC) % $SampleModulus + $SampleModulus) % $SampleModulus
           |      < CASE WHEN a.cap_tokens = 0 THEN $SampleModulus
           |             ELSE (a.alloc_tokens * $SampleModulus) // a.cap_tokens END""".stripMargin
      }),

    // Tokenizer vocab induction, step one: corpus-wide adjacent
    // char-pair counts (the first BPE merge signal). The pair
    // explosion runs over the distinct-word table (vocab-sized), not
    // the corpus; top-k plans as TakeOrderedAndProject.
    Q("t13_bpe_pairs",
      (s, d) => TextAnalysis.bpePairCounts(Tables.documents(s, d), k = 50),
      Some("""WITH words AS (
        |  SELECT w AS word, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(lower(text),' '), t -> len(t)>0)) AS w
        |    FROM documents)
        |  GROUP BY w
        |), pairs AS (
        |  SELECT p AS pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        |    SELECT freq,
        |      unnest(list_transform(range(1, len(word)), i -> substr(word, CAST(i AS INT), 2))) AS p
        |    FROM words WHERE len(word) >= 2)
        |  GROUP BY p
        |)
        |SELECT pair, pair_count FROM pairs
        |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin)),

    // Bigram-LM quality score (the perplexity-filter shape): top-64
    // vocab, add-one-smoothed conditional probabilities, per-term
    // 1e9 quantization -> order-independent integer doc scores. See
    // TextAnalysis.bigramLmScore for why the mean is arithmetic.
    Q("t14_bigram_lm",
      (s, d) => TextAnalysis.bigramLmScore(Tables.documents(s, d), vocabSize = 64),
      Some("""WITH toked AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
        |  FROM documents
        |), nonempty AS (
        |  SELECT doc_id, list_prepend('^', ws) AS m, len(ws) AS n FROM toked WHERE len(ws) > 0
        |), vocab AS (
        |  SELECT tok FROM (SELECT unnest(ws) AS tok FROM toked) t
        |  GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT 64
        |), idx AS (
        |  SELECT doc_id, m, unnest(range(1, n + 1)) AS i FROM nonempty
        |), bg AS (
        |  SELECT doc_id,
        |    CASE WHEN m[i] = '^' OR m[i] IN (SELECT tok FROM vocab) THEN m[i] ELSE '<oov>' END AS prev,
        |    CASE WHEN m[i+1] IN (SELECT tok FROM vocab) THEN m[i+1] ELSE '<oov>' END AS cur
        |  FROM idx
        |), cb AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
        |), cp AS (
        |  SELECT prev, CAST(sum(c) AS BIGINT) AS cpc FROM cb GROUP BY 1
        |), scored AS (
        |  SELECT g.doc_id,
        |    CAST(ROUND(CAST(b.c + 1 AS DOUBLE) / CAST(p.cpc + 66 AS DOUBLE) * 1e9) AS BIGINT) AS pq
        |  FROM bg g JOIN cb b ON b.prev = g.prev AND b.cur = g.cur
        |            JOIN cp p ON p.prev = g.prev
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(CAST(sum(pq) AS BIGINT) AS BIGINT) AS prob_sum_q9,
        |  CAST(CAST(sum(pq) AS BIGINT) AS DOUBLE) / count(*) / 1e9 AS mean_cond_prob
        |FROM scored GROUP BY doc_id""".stripMargin)),

    // CCNet-style perplexity bucketing: per-LANGUAGE tercile cutoffs
    // over the corpus-LM quality scores, head/middle/tail tags, tail
    // dropped — the CCNet/LLaMA pre-training quality split. Cutoffs
    // are THRESHOLDS (order statistics off a score histogram), not
    // ranks: ties land in one bucket, the corpus is never globally
    // sorted, and the bucket assignment is a broadcast-join codegen
    // projection — see TextAnalysis.perplexityBuckets.
    Q("t19_ppl_buckets",
      (s, d) => TextAnalysis.perplexityBuckets(
        Tables.documents(s, d), vocabSize = 64),
      Some("""WITH toked AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
        |  FROM documents
        |), nonempty AS (
        |  SELECT doc_id, list_prepend('^', ws) AS m, len(ws) AS n FROM toked WHERE len(ws) > 0
        |), vocab AS (
        |  SELECT tok FROM (SELECT unnest(ws) AS tok FROM toked) t
        |  GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT 64
        |), idx AS (
        |  SELECT doc_id, m, unnest(range(1, n + 1)) AS i FROM nonempty
        |), bg AS (
        |  SELECT doc_id,
        |    CASE WHEN m[i] = '^' OR m[i] IN (SELECT tok FROM vocab) THEN m[i] ELSE '<oov>' END AS prev,
        |    CASE WHEN m[i+1] IN (SELECT tok FROM vocab) THEN m[i+1] ELSE '<oov>' END AS cur
        |  FROM idx
        |), cb AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
        |), cp AS (
        |  SELECT prev, CAST(sum(c) AS BIGINT) AS cpc FROM cb GROUP BY 1
        |), pdoc AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(CAST(sum(CAST(ROUND(CAST(b.c + 1 AS DOUBLE) / CAST(p.cpc + 66 AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS BIGINT) AS prob_sum_q9
        |  FROM bg g JOIN cb b ON b.prev = g.prev AND b.cur = g.cur
        |            JOIN cp p ON p.prev = g.prev
        |  GROUP BY g.doc_id
        |), wl AS (
        |  SELECT s.doc_id, d.lang, s.n_bigrams, s.prob_sum_q9,
        |    (s.prob_sum_q9 * 1000) // s.n_bigrams AS qk
        |  FROM pdoc s JOIN documents d ON d.doc_id = s.doc_id
        |), hist AS (
        |  SELECT lang, qk, CAST(count(*) AS BIGINT) AS hc FROM wl GROUP BY 1, 2
        |), cumt AS (
        |  SELECT lang, qk,
        |    CAST(sum(hc) OVER (PARTITION BY lang ORDER BY qk) AS BIGINT) AS cum,
        |    CAST(sum(hc) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist
        |), th AS (
        |  SELECT lang,
        |    min(CASE WHEN cum >= (n + 2) // 3 THEN qk END) AS t1,
        |    min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN qk END) AS t2
        |  FROM cumt GROUP BY lang
        |)
        |SELECT w.doc_id, w.lang, w.n_bigrams, w.prob_sum_q9, w.qk,
        |  CASE WHEN w.qk <= t.t1 THEN 'tail'
        |       WHEN w.qk <= t.t2 THEN 'middle' ELSE 'head' END AS ppl_bucket,
        |  w.qk > t.t1 AS kept
        |FROM wl w JOIN th t ON t.lang = w.lang""".stripMargin)),

    // Exact dedup on a truncated-content key (the corpus has no full
    // duplicates; prefix dedup exercises the operator).
    Q("d01_exact_dedup",
      (s, d) => Dedup.exact(
          Tables.documents(s, d).withColumn("k", substring(col("text"), 1, 40)),
          "k")
        .groupBy("content_hash").agg(
          min("keep_id").as("keep_id"), max("dup_count").as("dup_count"))
        .filter(col("dup_count") >= 1),
      Some("""SELECT md5(substr(text, 1, 40)) AS content_hash,
        | min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin)),

    // MinHash signatures (the LSH building block): per doc the min MD5
    // over tokens for 4 seeds, as one concatenated signature — which is
    // by construction a single band over all 4 seeds, so it runs as the
    // native one-pass graft_bandsigs projection (bands = 1).
    Q("d02_minhash_sig",
      (s, d) => Dedup.bandSignatures(Tables.documents(s, d), 4, 1, "text")
        .select(col("doc_id"), col("band_sig").as("signature")),
      Some("""WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
        |    FROM documents) t
        |), per_seed AS (
        |  SELECT doc_id, seed, min(md5('s' || CAST(seed AS VARCHAR) || '_' || tok)) AS mh
        |  FROM toks, range(4) r(seed) GROUP BY doc_id, seed
        |)
        |SELECT doc_id, md5(string_agg(CAST(seed AS VARCHAR) || ':' || mh, '|' ORDER BY CAST(seed AS VARCHAR) || ':' || mh)) AS signature
        |FROM per_seed GROUP BY doc_id""".stripMargin)),

    // MinHash + LSH banding END-TO-END: candidate pairs from band-bucket
    // collisions, verified with exact token-set Jaccard (the full
    // near-dup pipeline: shingle -> minhash -> band -> bucket-join ->
    // verify). Oracle replicates every stage.
    Q("d05_minhash_lsh_pairs", Seq(BandStore, GramStore),
      (s, d) => {
        scoredPairs(s, d)
          .select(col("doc_a"), col("doc_b"),
            col("inter").cast("long").as("inter"),
            round(col("jaccard"), 9).as("jaccard"))
      },
      Some(s"""WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
        |    FROM documents) t
        |), per_seed AS (
        |  SELECT doc_id, seed, min(md5('s' || CAST(seed AS VARCHAR) || '_' || tok)) AS mh
        |  FROM toks, range(16) r(seed) GROUP BY doc_id, seed
        |), banded AS (
        |  SELECT doc_id, CAST(seed // 8 AS INT) AS band,
        |    md5(string_agg(CAST(seed AS VARCHAR) || ':' || mh, '|'
        |        ORDER BY CAST(seed AS VARCHAR) || ':' || mh)) AS band_sig
        |  FROM per_seed GROUP BY doc_id, CAST(seed // 8 AS INT)
        |), kept AS (
        |  SELECT doc_id, band, band_sig FROM (
        |    SELECT doc_id, band, band_sig,
        |      row_number() OVER (PARTITION BY band, band_sig ORDER BY doc_id) AS rn
        |    FROM banded) t
        |  WHERE rn <= $D05MaxBucket
        |), cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kept a JOIN kept b ON a.band = b.band AND a.band_sig = b.band_sig
        |  WHERE a.doc_id < b.doc_id
        |), sets AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS gs
        |  FROM documents
        |), scored AS (
        |  SELECT c.doc_a, c.doc_b,
        |    len(list_intersect(sa.gs, sb.gs)) AS inter,
        |    len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs)) AS usz
        |  FROM cands c JOIN sets sa ON c.doc_a = sa.doc_id JOIN sets sb ON c.doc_b = sb.doc_id
        |)
        |SELECT doc_a, doc_b, inter,
        |  ROUND(CAST(inter AS DOUBLE) / usz, 9) AS jaccard
        |FROM scored
        |WHERE usz > 0 AND CAST(inter AS DOUBLE) / usz >= 0.5""".stripMargin)),

    // Connected-components dedup clustering: the step after pair
    // generation — LSH pairs verified at Jaccard ≥ 0.9 become edges;
    // each doc gets cluster_id = min doc_id reachable through duplicate
    // pairs (iterative min-label propagation, deterministic fixpoint).
    // Oracle = recursive-CTE transitive closure + min. `keep` marks the
    // canonical representative a dedup pass would retain.
    Q("d07_dedup_clusters", Seq(BandStore, GramStore),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // deliberately the UNCAPPED clique: a capped bucket would drop
        // verified edges and silently split clusters (under-merge) —
        // see minhashCandidatesFromBands' scaladoc; d12's star form is
        // the bounded-by-construction clustering path at scale
        val edges = clusterEdges(s, d,
          Dedup.minhashCandidatesFromRankedBands(bandSigs(s, d)))
        Dedup.connectedComponents(edges, distinctEdges = false)
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
          .withColumn("keep", col("doc_id") === col("cluster_id"))
      },
      Some(ClusterOracleSql)),

    // INCREMENTAL dedup clustering: the src0 slice plays a fresh ingest
    // batch, everything else the existing corpus. The corpus's cluster
    // labels are read back from the PERSISTED artifact (ClusterStore
    // — maintained once per corpus generation, like the band/gram
    // tables), the batch's candidate pairs come from an asymmetric band
    // probe (every pair touching >=1 batch doc — cost scales with the
    // batch, not the corpus), and the verified edges are star-merged
    // into the existing labels (Dedup.ccIncremental) WITHOUT
    // re-clustering the corpus — the maintenance shape a 100 TB dedup
    // runs on every ingest. The oracle is d07's FULL-graph recursive
    // closure verbatim: the incremental fixpoint must be bit-identical
    // to batch CC over all edges, which is exactly the correctness
    // claim that makes incremental maintenance trustworthy.
    Q("d17_incremental_cc", Seq(BandStore, ClusterStore, GramStore),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val banded = bandSigs(s, d)
        val bn = banded.filter(col("source") === "src0")
          .select(col("band"), col("band_sig"), col("doc_id").as("doc_x"))
        val ba = banded
          .select(col("band"), col("band_sig"), col("doc_id").as("doc_y"))
        // canonicalized (doc_a < doc_b) so the scored pair set is
        // exactly scoredPairs restricted to pairs touching the batch
        val cands = bn.join(ba, Seq("band", "band_sig"))
          .filter(col("doc_x") =!= col("doc_y"))
          .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
            greatest(col("doc_x"), col("doc_y")).as("doc_b"))
          .distinct()
        Dedup.ccIncremental(prevClusters(s, d), clusterEdges(s, d, cands))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
          .withColumn("keep", col("doc_id") === col("cluster_id"))
      },
      Some(ClusterOracleSql)),

    // Embedding-cosine near-dup END-TO-END: 2-table × 6-bit sign-LSH
    // candidates (pair survives when ANY table's bucket agrees —
    // banding for recall), exact quantized-cosine verify at τ=0.40.
    // Threshold compares the ROUNDED quantized cosine on both engines,
    // so boundary pairs can't flip between partitionings.
    Q("d06_embedding_neardup",
      (s, d) => ndPairs(s, d),
      Some(s"WITH $d06PairCtes\nSELECT doc_a, doc_b, cosine FROM ndpairs")),

    // Dedup-aware corpus selection: the pipeline-composition step a real
    // training-data run ends with — near-dup pairs (d06's sign-LSH +
    // quantized-cosine verify) → connected components → keep ONE
    // representative per duplicate cluster, chosen by quality (longest
    // text, ties to the lowest doc id). Composes three oracle-checked
    // operators end-to-end; the oracle replays the whole chain (pair
    // CTEs + recursive closure + the same argmax).
    Q("d08_neardup_keep_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cc = Dedup.connectedComponents(ndPairs(s, d).select("doc_a", "doc_b"),
          distinctEdges = false)
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
        val w = Window.partitionBy("cluster_id")
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        cc.join(docs, Seq("doc_id"))
          .withColumn("rnk", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
          .filter(col("rnk") === 1)
          .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
            col("lang").as("rep_lang"), col("n_chars").as("rep_chars"),
            col("n_members"))
      },
      Some(s"""WITH RECURSIVE $d06PairCtes,
        |nd_edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM ndpairs
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM ndpairs
        |), nd_reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM nd_edges
        |  UNION
        |  SELECT e.src, rc.r FROM nd_edges e JOIN nd_reach rc ON rc.node = e.dst
        |), nd_cc AS (
        |  SELECT node AS doc_id, min(r) AS cluster_id FROM nd_reach GROUP BY node
        |), nd_ranked AS (
        |  SELECT c.cluster_id, c.doc_id, d.lang, d.n_chars,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY d.n_chars DESC, c.doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members
        |  FROM nd_cc c JOIN documents d ON d.doc_id = c.doc_id
        |)
        |SELECT cluster_id, doc_id AS rep_doc_id, lang AS rep_lang,
        |  CAST(n_chars AS BIGINT) AS rep_chars,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM nd_ranked WHERE rnk = 1""".stripMargin)),

    // Incremental dedup: the 'src0' slice plays a fresh ingest batch,
    // everything else the existing corpus. Asymmetric band join (new
    // signatures probe the corpus's persisted band table — cost scales
    // with the batch, not the corpus), corpus side bucket-capped (the
    // ingest blow-up guard, round 18 — truncation observable), exact-
    // Jaccard verify at 0.5, then a per-new-doc match count;
    // kept = no verified corpus near-dup.
    Q("d09_incremental_dedup", Seq(BandStore, GramStore),
      (s, d) => {
        val banded = bandSigs(s, d)
        incrementalDedup(s, d,
          Dedup.minhashCandidatesAgainstFromBands(
            banded.filter(col("source") === "src0"),
            Dedup.bandsKeptByRank(banded.filter(col("source") =!= "src0"),
              "corpus_rank", D05MaxBucket,
              metricName = "graft_lsh_ingest_guard")))
      },
      Some(IncrementalDedupSql)),

    // d09's cross-SESSION form: the corpus band table is read back from
    // an ON-DISK parquet artifact (written once per source-data
    // generation — see BandStore) instead of the per-session
    // memoized DataFrame, proving the maintenance story the docs claim:
    // an ingest probes a persisted artifact it did not compute. Same
    // verify chain, same oracle — the artifact path must answer
    // identically to the recompute path (PlanShapeSpec additionally
    // pins the corpus side to a FileScan of the artifact).
    Q("d15_band_artifact", Seq(BandStore, GramStore),
      (s, d) => {
        val corpusBands = s.read.parquet(s"${BandStore.resolve(s, d)}/full")
          .filter(col("source") =!= "src0")
        // The ingest bands ITS slice only — the whole point of the
        // artifact is that batch cost never includes re-banding the
        // corpus (same 16-hash/2-band config as bandSigs).
        val bandedNew = Dedup.bandSignatures(
          Tables.documents(s, d).filter(col("source") === "src0"),
          numHashes = 16, bands = 2, textCol = "text")
        incrementalDedup(s, d,
          Dedup.minhashCandidatesAgainstFromBands(bandedNew,
            Dedup.bandsKeptByRank(corpusBands, "corpus_rank", D05MaxBucket,
              metricName = "graft_lsh_ingest_guard")))
      },
      Some(IncrementalDedupSql)),

    // ROUTED hybrid incremental dedup — the EXECUTOR for the
    // dedup-maintain report's route= recommendation (round 20; through
    // r19 the recommendation was advisory and the capped tiers'
    // under-merge window stayed open until a human acted): corpus
    // buckets overflowing RoutedCap are dispatched through the linear
    // star branch (each colliding batch doc probes the bucket's FULL
    // membership — no truncation, so a batch doc whose only duplicates
    // rank past the cap is still merged), everything else through the
    // capped tier, branches unioned before the shared Jaccard verify.
    // Routing reads the band artifact's precomputed corpus_rank — the
    // decision is a scan filter, the overflow key set a by-contract
    // tiny broadcast, and the routed branch's volume observable
    // (routed_buckets / routed_doc_slots). The oracle replays the
    // routing branch by branch; its hash proves the union recovers the
    // uncapped answer exactly (the by-construction under-merge-window
    // close). Reference analogue: the dispatching filter cascade,
    // /root/reference/src/detection.py:1043-1118.
    Q("d26_routed_dedup", Seq(BandStore, GramStore),
      (s, d) => {
        val banded = bandSigs(s, d)
        incrementalDedup(s, d,
          Dedup.minhashCandidatesAgainstFromBands(
            banded.filter(col("source") === "src0"),
            Dedup.bandsRoutedByRank(banded.filter(col("source") =!= "src0"),
              "corpus_rank", RoutedCap)))
      },
      Some(RoutedDedupSql)),

    // Benchmark decontamination: the 'src19' slice plays the held-out
    // eval set; every other document is flagged when it shares any
    // word 5-gram with it (GPT-3/Gopher-style n-gram overlap hygiene).
    // Eval grams broadcast, train text never shuffles — see
    // TextAnalysis.decontaminate.
    Q("d10_decontamination",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.decontaminate(
          train = docs.filter(col("source") =!= "src19"),
          evalSet = docs.filter(col("source") === "src19"), n = 5)
      },
      Some(DecontaminationOracleSql)),

    // Bloom-prefilter decontamination — d10's 100 TB tier for eval
    // sets past broadcastability: one aggregation builds a Bloom
    // sketch of the eval grams (~10 bits/gram vs 64+ for the exact
    // hash relation), the train-gram stream drops non-members
    // MAP-SIDE (graft_might_contain — a codegen predicate, no
    // shuffle), and only the survivors (~fpp of the stream + true
    // hits) take the exact equi-join verify. False positives cannot
    // survive the verify, so d23 shares d10's oracle verbatim — the
    // sketch decides how much data moves, never what the answer is.
    Q("d23_decontam_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.decontaminateBloom(
          train = docs.filter(col("source") =!= "src19"),
          evalSet = docs.filter(col("source") === "src19"), n = 5,
          estimatedItems = 200000L, numBits = 2000000L)
      },
      Some(DecontaminationOracleSql)),

    // Decontamination provenance: WHICH eval doc each contaminated
    // train doc shares 5-grams with, and how many — the audit
    // companion to d10 (adjudicating borderline hits / tracing a
    // leaked split). Same broadcast-eval shape; output is the
    // contaminated (train, eval) pair table.
    Q("d13_decontamination_spans",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.decontaminationProvenance(
          train = docs.filter(col("source") =!= "src19"),
          evalSet = docs.filter(col("source") === "src19"), n = 5)
      },
      Some(ProvenanceOracleSql)),

    // Bloom-prefilter provenance — d13's 100 TB tier, completing the
    // d23 pattern on the pair-valued shape: sketch over the DISTINCT
    // eval grams, map-side might_contain drop, exact (g, eval_doc_id)
    // join allowed to shuffle instead of broadcasting. False
    // positives die in the exact join, so d24 shares d13's oracle
    // verbatim.
    Q("d24_provenance_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.decontaminationProvenanceBloom(
          train = docs.filter(col("source") =!= "src19"),
          evalSet = docs.filter(col("source") === "src19"), n = 5,
          estimatedItems = 200000L, numBits = 2000000L)
      },
      Some(ProvenanceOracleSql)),

    // Incremental decontamination — the frozen-model serving form of
    // d23 (the d22/t18 posture on the decontamination tier): the eval
    // suite's gram sketch + exact relation persist once per documents
    // generation (`dedup-maintain` owns the build), and the arriving
    // batch is scored under them — map-side sketch drop, exact verify
    // join, no eval re-tokenization, no corpus scan. False positives
    // die in the exact join, so the probe shares d10's oracle
    // scaffolding restricted to the batch slice.
    Q("d25_decontam_incremental", Seq(DecontamStore),
      (s, d) => {
        val docs = Tables.documents(s, d)
        DecontamStore.resolve(s, d)  // build/refresh at batch parallelism
        TextAnalysis.decontaminateUnder(decontamModelOfStore(s, d),
          docs.filter(DocBatchPred && col("source") =!= DecontamEvalSrc),
          n = DecontamN)
      },
      Some(decontamOracleSql(DecontamBatchWhereSql))),

    // Span-level exact dedup (the C4/RefinedWeb line-dedup shape):
    // 10-word spans, global first-occurrence keep, documents
    // reassembled from their surviving spans — see Dedup.spanDedup.
    Q("d11_span_dedup",
      (s, d) => Dedup.spanDedup(Tables.documents(s, d), spanWords = 10),
      Some("""WITH toked AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
        |  FROM documents
        |), spans AS (
        |  SELECT doc_id,
        |    CAST((len(ws) - 1) // 10 + 1 AS BIGINT) AS n_spans,
        |    unnest(range(0, (len(ws) - 1) // 10 + 1)) AS span_idx,
        |    unnest(list_transform(range(0, (len(ws) - 1) // 10 + 1),
        |      i -> array_to_string(ws[CAST(i * 10 + 1 AS BIGINT) : CAST(i * 10 + 10 AS BIGINT)], ' '))) AS span
        |  FROM toked WHERE len(ws) > 0
        |), keep AS (
        |  SELECT doc_id, span_idx, span, n_spans,
        |    row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
        |  FROM spans
        |)
        |SELECT doc_id,
        |  string_agg(span, ' ' ORDER BY span_idx) AS clean_text,
        |  max(n_spans) AS n_spans,
        |  CAST(count(*) AS BIGINT) AS n_kept
        |FROM keep WHERE rn = 1
        |GROUP BY doc_id""".stripMargin)),

    // Star-reduced LSH dedup clustering: the SCALE-SAFE dedup shape.
    // The clique pair generator (d05/d07) is quadratic in duplicate-
    // cluster size — this corpus's largest band bucket holds ~1/3 of
    // all docs, so the clique form emits millions of pairs. Star edges
    // (bucket hub = min doc_id → member) cap candidate volume at
    // |docs| × bands while preserving bucket connectivity, which is
    // all connected-components clustering needs. Hub–member edges are
    // Jaccard-verified at 0.5 before clustering, so a bucket's false
    // collisions don't fuse clusters. Cluster ids can differ from
    // d07's (members verified only against the hub, not each other) —
    // that approximation is the standard web-scale dedup trade; the
    // oracle replays exactly this star chain.
    Q("d12_star_dedup", Seq(BandStore, GramStore),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val stars = Dedup.minhashCandidatesStarFromBands(bandSigs(s, d))
        val edges = Dedup.jaccardPairsFromSets(gramSetsOf(s, d), stars, minJaccard = 0.5)
          .select("doc_a", "doc_b")
        Dedup.connectedComponents(edges, distinctEdges = false)
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
          .withColumn("keep", col("doc_id") === col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE $BandCtes, $GramSetsCte,
        |hubs AS (
        |  SELECT band, band_sig, min(doc_id) AS hub FROM banded GROUP BY band, band_sig
        |), star AS (
        |  SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
        |  FROM banded b JOIN hubs h ON h.band = b.band AND h.band_sig = b.band_sig
        |  WHERE b.doc_id <> h.hub
        |), ver AS MATERIALIZED (
        |  SELECT s.doc_a, s.doc_b
        |  FROM star s JOIN sets sa ON s.doc_a = sa.doc_id JOIN sets sb ON s.doc_b = sb.doc_id
        |  WHERE CASE WHEN len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs)) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
        |      / (len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs))) END >= 0.5
        |), star_e AS MATERIALIZED (
        |  SELECT doc_a AS src, doc_b AS dst FROM ver
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM ver
        |), star_reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM star_e
        |  UNION
        |  SELECT e.src, rc.r FROM star_e e JOIN star_reach rc ON rc.node = e.dst
        |), star_cc AS (
        |  SELECT node AS doc_id, min(r) AS cluster_id FROM star_reach GROUP BY node
        |)
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        |  doc_id = cluster_id AS keep
        |FROM star_cc""".stripMargin)),

    // IVF-flat ANN: nlist=8 sampled centroids, corpus partitioned by
    // argmax-cosine cell, queries probe nprobe=2 cells, exact rerank
    // top-5 inside the probed cells. The cell assignment is the
    // 100 TB partition key (see SimilaritySearch.ivfTopK).
    Q("s04_ivf_topk",
      (s, d) => SimilaritySearch.ivfTopK(Tables.embeddings(s, d),
        queryPred = col("vec_id") < 10, k = 5, nlist = 8, nprobe = 2),
      Some(s"""WITH ${centsSql("")}, cellcos AS (
        |  SELECT v.vec_id, c.cid,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(v.embedding[i + 1] AS DOUBLE) * CAST(v.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nv,
        |    CAST(sum(CAST(ROUND(CAST(c.cv[i + 1] AS DOUBLE) * CAST(c.cv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM embeddings v, cents c, range(64) r(i)
        |  GROUP BY v.vec_id, c.cid
        |), scored AS (
        |  SELECT vec_id, cid,
        |    ROUND(CASE WHEN nv = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS ccos
        |  FROM cellcos
        |), ranked AS (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
        |  FROM scored
        |), cells AS (
        |  SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM ranked WHERE rn <= 2 AND vec_id < 10
        |), cands AS (
        |  SELECT p.query_id, m.vec_id AS corpus_id
        |  FROM probes p JOIN cells m ON p.cell = m.cell
        |  WHERE p.query_id <> m.vec_id
        |), dots AS (
        |  SELECT c.query_id, c.corpus_id,
        |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
        |    CAST(sum(CAST(ROUND(CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM cands c
        |  JOIN embeddings a ON a.vec_id = c.query_id
        |  JOIN embeddings b ON b.vec_id = c.corpus_id, range(64) r(i)
        |  GROUP BY c.query_id, c.corpus_id
        |), cos AS (
        |  SELECT query_id, corpus_id,
        |    ROUND(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS cosine
        |  FROM dots
        |)
        |SELECT query_id, corpus_id, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS BIGINT) AS rank
        |  FROM cos) t
        |WHERE rank <= 5""".stripMargin)),

    // Lloyd k-means (2 iterations, k=8): per-row literal-centroid
    // argmax assignment (no shuffle over the vectors), quantized
    // integer centroid means, empty clusters keep their seed. The
    // oracle replays both iterations including the float narrowing
    // (SimilaritySearch.kmeansAssign).
    Q("s05_kmeans",
      (s, d) => SimilaritySearch.kmeansAssign(
        Tables.embeddings(s, d), k = 8, iters = 2),
      Some(s"""WITH $KmeansCtes
        |SELECT vec_id, cluster, cos_centroid FROM assign""".stripMargin)),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): k=8 k-means
    // clusters bound the pairwise comparison (Σ|cluster|² pairs, the
    // method's scale trick), quantized cosine >= 0.40 connects
    // duplicate groups, keep = the group member with the LOWEST
    // centroid cosine (the paper's keep-the-atypical rule; ties to
    // lowest id). The oracle replays both Lloyd iterations, the
    // within-cluster pair scoring, and the recursive-CTE grouping.
    Q("d19_semdedup",
      (s, d) => Dedup.semDeDup(Tables.embeddings(s, d),
        k = SemK, iters = SemIters, threshold = SemTau),
      Some(SemDeDupOracleSql)),

    // INCREMENTAL SemDeDup — the ingest shape of d19, completing the
    // maintenance loop for the semantic tier (the band tier has
    // d09/d15, simhash d18, clusters d17): vectors with vec_id ≡ 7
    // (mod 10) play the arriving batch; the corpus's FROZEN centroid
    // model and per-vector (cluster, cos_centroid, dup_group) state
    // are read back from the persisted semantic artifact
    // (SemStore — built once per embedding generation); the batch
    // assigns under the frozen centroids, pairs only within its
    // touched clusters, and star-merges its verified edges into the
    // persisted group labels (Dedup.ccIncremental) — no corpus
    // re-cluster, cost scales with the batch. The oracle is d19's
    // FULL-table replay verbatim: because cluster assignment gates
    // candidacy and both paths share the frozen model, the
    // incremental fixpoint must be bit-identical to batch semDeDup
    // over all vectors — the correctness claim that makes semantic
    // maintenance trustworthy.
    Q("d21_semdedup_incremental", Seq(SemStore),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val art = SemStore.resolve(s, d)
        val cents = s.read.parquet(s"$art/cents")
          .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1)
        val batch = emb.filter(SemBatchPred)
        // the batch's touched clusters, collected driver-side (bounded
        // by min(k, batch spread) — the st6 prefix-push pattern), so
        // the pair probe partition-prunes the cluster-partitioned
        // state copy instead of scanning the corpus
        val touched = graft.operators.SimilaritySearch
          .assignWithCentroids(batch, cents)
          .select("cluster").distinct().collect().map(_.getInt(0)).toSeq.sorted
        Dedup.semDeDupIncremental(
          batch = batch,
          corpusState = s.read.parquet(s"$art/state"),
          vectors = emb, cents = cents, threshold = SemTau,
          corpusProbe = prunedSemState(s, d, touched))
      },
      Some(SemDeDupOracleSql)),
  ) ++ Seq(

    // DSIR-style importance resampling (Xie et al. 2023's recipe over
    // this engine's integer primitives): every doc is scored under a
    // TARGET-domain bigram LM (trained on the src1 slice) and under
    // the raw corpus LM; the importance weight is the 16-bit
    // fixed-point ratio of the quantized scores (pure BIGINT
    // arithmetic — no exp/ln, per the engine's FP discipline), and
    // acceptance is the deterministic LCG hash gate at probability
    // ∝ weight/2 (capped at 1). Cost: two LM scoring passes (each a
    // broadcast-LM map-side join) + a per-row gate — no extra shuffle
    // over the corpus.
    Q("d20_dsir_resample",
      (s, d) => {
        import TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}
        val docs = Tables.documents(s, d)
        val target = TextAnalysis.bigramLmScoreAgainst(
            docs.filter(col("source") === "src1"), docs, vocabSize = 64)
          .select(col("doc_id"), col("prob_sum_q9").as("s_t"))
        // the raw leg IS the symmetric corpus LM (train == score makes
        // the back-off join an inner join) — reuse t14's scorer so a
        // smoothing change cannot reach one consumer and not the other
        val raw = TextAnalysis.bigramLmScore(docs, vocabSize = 64)
          .select(col("doc_id"), col("prob_sum_q9").as("s_r"))
        docs.select("doc_id", "source")
          .join(target, Seq("doc_id"))
          .join(raw, Seq("doc_id"))
          // guards, mirrored in the oracle: s_r floors at 1 (a zero raw
          // score would NULL the div and Spark's least() SKIPS nulls —
          // the gate would silently open); s_t clamps at 2^47-1 (a
          // pathological ~1.4e14 quantized sum would overflow s_t·2^16
          // negative in Spark but ERROR in DuckDB — cross-engine split;
          // 2^47-1 keeps the product strictly below Long.MaxValue even
          // when the clamp engages); wt16 itself is bounded at 2·2^16
          // inside the gate — weights ≥2 already saturate acceptance,
          // and an unbounded wt16 would overflow the modulus multiply
          .withColumn("wt16", expr(
            "least(s_t, 140737488355327L) * 65536L div greatest(s_r, 1L)"))
          .withColumn("kept",
            pmod(col("doc_id") * lit(SampleLcgA) + lit(SampleLcgC), lit(SampleModulus))
              < least(lit(SampleModulus),
                expr(s"least(wt16, 131072L) * (${SampleModulus}L div 65536L) div 2L")))
          .select("doc_id", "source", "s_t", "s_r", "wt16", "kept")
      },
      Some(dsirOracleSql(trainT = "source = 'src1'", trainR = "TRUE",
        outWhere = ""))),

    // INCREMENTAL DSIR — the ingest shape of d20, completing the
    // maintenance loop for the importance-resampling tier (bands
    // d09/d15, simhash d18, clusters d17/st7, ANN s09/st8, semantic
    // d21): documents with doc_id ≡ 7 (mod 10) play the arriving
    // batch; BOTH bigram LMs (target = the corpus's src1 slice, raw =
    // the whole corpus) are FROZEN in a persisted artifact built once
    // per documents generation (DsirStore), and the batch is scored
    // under them — pure batch-side work: a bigram explode + two
    // broadcast (V+2)²-bounded lookups + the LCG gate, no corpus scan,
    // no LM retrain. This is the production DSIR deployment shape
    // (Xie et al. 2023 compute importance weights once, then stream
    // the corpus through them). NOT d20 restricted to batch rows — the
    // frozen LMs exclude the batch from their own training by design
    // (scoring data with statistics it contributed is lookahead); the
    // oracle freezes the same slices.
    Q("d22_dsir_incremental", Seq(DsirStore),
      (s, d) => {
        import TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}
        val docs = Tables.documents(s, d)
        val art = DsirStore.resolve(s, d)
        def frozen(sfx: String): TextAnalysis.BigramLm = {
          // vocab is ≤ DsirVocab rows, counts ≤ (V+2)² — the bounded
          // model-artifact collect/broadcast tier (VERDICT anti-pattern
          // sweep category), never corpus-scaled
          val vocab = s.read.parquet(s"$art/vocab_$sfx")
            .collect().map(_.getString(0)).toSeq
          val cb = s.read.parquet(s"$art/cb_$sfx")
          val cp = cb.groupBy("prev").agg(sum("c").cast("long").as("cpc"))
          TextAnalysis.BigramLm(vocab, cb, cp, DsirVocab)
        }
        val batch = docs.filter(DocBatchPred)
        val st = TextAnalysis.bigramLmScoreUnder(frozen("t"), batch)
          .select(col("doc_id"), col("prob_sum_q9").as("s_t"))
        val sr = TextAnalysis.bigramLmScoreUnder(frozen("r"), batch)
          .select(col("doc_id"), col("prob_sum_q9").as("s_r"))
        batch.select("doc_id", "source")
          .join(st, Seq("doc_id"))
          .join(sr, Seq("doc_id"))
          // identical guard arithmetic to d20 (see the comment there)
          .withColumn("wt16", expr(
            "least(s_t, 140737488355327L) * 65536L div greatest(s_r, 1L)"))
          .withColumn("kept",
            pmod(col("doc_id") * lit(SampleLcgA) + lit(SampleLcgC), lit(SampleModulus))
              < least(lit(SampleModulus),
                expr(s"least(wt16, 131072L) * (${SampleModulus}L div 65536L) div 2L")))
          .select("doc_id", "source", "s_t", "s_r", "wt16", "kept")
      },
      Some(dsirOracleSql(
        trainT = s"source = 'src1' AND $DocBatchPredSqlNot",
        trainR = DocBatchPredSqlNot,
        outWhere = s"WHERE ((d.doc_id % 10) + 10) % 10 = 7"))),


    // LSH ANN end-to-end: bucket join + quantized-cosine rerank top-3.
    Q("s03_lsh_topk",
      (s, d) => {
        import graft.functions.Vectors
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, d)
        val sig = graft.operators.SimilaritySearch.lshSignature(emb, numPlanes = 6)
        val q = sig.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
          col("lsh_bucket"))
        val c = sig.select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"),
          col("lsh_bucket"))
        val pairs = q.join(c, Seq("lsh_bucket"))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("cosine", round(Vectors.cosineQNative(col("q_vec"), col("c_vec")), 9))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("corpus_id").asc)
        pairs.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("query_id", "corpus_id", "cosine", "rank")
      },
      Some {
        val hd = (k: Int) => s"(CASE WHEN ascii(substr(h, $k, 1)) <= 57 THEN ascii(substr(h, $k, 1)) - 48 ELSE ascii(substr(h, $k, 1)) - 87 END)"
        s"""WITH coefs AS (
          |  SELECT p, i,
          |    CAST(${hd(1)} * 4096 + ${hd(2)} * 256 + ${hd(3)} * 16 + ${hd(4)} AS DOUBLE) / 65536.0 - 0.5 AS coef
          |  FROM (SELECT p, i, md5('p' || CAST(p AS VARCHAR) || '_d' || CAST(i AS VARCHAR)) AS h
          |        FROM range(6) a(p), range(64) b(i)) t
          |), sigs AS (
          |  SELECT e.vec_id, CAST(sum(CASE WHEN dq > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS lsh_bucket
          |  FROM (
          |    SELECT e.vec_id, c.p,
          |      CAST(sum(CAST(ROUND(CAST(e.embedding[c.i + 1] AS DOUBLE) * c.coef * 1e12) AS BIGINT)) AS BIGINT) AS dq
          |    FROM embeddings e, coefs c GROUP BY e.vec_id, c.p
          |  ) e GROUP BY e.vec_id
          |), pairs AS (
          |  SELECT qa.vec_id AS query_id, qb.vec_id AS corpus_id
          |  FROM sigs qa JOIN sigs qb ON qa.lsh_bucket = qb.lsh_bucket
          |  WHERE qa.vec_id <> qb.vec_id
          |), dots AS (
          |  SELECT p.query_id, p.corpus_id,
          |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
          |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
          |    CAST(sum(CAST(ROUND(CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
          |  FROM pairs p
          |  JOIN embeddings a ON a.vec_id = p.query_id
          |  JOIN embeddings b ON b.vec_id = p.corpus_id, range(64) r(i)
          |  GROUP BY p.query_id, p.corpus_id
          |), cos AS (
          |  SELECT query_id, corpus_id,
          |    ROUND(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
          |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS cosine
          |  FROM dots
          |)
          |SELECT query_id, corpus_id, cosine, rank FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
          |  FROM cos) t
          |WHERE rank <= 3""".stripMargin
      }),

    // ANN quality gauge: recall@3 of the single-table LSH top-k (s03's
    // 6-plane config) against the exact brute-force top-3, per query.
    // The standard offline monitor a production ANN deployment runs
    // continuously — exact side computed only for a bounded QUERY
    // SAMPLE (vec_id < 50) broadcast against the corpus, so the
    // "ground truth" cost scales with the sample, never corpus²; the
    // LSH side is the bucket equi-join serving shape being measured.
    // Quantized cosine keeps both engines' rank boundaries identical.
    // NOTE the measured value is honest, not a bug: one 6-plane table
    // over this near-uniform synthetic corpus yields mean recall@3
    // ≈ 0.07 at sf0.1 — precisely the signal that tells an operator to
    // move to multi-table banding (d06's config) or IVF (s04). The
    // capability under test is the measurement, not a recall target.
    Q("s06_ann_recall",
      (s, d) => {
        import graft.functions.Vectors
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, d)
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("corpus_id").asc)
        val q = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        val c = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"))
        val exact = c.crossJoin(broadcast(q))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("cosine", round(Vectors.cosineQNative(col("q_vec"), col("c_vec")), 9))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "corpus_id")
        val sig = SimilaritySearch.lshSignature(emb, numPlanes = 6)
        val lq = sig.filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"), col("lsh_bucket"))
        val lc = sig.select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"), col("lsh_bucket"))
        val lsh = lq.join(lc, Seq("lsh_bucket"))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("cosine", round(Vectors.cosineQNative(col("q_vec"), col("c_vec")), 9))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "corpus_id")
        val hits = exact.join(lsh, Seq("query_id", "corpus_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
        val nLsh = lsh.groupBy("query_id").agg(count(lit(1)).as("n_lsh"))
        q.select("query_id")
          .join(exact.groupBy("query_id").agg(count(lit(1)).as("n_exact")),
            Seq("query_id"), "left")
          .join(nLsh, Seq("query_id"), "left")
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)).cast("double") / 3.0, 9).as("recall"))
      },
      Some {
        val hd = (k: Int) => s"(CASE WHEN ascii(substr(h, $k, 1)) <= 57 THEN ascii(substr(h, $k, 1)) - 48 ELSE ascii(substr(h, $k, 1)) - 87 END)"
        s"""WITH coefs AS (
          |  SELECT p, i,
          |    CAST(${hd(1)} * 4096 + ${hd(2)} * 256 + ${hd(3)} * 16 + ${hd(4)} AS DOUBLE) / 65536.0 - 0.5 AS coef
          |  FROM (SELECT p, i, md5('p' || CAST(p AS VARCHAR) || '_d' || CAST(i AS VARCHAR)) AS h
          |        FROM range(6) a(p), range(64) b(i)) t
          |), sigs AS (
          |  SELECT e.vec_id, CAST(sum(CASE WHEN dq > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS lsh_bucket
          |  FROM (
          |    SELECT e.vec_id, c.p,
          |      CAST(sum(CAST(ROUND(CAST(e.embedding[c.i + 1] AS DOUBLE) * c.coef * 1e12) AS BIGINT)) AS BIGINT) AS dq
          |    FROM embeddings e, coefs c GROUP BY e.vec_id, c.p
          |  ) e GROUP BY e.vec_id
          |), exdots AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          |    CAST(sum(CAST(ROUND(CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
          |    CAST(sum(CAST(ROUND(CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
          |    CAST(sum(CAST(ROUND(CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
          |  FROM embeddings q, embeddings c, range(64) r(i)
          |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
          |  GROUP BY q.vec_id, c.vec_id
          |), ex AS (
          |  SELECT query_id, corpus_id FROM (
          |    SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id ORDER BY
          |      ROUND(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
          |        ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) DESC,
          |      corpus_id ASC) AS rank
          |    FROM exdots) t WHERE rank <= 3
          |), ldots AS (
          |  SELECT qa.vec_id AS query_id, qb.vec_id AS corpus_id,
          |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
          |    CAST(sum(CAST(ROUND(CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
          |    CAST(sum(CAST(ROUND(CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
          |  FROM sigs qa JOIN sigs qb ON qa.lsh_bucket = qb.lsh_bucket
          |  JOIN embeddings a ON a.vec_id = qa.vec_id
          |  JOIN embeddings b ON b.vec_id = qb.vec_id, range(64) r(i)
          |  WHERE qa.vec_id < 50 AND qa.vec_id <> qb.vec_id
          |  GROUP BY qa.vec_id, qb.vec_id
          |), lt AS (
          |  SELECT query_id, corpus_id FROM (
          |    SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id ORDER BY
          |      ROUND(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
          |        ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) DESC,
          |      corpus_id ASC) AS rank
          |    FROM ldots) t WHERE rank <= 3
          |), hit AS (
          |  SELECT ex.query_id, count(*) AS n_hit FROM ex
          |  JOIN lt ON lt.query_id = ex.query_id AND lt.corpus_id = ex.corpus_id
          |  GROUP BY ex.query_id
          |), exn AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id
          |), ltn AS (SELECT query_id, count(*) AS n_lsh FROM lt GROUP BY query_id
          |)
          |SELECT q.vec_id AS query_id,
          |  CAST(coalesce(exn.n_exact, 0) AS BIGINT) AS n_exact,
          |  CAST(coalesce(ltn.n_lsh, 0) AS BIGINT) AS n_lsh,
          |  CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit,
          |  ROUND(CAST(coalesce(hit.n_hit, 0) AS DOUBLE) / 3.0, 9) AS recall
          |FROM embeddings q
          |LEFT JOIN exn ON exn.query_id = q.vec_id
          |LEFT JOIN ltn ON ltn.query_id = q.vec_id
          |LEFT JOIN hit ON hit.query_id = q.vec_id
          |WHERE q.vec_id < 50""".stripMargin
      }),

    // int8 embedding quantization QA: per-vector max-abs scale and the
    // integer-quantized reconstruction error — the audit run before
    // shrinking a float32 embedding store 4x to int8. Error terms are
    // quantized per dimension (round(err^2 * 1e12) summed as BIGINT)
    // so the per-vector sum is exact and partition-independent.
    Q("s07_embedding_quantize",
      (s, d) => SimilaritySearch.quantizeInt8Stats(Tables.embeddings(s, d)),
      Some("""WITH base AS (
        |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
        |    embedding
        |  FROM embeddings
        |), errs AS (
        |  SELECT vec_id,
        |    CAST(sum(CAST(ROUND(
        |      (CAST(x AS DOUBLE) - ROUND(CAST(x AS DOUBLE) / scale) * scale) *
        |      (CAST(x AS DOUBLE) - ROUND(CAST(x AS DOUBLE) / scale) * scale) * 1e12)
        |      AS BIGINT)) AS BIGINT) AS err_q
        |  FROM (SELECT vec_id, scale, unnest(embedding) AS x FROM base WHERE max_abs <> 0)
        |  GROUP BY vec_id
        |)
        |SELECT b.vec_id, b.n_dims, ROUND(b.max_abs, 9) AS max_abs,
        |  ROUND(b.scale, 9) AS scale,
        |  CAST(coalesce(e.err_q, 0) AS BIGINT) AS err_q
        |FROM base b LEFT JOIN errs e ON e.vec_id = b.vec_id""".stripMargin)),

    // IVF+PQ ANN — the 100 TB serving tier: coarse cell prune (s04's
    // nlist=8/nprobe=2 shape) → product-quantization asymmetric
    // distance (m=8 subspaces × 16-entry codebooks, integer LUT per
    // query, m array lookups per candidate) → exact quantized-cosine
    // rerank of the top-20 ADC tail, answer = top-5. Codebooks are
    // deterministic samples (first 16 vectors' subvector slices) so
    // the oracle replays encode/LUT/ADC/rerank bit-identically.
    Q("s08_ivf_pq",
      (s, d) => SimilaritySearch.ivfPqTopK(Tables.embeddings(s, d),
        queryPred = col("vec_id") < 10, k = 5, nlist = 8, nprobe = 2,
        m = 8, codebookSize = 16, refine = 20),
      Some(IvfPqOracleSql)),

    // s08 under the TRAINED model (train="lloyd", round 17) — the
    // FAISS-faithful tier as a PERMANENT driver-gated catalog row,
    // not only a forced-mode parity gate: coarse centroids are the
    // hash seeds refined by the s05 Lloyd loop, and BOTH codebook
    // tensors are subspace-k-means-trained (pqLloyd — assignment by
    // the encode's own quantized-L2 argmin, 1e6-integer means, REAL
    // narrowing per pass). The oracle replays every training pass
    // (lloydCentsSql + pqCblSql with mode forced), then shares s08's
    // entire downstream text — encode, LUTs, ADC, refine, rerank.
    // Serving plan identical to s08; only the literal model differs.
    Q("s13_ivf_pq_lloyd",
      (s, d) => SimilaritySearch.ivfPqTopK(Tables.embeddings(s, d),
        queryPred = col("vec_id") < 10, k = 5, nlist = 8, nprobe = 2,
        m = 8, codebookSize = 16, refine = 20, train = "lloyd",
        trainSample = AnnTrainSample),
      Some(ivfPqOracleSql("", mode = "lloyd", trainSample = AnnTrainSample))),

    // s08's STORED-INDEX form — the ANN analogue of d15: the PQ code
    // table is read back from the cell-partitioned on-disk artifact
    // (AnnStore, maintained once per embedding-store generation),
    // and the probe's nprobe cells — collected driver-side from the
    // tiny query set — become PartitionFilters on the index FileScan,
    // so the probe reads nprobe/nlist of the index and none of the
    // rest (PlanShapeSpec pins the pruned scan). Same oracle as s08:
    // the code table is a deterministic projection, so the stored and
    // inline forms must answer row-identically.
    Q("s09_ivf_pq_store", Seq(AnnStore),
      // through the ONE serving entry point (servedPqProbe) with the
      // catalog's explicit nprobe pin — the oracle hash must never
      // depend on whether ann-maintain stored a sidecar suggestion;
      // the None path (sidecar-resolved) is the CLI/serving default
      (s, d) => servedPqProbe(s, d,
        Tables.embeddings(s, d).filter(col("vec_id") < 10), Some(2)),
      Some(IvfPqOracleSql)),

    // RESIDUAL IVF+PQ — the FAISS-faithful encode the s08 design note
    // priced in: corpus vectors PQ-code their RESIDUAL to the assigned
    // coarse centroid against a shared residual codebook (residuals of
    // the first 16 vectors to their own cells), and the query side
    // uses the inner-product decomposition adc = dotq(q, c_cell) +
    // Σ LUT (raw-query LUTs, per-probed-cell constant). Residuals
    // center near zero, so the same m=8×16-entry code budget resolves
    // within-cell structure instead of cell offsets — tighter ADC at
    // equal bytes (recall QA in AnnSpec: the residual form's ADC tail
    // is never worse than s08's at equal refine on the catalog data).
    // Same cell prune / refine / exact-rerank plan shape as s08.
    Q("s10_ivf_rpq",
      (s, d) => SimilaritySearch.ivfRPqTopK(Tables.embeddings(s, d),
        queryPred = col("vec_id") < 10, k = 5, nlist = AnnNlist, nprobe = 2,
        m = AnnM, codebookSize = AnnCb, refine = 20),
      Some(IvfRPqOracleSql)),

    // s10's STORED-INDEX form — closing the gap the round-15 verdict
    // priced (s10 inline-encoded the corpus every run, exactly the
    // cost s09 removed for raw PQ): the RESIDUAL codes ride the same
    // cell-partitioned dual-tier artifact as s09's raw codes
    // (AnnStore `rcodes`), the probe's nprobe cells prune the
    // FileScan (PlanShapeSpec pins the PartitionFilters), and the
    // probe pays LUTs + cell constants + ADC + rerank — never the
    // encode. Same oracle as s10: the residual code table is a
    // deterministic projection, so stored and inline forms must
    // answer row-identically.
    Q("s11_ivf_rpq_store", Seq(AnnStore),
      // servedRPqProbe with the explicit catalog pin (see s09's note)
      (s, d) => servedRPqProbe(s, d,
        Tables.embeddings(s, d).filter(col("vec_id") < 10), Some(2)),
      Some(IvfRPqOracleSql)),

    // s10 under the TRAINED model — s13's residual sibling, and the
    // permanent driver gate the r17 verdict asked for: the engine's
    // HIGHEST-RECALL tier (residual coding over Lloyd-trained coarse
    // centroids AND a subspace-k-means-trained residual codebook,
    // pqLloyd with exact-double codewords) at the CATALOG budget
    // (m=8, cb=16), under the bounded trainSample — 256 < corpus rows
    // at both driver SFs, so the sample-restricted training scans
    // genuinely bind every round. The oracle replays every training
    // pass (lloydCentsSql + rcbSql with mode forced) and shares s10's
    // entire downstream text — residualize, encode, raw-query LUTs,
    // per-cell constants, ADC, refine, rerank. Serving plan identical
    // to s10; only the literal model differs.
    Q("s14_ivf_rpq_lloyd",
      (s, d) => SimilaritySearch.ivfRPqTopK(Tables.embeddings(s, d),
        queryPred = col("vec_id") < 10, k = 5, nlist = AnnNlist, nprobe = 2,
        m = AnnM, codebookSize = AnnCb, refine = 20, train = "lloyd",
        trainSample = AnnTrainSample),
      Some(ivfRPqOracleSql(mode = "lloyd", trainSample = AnnTrainSample))),

    // ANN DELTA INGEST — the serving shape that makes the stored index
    // APPEND-ONLY between maintenance generations: the corpus index
    // (AnnCorpusStore) was built before the batch existed, under a
    // model whose seeds never saw the batch; the arriving vectors are
    // encoded under that frozen model (a batch-sized map-side
    // projection — never a retrain, never an index rebuild) and their
    // codes union into the probe alongside the pruned index scan. New
    // vectors become searchable the moment their codes land — the
    // FAISS main+delta deployment shape. Assignment and encode are
    // per-row functions of the frozen model, so the probe must answer
    // exactly the full-table plan trained on the corpus slice — the
    // oracle is the s08 replay with both seed draws restricted to the
    // corpus.
    Q("s12_ann_delta", Seq(AnnCorpusStore),
      // servedDeltaProbe with the explicit catalog pin (see s09's note)
      (s, d) => servedDeltaProbe(s, d,
        Tables.embeddings(s, d).filter(col("vec_id") < 10), Some(2)),
      Some(ivfPqOracleSql(VecCorpusWhereSql))),

    // PII scrubbing (C4-style cleanup). The synthetic corpus carries no
    // PII, so the query INJECTS deterministic emails/IPs/phones from
    // doc_id via SHARED expression text (both engines run the same
    // concat), then counts and redacts with TextAnalysis.scrubPii —
    // conservative patterns valid in both Java regex and RE2. Docs
    // divisible by 3 get a second email so counts are non-constant.
    Q("t15_pii_scrub",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val injected = docs.select(col("doc_id"), expr(
          """concat(text, ' contact user', CAST(doc_id AS STRING),
            |'@mail.example.com',
            |CASE WHEN doc_id % 3 = 0
            |  THEN concat(' cc admin', CAST(doc_id AS STRING), '@example.org') ELSE '' END,
            |' from 10.', CAST(doc_id % 256 AS STRING), '.0.', CAST(doc_id % 100 AS STRING),
            |' call +1555', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"""
            .stripMargin.replaceAll("\n", " ")).as("text"))
        TextAnalysis.scrubPii(injected)
          .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
            md5(col("clean_text")).as("clean_hash"))
      },
      Some(s"""WITH injected AS (
        |  SELECT doc_id,
        |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |      '@mail.example.com',
        |      CASE WHEN doc_id % 3 = 0
        |        THEN concat(' cc admin', CAST(doc_id AS VARCHAR), '@example.org') ELSE '' END,
        |      ' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.', CAST(doc_id % 100 AS VARCHAR),
        |      ' call +1555', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
        |      '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
        |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g')) AS clean_hash
        |FROM injected""".stripMargin)),

    // Supervised hashed-feature classifier (the fastText-shaped
    // CCNet-style filtering stage): per-lang multinomial unigram
    // counts over md5-prefix feature buckets, trained on the LCG-gated
    // half of the corpus, scoring the held-out half. Model bounded at
    // labels × 16^4 counts regardless of corpus size; one 1:1
    // broadcast join + one per-doc aggregation; quantized-integer
    // scores (the d20 determinism pattern); ties → smallest label.
    // On the synthetic catalog corpus every lang draws from ONE shared
    // vocabulary, so the argmax correctly collapses to the
    // token-mass-dominant class — the oracle checks the decision MATH
    // (counts, smoothing, quantization, tie order); discrimination on
    // separable data is pinned in HashClassifierSpec (the s10-recall
    // lesson: class separation is a property of the data, not the
    // operator).
    Q("t17_hash_classifier",
      (s, d) => TextAnalysis.hashClassifier(Tables.documents(s, d)),
      Some(hashClfOracleSql(
        trainWhere = s"gate < $ClfGateHalf",
        scoreWhere = s"gate >= $ClfGateHalf"))),

    // Incremental classifier serving — the maintenance tier of t17
    // (the pattern d22 set for DSIR): the hashed-count model is FROZEN
    // in a persisted artifact built once per documents generation from
    // the train half MINUS the arriving batch (scoring data with
    // statistics it contributed is lookahead — the d22 stance), and
    // each batch (doc_id ≡ 7 mod 10) is scored under it: tokenize +
    // one 1:1 broadcast join + one per-doc aggregation, no corpus
    // scan, no retrain. This is the CCNet/fastText deployment shape —
    // the classifier is trained once, then the corpus streams through
    // it.
    Q("t18_classifier_incremental", Seq(ClfStore),
      (s, d) => {
        val docs = Tables.documents(s, d)
        ClfStore.resolve(s, d)  // build/refresh at batch parallelism
        TextAnalysis.hashClassifierScoreUnder(clfModelOfStore(s, d),
          docs.filter(DocBatchPred))
      },
      Some(hashClfOracleSql(
        trainWhere = s"gate < $ClfGateHalf AND $DocBatchPredSqlNot",
        scoreWhere = "((doc_id % 10) + 10) % 10 = 7"))),

    // TF-IDF keyword extraction: top-3 terms per document over the
    // 100-term highest-df vocabulary. idf is quantized to an integer
    // (round(ln(N/df)*1e9)) so scores are exact integer products and
    // the per-doc ranking is engine-independent. The vocab (term, df,
    // idf_q) is derived on ONE engine only: the query's collected
    // driver pass memoizes it, and the lazily-built oracle interpolates
    // the exact integers as a VALUES list — Verify dumps oracle SQL
    // after running every query, so the dumped oracle always carries
    // the JVM-derived constants and DuckDB never calls its own ln
    // (two libms differ in the last ulp, and a .5-boundary landing
    // would flip idf_q). The corpus-side plan is two explodes (df pass
    // bounded, tf pass broadcast-joined against the tiny vocab) with a
    // doc-partitioned ranking window.
    Q.lazyOracle("t16_tfidf_terms",
      (s, d) => {
        val vocab = TextAnalysis.tfidfVocab(Tables.documents(s, d), vocabSize = 100)
        t16Vocab((s.sparkContext, d)) = vocab
        TextAnalysis.tfidfScore(Tables.documents(s, d), vocab, k = 3)
      })(t16OracleSql),

    // SimHash 16-bit fingerprints from per-token hash votes.
    Q("d03_simhash",
      (s, d) => Dedup.simhash(Tables.documents(s, d)),
      Some(s"""WITH $SimhashCtes
        |SELECT doc_id, simhash FROM sh""".stripMargin)),

    // SimHash hamming-ball tier: doc pairs whose fingerprints differ in
    // 1..3 bits. The oracle replays the SAME masked-chunk pigeonhole
    // equi-join over distinct fingerprints (4 disjoint 4-bit chunks —
    // any pair within hamming 3 agrees exactly on >= 1 chunk), then the
    // exact bit_count verify, then the answer-sized doc expansion.
    Q("d14_simhash_ball",
      (s, d) => Dedup.simhashBallPairs(Tables.documents(s, d), maxHamming = 3),
      Some(s"""WITH $SimhashCtes,
        |fp AS (SELECT DISTINCT simhash FROM sh),
        |chunks AS (
        |  SELECT simhash, c.c AS chunk, (simhash >> (c.c * 4)) & 15 AS ckey
        |  FROM fp, range(4) c(c)
        |), fppairs AS (
        |  SELECT DISTINCT a.simhash AS fp_a, b.simhash AS fp_b
        |  FROM chunks a JOIN chunks b
        |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.simhash < b.simhash
        |), ball AS (
        |  SELECT fp_a, fp_b, bit_count(xor(fp_a, fp_b)) AS hamming
        |  FROM fppairs WHERE bit_count(xor(fp_a, fp_b)) <= 3
        |)
        |SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |  CAST(ball.hamming AS BIGINT) AS hamming
        |FROM ball
        |JOIN sh sa ON sa.simhash = ball.fp_a
        |JOIN sh sb ON sb.simhash = ball.fp_b""".stripMargin)),

    // 64-bit simhash hamming-ball tier — the PRODUCTION fingerprint
    // width (the 16-bit d03/d14 tier saturates its 2^16 space at
    // corpus scale; 64-bit chunk buckets stay sparse at any size).
    // Same masked-chunk pigeonhole, now 4 disjoint 16-bit chunks; the
    // oracle replays the full chain including the two's-complement
    // sign-bit assembly, over signed BIGINTs on both engines.
    Q("d16_simhash64_ball",
      (s, d) => Dedup.simhash64BallPairs(Tables.documents(s, d), maxHamming = 3),
      Some(s"""WITH $Simhash64Ctes,
        |fp64 AS (SELECT DISTINCT simhash64 FROM sh64),
        |chunks64 AS (
        |  SELECT simhash64, c.c AS chunk, (simhash64 >> CAST(c.c * 16 AS INT)) & 65535 AS ckey
        |  FROM fp64, range(4) c(c)
        |), fppairs64 AS (
        |  SELECT DISTINCT a.simhash64 AS fp_a, b.simhash64 AS fp_b
        |  FROM chunks64 a JOIN chunks64 b
        |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.simhash64 < b.simhash64
        |), ball64 AS (
        |  SELECT fp_a, fp_b, bit_count(xor(fp_a, fp_b)) AS hamming
        |  FROM fppairs64 WHERE bit_count(xor(fp_a, fp_b)) <= 3
        |)
        |SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |  CAST(ball64.hamming AS BIGINT) AS hamming
        |FROM ball64
        |JOIN sh64 sa ON sa.simhash64 = ball64.fp_a
        |JOIN sh64 sb ON sb.simhash64 = ball64.fp_b""".stripMargin)),

    // d16's INCREMENTAL form — the production daily-ingest shape at
    // 64-bit width: the 'src0' slice plays a fresh batch whose
    // fingerprints probe the corpus's PERSISTED simhash artifact
    // (SimhashStore — computed once per data generation, like the
    // band store), asymmetric chunk pigeonhole, hamming <= 3 WITH
    // distance 0 included (an ingest must see exact fingerprint hits).
    // Cost scales with the batch's distinct fingerprints, never the
    // corpus pair space; PlanShapeSpec pins the equi-keyed join and
    // the artifact FileScan.
    Q("d18_simhash64_incremental", Seq(SimhashStore),
      (s, d) => {
        val fps = simhashFps(s, d)
        Dedup.simhash64BallPairsAgainst(
          fps.filter(col("source") === "src0"),
          fps.filter(col("source") =!= "src0"), maxHamming = 3)
      },
      Some(s"""WITH $Simhash64Ctes,
        |shn AS (SELECT s.doc_id, s.simhash64 FROM sh64 s
        |  JOIN documents d ON d.doc_id = s.doc_id AND d.source = 'src0'),
        |shc AS (SELECT s.doc_id, s.simhash64 FROM sh64 s
        |  JOIN documents d ON d.doc_id = s.doc_id AND d.source <> 'src0'),
        |fpn AS (SELECT DISTINCT simhash64 FROM shn),
        |fpc AS (SELECT DISTINCT simhash64 FROM shc),
        |cn AS (
        |  SELECT simhash64, c.c AS chunk, (simhash64 >> CAST(c.c * 16 AS INT)) & 65535 AS ckey
        |  FROM fpn, range(4) c(c)
        |), cc AS (
        |  SELECT simhash64, c.c AS chunk, (simhash64 >> CAST(c.c * 16 AS INT)) & 65535 AS ckey
        |  FROM fpc, range(4) c(c)
        |), fpp AS (
        |  SELECT DISTINCT a.simhash64 AS fp_a, b.simhash64 AS fp_b
        |  FROM cn a JOIN cc b ON a.chunk = b.chunk AND a.ckey = b.ckey
        |), ball AS (
        |  SELECT fp_a, fp_b, bit_count(xor(fp_a, fp_b)) AS hamming
        |  FROM fpp WHERE bit_count(xor(fp_a, fp_b)) <= 3
        |)
        |SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |  CAST(ball.hamming AS BIGINT) AS hamming
        |FROM ball
        |JOIN shn sa ON sa.simhash64 = ball.fp_a
        |JOIN shc sb ON sb.simhash64 = ball.fp_b""".stripMargin)),

    // N-gram Jaccard similarity for a deterministic candidate pair set
    // (adjacent doc ids) — the verify stage of near-dup detection.
    Q("d04_ngram_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cands = docs.select(col("doc_id").as("doc_a"))
          .withColumn("doc_b", col("doc_a") + 1)
          .filter(col("doc_a") % 2 === 0)
        Dedup.jaccardPairs(docs, cands, n = 3)
          .select(col("doc_a"), col("doc_b"),
            col("inter").cast("long").as("inter"),
            col("unionSz").cast("long").as("unionsz"),
            col("jaccard"))
      },
      Some("""WITH grams AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
        |        FROM documents) t
        |  WHERE len(toks) >= 3
        |), cands AS (
        |  SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents WHERE doc_id % 2 = 0
        |)
        |SELECT c.doc_a, c.doc_b,
        |  len(list_intersect(a.gs, b.gs)) AS inter,
        |  len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS unionsz,
        |  CASE WHEN len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) END AS jaccard
        |FROM cands c JOIN grams a ON c.doc_a = a.doc_id JOIN grams b ON c.doc_b = b.doc_id""".stripMargin)),

    // Brute-force cosine top-k (quantized — bit-identical across
    // engines and partitionings; see functions.Vectors.cosineQ).
    Q("s01_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 20)
        import graft.functions.Vectors
        import org.apache.spark.sql.expressions.Window
        val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        val c = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"))
        val pairs = c.crossJoin(broadcast(q))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("cosine", round(Vectors.cosineQNative(col("q_vec"), col("c_vec")), 9))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("corpus_id").asc)
        pairs.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select("query_id", "corpus_id", "cosine", "rank")
      },
      Some("""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
        |), dots AS (
        |  SELECT q.query_id, c.vec_id AS corpus_id,
        |    CAST(sum(CAST(ROUND(CAST(q.qv[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(ROUND(CAST(q.qv[i + 1] AS DOUBLE) * CAST(q.qv[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nq,
        |    CAST(sum(CAST(ROUND(CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nc
        |  FROM q, embeddings c, range(64) r(i)
        |  WHERE q.query_id <> c.vec_id
        |  GROUP BY q.query_id, c.vec_id
        |), cos AS (
        |  SELECT query_id, corpus_id,
        |    ROUND(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |      ELSE CAST(dq AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END, 9) AS cosine
        |  FROM dots
        |)
        |SELECT query_id, corpus_id, cosine, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
        |  FROM cos) t
        |WHERE rank <= 5""".stripMargin)),

    // LSH bucket assignment (the ANN scale path): 8 sign-bit planes with
    // MD5-derived coefficients, quantized dot products.
    Q("s02_lsh_buckets",
      (s, d) => SimilaritySearch.lshSignature(Tables.embeddings(s, d), numPlanes = 8)
        .select("vec_id", "lsh_bucket"),
      Some {
        val hd = (k: Int) => s"(CASE WHEN ascii(substr(h, $k, 1)) <= 57 THEN ascii(substr(h, $k, 1)) - 48 ELSE ascii(substr(h, $k, 1)) - 87 END)"
        s"""WITH coefs AS (
          |  SELECT p, i,
          |    CAST(${hd(1)} * 4096 + ${hd(2)} * 256 + ${hd(3)} * 16 + ${hd(4)} AS DOUBLE) / 65536.0 - 0.5 AS coef
          |  FROM (SELECT p, i, md5('p' || CAST(p AS VARCHAR) || '_d' || CAST(i AS VARCHAR)) AS h
          |        FROM range(8) a(p), range(64) b(i)) t
          |), dots AS (
          |  SELECT e.vec_id, c.p,
          |    CAST(sum(CAST(ROUND(CAST(e.embedding[c.i + 1] AS DOUBLE) * c.coef * 1e12) AS BIGINT)) AS BIGINT) AS dq
          |  FROM embeddings e, coefs c
          |  GROUP BY e.vec_id, c.p
          |)
          |SELECT vec_id, CAST(sum(CASE WHEN dq > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS lsh_bucket
          |FROM dots GROUP BY vec_id""".stripMargin
      })
  )
}
