package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Text-analysis operators for training-data pipelines (scale extension,
  * SURVEY §7.2 M8): language-ID, quality scoring, token counting,
  * fingerprinting. All pure Column expressions over the `documents`
  * table — codegen'd per row, no shuffle except the caller's aggregates.
  */
object TextAnalysis {

  /** Deterministic stratified sampling for training-data mixing: keep a
    * row iff `hash(id) mod M < threshold(stratum)`, where the per-
    * stratum thresholds encode the mix fractions (`thr = frac · M`).
    *
    * This is the 100 TB sampling shape: a pure map-side filter — no
    * shuffle, no per-stratum window (a `row_number per stratum` design
    * funnels each stratum through one task; strata are few, so that is
    * guaranteed skew), no RNG state. The same rows are kept on any
    * partitioning, any cluster, any rerun — sampling decisions are a
    * function of the data, which is what makes pipeline re-runs and
    * incremental backfills consistent. The LCG below is shared oracle
    * text (DuckDB has no xxhash64); swap `hash` for
    * `pmod(xxhash64(id), M)` in production where ids exceed ~8e9 and
    * the multiply could overflow.
    */
  // The sampling hash's constants, public so callers derive thresholds
  // (frac · SampleModulus) and oracle SQL from the SAME values the
  // filter uses — three independently-hardcoded copies would let a
  // modulus change silently re-scale every configured fraction.
  val SampleLcgA = 1103515245L
  val SampleLcgC = 12345L
  val SampleModulus = 2147483648L // 2^31

  def stratifiedSampleByHash(df: DataFrame, keyCol: Column, idCol: Column,
                             thresholds: Seq[(String, Long)],
                             defaultThreshold: Long): DataFrame = {
    val thr = thresholds.foldRight(lit(defaultThreshold): Column) {
      case ((k, t), acc) => when(keyCol === k, lit(t)).otherwise(acc)
    }
    // pmod, not %: Spark's % keeps the dividend's sign, so a NEGATIVE
    // id would gate at a negative hash — below every threshold
    // including 0, i.e. "drop this stratum" would still keep all its
    // negative-id rows (oracle twin: ((x % M) + M) % M)
    df.filter(pmod(idCol * lit(SampleLcgA) + lit(SampleLcgC), lit(SampleModulus)) < thr)
  }

  /** Token count (whitespace) and a BPE-ish subword proxy: count of
    * alpha-runs, digit-runs, and punctuation marks via regexp extraction
    * — the standard pre-tokenizer shape without a vocab dependency.
    */
  def withTokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_tokens", size(Text.tokens(col(textCol))))
      .withColumn("n_subword_pieces",
        size(filter(split(col(textCol), "[^A-Za-z0-9]+"), s => length(s) > 0)) +
          size(filter(split(col(textCol), "[A-Za-z0-9\\s]+"), s => length(s) > 0)))

  /** Quality heuristics: length, mean word length, punctuation ratio,
    * digit ratio, stopword ratio, uppercase ratio. Ratios are exact
    * integer counts with one final division (oracle-stable).
    */
  def withQuality(docs: DataFrame, stopwords: Seq[String],
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = Text.tokens(t)
    val nChars = length(t)
    val nPunct = nChars - length(regexp_replace(t, "[.,!?;:]", ""))
    val nDigit = nChars - length(regexp_replace(t, "[0-9]", ""))
    val nUpper = nChars - length(regexp_replace(t, "[A-Z]", ""))
    val nStop = size(filter(toks, tok => tok.isin(stopwords: _*)))
    docs
      .withColumn("q_len", nChars)
      .withColumn("q_n_tokens", size(toks))
      .withColumn("q_mean_word_len",
        when(size(toks) > 0,
          aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(toks))
          .otherwise(0.0))
      .withColumn("q_punct_ratio",
        when(nChars > 0, nPunct.cast("double") / nChars).otherwise(0.0))
      .withColumn("q_digit_ratio",
        when(nChars > 0, nDigit.cast("double") / nChars).otherwise(0.0))
      .withColumn("q_upper_ratio",
        when(nChars > 0, nUpper.cast("double") / nChars).otherwise(0.0))
      .withColumn("q_stop_ratio",
        when(size(toks) > 0, nStop.cast("double") / size(toks)).otherwise(0.0))
  }

  /** Language-ID: per-language stopword-hit counts → deterministic argmax
    * (ties broken by language code order). The operator shape — N list
    * scans + argmax — is the point; swap lists for real profiles.
    */
  def withLangId(docs: DataFrame, profiles: Map[String, Seq[String]],
                 textCol: String = "text"): DataFrame = {
    // Tokenize ONCE into a materialized column — N profile scans then
    // reuse it instead of re-splitting the text N times.
    val toks = col("__toks")
    // argmax via greatest over (hits, revRank, lang) structs: hits first;
    // revRank gives alphabetically-first language the win on ties.
    val withRank = profiles.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((lang, words), i) =>
        struct(size(filter(toks, t => t.isin(words: _*))).as("hits"),
          lit(profiles.size - i).as("revRank"), lit(lang).as("lang"))
    }
    val best = greatest(withRank: _*)
    docs.withColumn("__toks", Text.tokens(col(textCol)))
      .withColumn("__best", best)
      .withColumn("lang_pred", col("__best").getField("lang"))
      .withColumn("lang_hits", col("__best").getField("hits"))
      .drop("__toks", "__best")
  }

  /** Document fingerprint: md5 of sorted distinct tokens (order-canonical
    * content signature) + a rolling-hash prefix fingerprint.
    */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fingerprint", Text.fingerprint(col(textCol)))

  /** Repetition-based quality signals (the MassiveText/Gopher repetition
    * rules): per document, the frequency of its most-repeated 2-gram and
    * the number of 3-gram occurrences belonging to a duplicated 3-gram.
    * High values flag boilerplate, keyword stuffing, and generation
    * loops — the standard pretraining repetition filter.
    *
    * Shape: explode grams → count per (doc, gram) → per-doc max/sum.
    * Both aggregations partial-aggregate map-side (a doc's grams mostly
    * sit in one scan partition), and the key space is (doc_id, gram) —
    * never a global structure — so the operator scales linearly. Counts
    * are exact integers (oracle-stable); callers derive ratios with one
    * final division.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    // Text.shingles assumes size >= n (Spark's sequence(1, 0) would
    // yield a DESCENDING [1, 0] — not empty), so short docs are
    // filtered before the explode and restored by the left join below.
    def gramCounts(n: Int) =
      base.filter(size(col("__toks")) >= n)
        .select(col(idCol), explode(Text.shingles(col("__toks"), n)).as("gram"))
        .groupBy(idCol, "gram").agg(count(lit(1)).as("cnt"))
    val s2 = gramCounts(2).groupBy(idCol).agg(
      sum("cnt").as("n_gram2"),
      max("cnt").as("top_gram2"))
    val s3 = gramCounts(3).groupBy(idCol).agg(
      sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_gram3"))
    docs.join(s2, Seq(idCol), "left").join(s3, Seq(idCol), "left")
      .withColumn("n_gram2", coalesce(col("n_gram2"), lit(0L)))
      .withColumn("top_gram2", coalesce(col("top_gram2"), lit(0L)))
      .withColumn("dup_gram3", coalesce(col("dup_gram3"), lit(0L)))
  }

  /** Per-row variant of [[repetitionStats]]: the same `top_gram2` /
    * `dup_gram3` values computed inside one projection — zero shuffles,
    * so it composes into streaming plans (stateless map) and
    * filter-only pipelines.
    *
    * Backed by the native `graft_repstats` expression
    * (expressions.RepetitionStats): one JVM pass per row — hash tokens,
    * roll gram fingerprints, sort a long[], scan runs. The composable
    * higher-order-function forms of the same computation are
    * CodegenFallback all the way down (every lambda step an interpreted
    * tree walk, multiplied by alias substitution in Filter/Project):
    * a nested filter-in-transform cut measured 350 s on the sf0.1
    * stream, a sorted-fold cut ~18 s, this expression ~2 s. When a
    * per-row kernel is hot, hand Catalyst ONE native expression, not a
    * lambda forest. EdgeCaseSpec asserts inline ≡ explode row-for-row.
    */
  def repetitionStatsInline(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = Text.tokens(col(textCol))
    def reps(n: Int) = call_function("graft_repstats", toks, lit(n))
    docs
      .withColumn("n_gram2", element_at(reps(2), 1))
      .withColumn("top_gram2", element_at(reps(2), 2))
      .withColumn("dup_gram3", element_at(reps(3), 3))
  }

  /** Vocabulary-coverage quality signal: per-document token count and
    * out-of-vocabulary count against the corpus's own top-`vocabSize`
    * vocabulary (rank = count desc, token asc — fully tie-broken, so
    * the vocab set is deterministic on any partitioning). High OOV
    * ratio flags boilerplate/garbled text — a standard pretraining
    * wordlist filter.
    *
    * Vocab build: map-side-combined token counts + `TakeOrdered` top-k
    * (never a global sort), collected as a bounded model artifact like
    * IVF's centroids. Scoring is two-tier on the REQUESTED vocab size:
    * below `broadcastThreshold` a literal IN-list inside codegen
    * (zero-shuffle, the tiny-vocab fast path); at or above it, the
    * exploded tokens anti-join a broadcast vocab table (t16's shape) —
    * a 100k-term IN-list would blow past JIT method limits.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 32,
                    textCol: String = "text", idCol: String = "doc_id",
                    broadcastThreshold: Int = VocabBroadcastThreshold): DataFrame = {
    val toksCol = Text.tokens(col(textCol))
    val vocab: Seq[String] = docs.select(explode(toksCol).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select("tok").collect().toSeq.map(_.getString(0))
    // Gate on the REQUESTED size, not the collected one: a 100k-vocab
    // config must plan scale-safe even on a corpus whose distinct
    // tokens happen to be few today (plans should not flip shape with
    // the data).
    if (vocabSize < broadcastThreshold)
      docs
        .withColumn("n_tokens", size(toksCol))
        .withColumn("n_oov", size(filter(toksCol, t => !t.isin(vocab: _*))))
    else {
      // Large-vocab form (t16's broadcast shape): a 100k-term IN-list
      // would bloat every generated filter past JIT limits, so the
      // exploded tokens anti-join the broadcast vocab table instead —
      // multiset semantics identical to the literal filter (duplicate
      // OOV tokens each count), empty-token docs keep n_oov = 0 via
      // the left join + coalesce. n_oov casts to int to match the
      // literal path's size() type exactly.
      val spark = docs.sparkSession
      import spark.implicits._
      val vocabDf = broadcast(vocab.toDF("tok"))
      val oov = docs.select(col(idCol), explode(toksCol).as("tok"))
        .join(vocabDf, Seq("tok"), "left_anti")
        .groupBy(idCol).agg(count(lit(1)).as("__n_oov"))
      docs
        .withColumn("n_tokens", size(toksCol))
        .join(oov, Seq(idCol), "left")
        .withColumn("n_oov", coalesce(col("__n_oov"), lit(0L)).cast("int"))
        .drop("__n_oov")
    }
  }

  /** Vocab size at which [[vocabCoverage]] switches from the codegen
    * IN-list to the broadcast anti-join (t16's shape).
    */
  val VocabBroadcastThreshold: Int = 256

  /** TF-IDF top-terms (keyword extraction) over a BOUNDED vocabulary:
    * the `vocabSize` terms with the highest document frequency form
    * the model vocabulary (collected once — the IVF-centroid /
    * vocabCoverage bounded-artifact class — with N = |docs| and per-
    * term df), each document's term frequencies over that vocab are
    * scored tf·idf, and the top `k` terms per document are emitted.
    *
    * Scale shape: the corpus sees two passes — one distinct-term
    * explode for df (bounded output: |vocab candidates|), one token
    * explode joined BROADCAST against the tiny vocab table — and the
    * ranking window partitions by doc_id (never global). idf is
    * QUANTIZED to an integer (`round(ln(N/df)·1e9)`), so scores are
    * exact integer products and the (score desc, term asc) order is
    * engine-independent — an unrounded double idf would make top-k
    * boundaries depend on libm's last ulp.
    */
  def tfidfTopTerms(docs: DataFrame, vocabSize: Int = 100, k: Int = 3,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(vocabSize > 0 && k > 0, s"tfidfTopTerms: bad vocabSize=$vocabSize k=$k")
    tfidfScore(docs, tfidfVocab(docs, vocabSize, textCol, idCol), k, textCol, idCol)
  }

  /** The collected-vocab driver pass of [[tfidfTopTerms]]: (term, df,
    * idf_q) for the `vocabSize` highest-df terms. Exposed so the t16
    * oracle can interpolate EXACTLY these integers into its SQL —
    * idf_q is derived on one engine only (JVM StrictMath.log, which is
    * reproducible across JVMs by spec), never re-derived by DuckDB's
    * ln: two libms are not bit-identical, and a last-ulp difference
    * landing on a .5 quantization boundary would flip idf_q by 1.
    */
  def tfidfVocab(docs: DataFrame, vocabSize: Int,
                 textCol: String = "text", idCol: String = "doc_id"): Seq[(String, Long, Long)] = {
    val toksCol = Text.tokens(col(textCol))
    val n = docs.count()
    docs
      .select(col(idCol), explode(array_distinct(toksCol)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(vocabSize)
      .collect().toSeq
      .map { r =>
        val df = r.getLong(1)
        (r.getString(0), df,
          math.round(StrictMath.log(n.toDouble / df.toDouble) * 1e9))
      }
  }

  /** Scoring half of [[tfidfTopTerms]] over an already-derived vocab. */
  def tfidfScore(docs: DataFrame, vocab: Seq[(String, Long, Long)], k: Int,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toksCol = Text.tokens(col(textCol))
    val vocabDf = broadcast(vocab.toDF("term", "df", "idf_q"))
    docs
      .select(col(idCol), explode(toksCol).as("term"))
      .join(vocabDf, Seq("term"))
      .groupBy(idCol, "term", "idf_q")
      .agg(count(lit(1)).as("tf"))
      .withColumn("score", col("tf") * col("idf_q"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("score").desc, col("term").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score"), col("rnk"))
  }

  /** Deterministic global training shuffle + shard assignment — the
    * "shuffle then shard" stage that precedes writing training data as
    * fixed-count shard files. Each row gets a pseudo-random-but-
    * reproducible key (the shared LCG over `idCol`, optionally
    * seeded: different seeds give independent epoch orders), a global
    * position in key order, and a round-robin shard id — round-robin
    * over the SHUFFLED order makes every shard a uniform sample with
    * sizes differing by at most one, which is what keeps data-parallel
    * readers balanced.
    *
    * The global position comes from [[RangeRank.withGlobalRank]] —
    * bucketed windows + broadcast offsets, never a single-partition
    * `row_number() OVER (ORDER BY key)` — so the shuffle scales with
    * the cluster. The LCG keeps the key replayable in any SQL engine
    * (same rationale as [[stratifiedSampleByHash]]; same caveat: swap
    * for a 64-bit hash where ids approach ~8e9 and the multiply could
    * overflow). Keys are injective in ids below 2^31 (the LCG is a
    * bijection mod 2^31), and `idCol` tie-breaks beyond that, so the
    * order is total and reruns are bit-identical on any partitioning.
    */
  def seededShuffle(df: DataFrame, idCol: Column, nShards: Int,
                    seed: Long = 0L): DataFrame = {
    require(nShards > 0, s"seededShuffle: nShards must be positive, got $nShards")
    val skey = pmod((idCol + lit(seed)) * lit(SampleLcgA) + lit(SampleLcgC),
      lit(SampleModulus)) // pmod: sign-safe for negative ids/seeds
    val ranked = RangeRank.withGlobalRank(
      df.withColumn("shuffle_key", skey),
      col("shuffle_key"), idCol, descending = false, rnkName = "rnk")
    ranked
      .withColumn("shard", (col("rnk") - 1) % nShards)
      .withColumn("pos_in_shard", expr(s"(rnk - 1) div $nShards"))
  }

  /** The DISTRIBUTED half of the allocation: per-source token capacity
    * + doc count + weight — the only corpus-side work (one groupBy
    * with map-side partial aggregation; PlanShapeSpec pins that
    * shape). Exposed so the plan can be asserted independently of the
    * driver-side solver below.
    */
  private[graft] def perSourceCaps(docs: DataFrame, sourceCol: String,
                                   weightExpr: Column,
                                   textCol: String = "text"): DataFrame =
    docs
      .groupBy(col(sourceCol))
      .agg(sum(size(Text.tokens(col(textCol)))).cast("long").as("cap_tokens"),
        count(lit(1)).as("n_docs"))
      .withColumn("weight", weightExpr.cast("long"))

  /** Domain-mixing token-budget allocation (water-filling): given a
    * target mixture weight per source and a global token budget,
    * allocate tokens so each source gets budget·w/W — except sources
    * whose whole capacity is below their fair share, which contribute
    * everything they have ("capped", rate 1.0) and their unused share
    * is redistributed across the rest by weight. This is the standard
    * mixture-balancing stage of a pre-training pipeline (domain
    * weights à la The Pile / LLaMA data mixtures) when upsampling is
    * not allowed: capacity-limited domains saturate, the rest absorb
    * the remainder.
    *
    * The allocation is EXACT INTEGER arithmetic end-to-end so reruns
    * and the SQL oracle are bit-identical: the capped set is the
    * maximal prefix (in ascending capacity-per-weight order) where
    * `cap·W_rem <= (budget−C_cum)·w` — an integer test, no float in
    * any decision — and uncapped allocations are
    * `(budget−C_capped)·w div W_rem` (floor; the rounding deficit is
    * < one token per uncapped source, negligible at token scale).
    * `rate` is a single final division for reporting only.
    *
    * Scale shape: one map-side-combined aggregation of the corpus to
    * per-source (source, cap) rows, then windows over THAT aggregate
    * — whose cardinality is the number of domains (tens..thousands),
    * not data — so the single-partition window is a bounded model
    * artifact, same class as RangeRank's offset table. The big table
    * shuffles nothing but its per-source partial sums. Overflow
    * bound: cap·W_rem and (budget−C)·w stay below 2^63 while
    * total_tokens · total_weight < 9.2e18 — at 2e13 tokens (100 TB of
    * text) that allows total weight up to ~4.6e5; switch to DECIMAL
    * beyond that.
    *
    * `weightExpr` must be a positive integral Column over the
    * per-source row (e.g. a literal map lookup). The budget is the
    * rational `budgetNum/budgetDen` of the corpus's total tokens,
    * kept exact as `(total · num) div den`.
    */
  def domainMixAllocation(docs: DataFrame, sourceCol: String,
                          weightExpr: Column, budgetNum: Long, budgetDen: Long,
                          textCol: String = "text"): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"domainMixAllocation: bad budget fraction $budgetNum/$budgetDen")
    val perSrc = perSourceCaps(docs, sourceCol, weightExpr, textCol)
    // The per-source aggregate is a BOUNDED model artifact (≤ |source
    // vocabulary| rows — the same collect class as RangeRank's bucket
    // offsets and IVF's centroids), so the water-filling solver runs
    // on the DRIVER over the collected rows: the corpus-side plan is
    // the one distributed groupBy above, and no partition-less
    // WindowExec exists anywhere (the earlier global-window chain
    // logged spurious single-partition warnings on every run). The
    // arithmetic is bit-compatible with the SQL form the oracle
    // replays: Long division truncates toward zero exactly like SQL
    // `div` on the non-negative operands this solver produces, and the
    // ratio double is an ORDERING key only (ties → source).
    val srcRows = perSrc
      .select(col(sourceCol).cast("string"), col("cap_tokens"),
        col("n_docs"), col("weight"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totalTokens = srcRows.map(_._2).sum
    val totalWeight = srcRows.map(_._4).sum
    val budget = totalTokens * budgetNum / budgetDen
    val ordered = srcRows.sortBy { case (src, cap, _, w) =>
      (cap.toDouble / w.toDouble, src)
    }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))
    // Prefix-monotone capped flag: a source is capped iff every source
    // up to and including it (in ratio order) satisfies the
    // water-filling test. Prefix-AND makes ties safe.
    var cumCap = 0L; var cumW = 0L; var prefixOk = true
    val flagged = ordered.map { case s @ (_, cap, _, w) =>
      cumCap += cap; cumW += w
      prefixOk &&= cap * (totalWeight - cumW) <= (budget - cumCap) * w
      (s, prefixOk)
    }
    val cappedCap = flagged.collect { case ((_, cap, _, _), true) => cap }.sum
    val cappedW = flagged.collect { case ((_, _, _, w), true) => w }.sum
    val result = flagged.toSeq.map { case ((src, cap, nDocs, w), capped) =>
      val alloc =
        if (capped) cap
        else ((budget - cappedCap) * w) / (totalWeight - cappedW)
      (src, w, cap, nDocs, if (capped) 1L else 0L, alloc,
        alloc.toDouble / cap.toDouble)
    }
    val spark = docs.sparkSession
    import spark.implicits._
    result.toDF(sourceCol, "weight", "cap_tokens", "n_docs", "capped",
      "alloc_tokens", "rate")
  }

  /** Tokenizer vocabulary induction, step one: the corpus-wide
    * adjacent character-pair frequencies that drive the first BPE
    * merge (the merge rule is simply the top pair; repeated rounds
    * with a re-segmented vocabulary yield the full merge table).
    *
    * Scale shape — the reason this works at 100 TB: the corpus is
    * reduced to its DISTINCT-WORD table first (tokenize → explode →
    * count, all codegen'd builtins with map-side partial counts), and
    * the quadratic-ish pair explosion runs over that vocabulary —
    * tens of thousands of rows for natural language, regardless of
    * corpus size — weighted by word frequency. The per-word pair
    * extraction uses `transform(sequence(...))` (CodegenFallback),
    * which is acceptable ONLY because its input is the tiny vocab
    * table, never the corpus; the top-k is an `orderBy.limit` that
    * plans as TakeOrderedAndProject (no global sort materialization).
    */
  def bpePairCounts(docs: DataFrame, k: Int,
                    textCol: String = "text"): DataFrame = {
    require(k > 0, s"bpePairCounts: k must be positive, got $k")
    val words = docs
      .select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    words
      .filter(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("freq").cast("long").as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)
  }

  /** Bigram-LM quality scoring — the CCNet/Gopher perplexity-filter
    * shape, trained on the corpus itself (no model download): the top
    * `vocabSize` tokens by count form the vocabulary (everything else
    * maps to one `<oov>` symbol; `^` marks document start), bigram
    * counts over the mapped streams are the LM, and each document is
    * scored by its mean add-one-smoothed conditional probability
    *   p_i = (c(prev_i, cur_i) + 1) / (c(prev_i) + vocabSize + 2).
    *
    * Each term is quantized (round·1e9 → long) so the per-document sum
    * is an order-independent integer — the engine's standard
    * FP-determinism discipline. The arithmetic mean stands where
    * perplexity would use the geometric: `ln` is not bit-portable
    * across engines, and a deployment that wants true perplexity adds
    * one `ln` at threshold time — vocabulary, smoothing, and the
    * ranking infrastructure are identical.
    *
    * Scale shape: the vocab is a TakeOrdered top-V (bounded model
    * artifact, like IVF's centroids) inlined as a codegen'd IN-list;
    * the LM itself is ≤ (V+2)² rows and BROADCAST into the scoring
    * join, so the corpus shuffles exactly twice (bigram-count agg with
    * map-side partials; per-doc re-agg) and never sorts globally. The
    * left join + fill(0) keeps the scorer total when a NEW batch is
    * scored against a previously trained corpus LM (unseen bigrams
    * back off to the smoothing floor).
    */
  def bigramLmScore(docs: DataFrame, vocabSize: Int = 64,
                    textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, s"bigramLmScore: vocabSize must be positive, got $vocabSize")
    val toksCol = Text.tokens(col(textCol))
    val toked = docs.select(col("doc_id"), toksCol.as("ws"))
    val vocab: Seq[String] = toked.select(explode(col("ws")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select("tok").collect().toSeq.map(_.getString(0))
    def mapped(c: Column, start: Boolean) = {
      val inVocab = if (start) c === "^" || c.isin(vocab: _*) else c.isin(vocab: _*)
      when(inVocab, c).otherwise(lit("<oov>"))
    }
    val bg = toked.filter(size(col("ws")) > 0)
      .withColumn("m", concat(array(lit("^")), col("ws")))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws)),
          |  i -> named_struct('p', element_at(m, i), 'c', element_at(m, i + 1)))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"),
        mapped(col("b.p"), start = true).as("prev"),
        mapped(col("b.c"), start = false).as("cur"))
    val cb = bg.groupBy("prev", "cur").agg(count(lit(1)).as("c"))
    val cp = cb.groupBy("prev").agg(sum("c").cast("long").as("cpc"))
    // TWO broadcast lookups (≤ (V+2)² and ≤ V+2 rows): the context
    // count must resolve on `prev` ALONE — joining it through the
    // (prev, cur) pair table would zero the denominator for an unseen
    // pair with a well-known context, scoring garbage ABOVE seen-but-
    // rare continuations on the new-batch path
    bg.join(broadcast(cb), Seq("prev", "cur"), "left")
      .join(broadcast(cp), Seq("prev"), "left")
      .na.fill(0L, Seq("c", "cpc"))
      .withColumn("pq", round((col("c") + lit(1)).cast("double") /
        (col("cpc") + lit(vocabSize + 2)).cast("double") * lit(1e9)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("pq").as("prob_sum_q9"))
      .withColumn("mean_cond_prob",
        col("prob_sum_q9").cast("double") / col("n_bigrams") / lit(1e9))
  }

  /** A FROZEN bigram LM — the persistable model state the scoring
    * passes consume: the top-`vocabSize` vocabulary, the (prev, cur)
    * bigram-count table (≤ (V+2)² rows) and the per-context count
    * table (≤ V+2 rows). Both tables are broadcast into scoring, so a
    * model probe never shuffles the corpus; both are small enough to
    * round-trip through a parquet artifact (the d22 maintenance shape).
    */
  case class BigramLm(vocab: Seq[String], cb: DataFrame, cp: DataFrame,
                      vocabSize: Int)

  /** Train a [[BigramLm]]: vocabulary = the `vocabSize` most frequent
    * tokens (ties to the lexicographically smallest — the t06/t14
    * rule), counts over `train`'s bigrams with `^` start markers and
    * out-of-vocab folding to `<oov>`.
    */
  def bigramLmModel(train: DataFrame, vocabSize: Int = 64,
                    textCol: String = "text"): BigramLm = {
    require(vocabSize > 0,
      s"bigramLmModel: vocabSize must be positive, got $vocabSize")
    val tokTrain = train.select(col("doc_id"), Text.tokens(col(textCol)).as("ws"))
    val vocab: Seq[String] = tokTrain.select(explode(col("ws")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select("tok").collect().toSeq.map(_.getString(0))
    val cb = lmBigrams(tokTrain, vocab).groupBy("prev", "cur")
      .agg(count(lit(1)).as("c"))
    val cp = cb.groupBy("prev").agg(sum("c").cast("long").as("cpc"))
    BigramLm(vocab, cb, cp, vocabSize)
  }

  /** Per-doc bigram rows under a model's vocabulary (OOV-folded). */
  private def lmBigrams(toked: DataFrame, vocab: Seq[String]): DataFrame = {
    def mapped(c: Column, start: Boolean) = {
      val inVocab = if (start) c === "^" || c.isin(vocab: _*) else c.isin(vocab: _*)
      when(inVocab, c).otherwise(lit("<oov>"))
    }
    toked.filter(size(col("ws")) > 0)
      .withColumn("m", concat(array(lit("^")), col("ws")))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws)),
          |  i -> named_struct('p', element_at(m, i), 'c', element_at(m, i + 1)))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"),
        mapped(col("b.p"), start = true).as("prev"),
        mapped(col("b.c"), start = false).as("cur"))
  }

  /** Score `score` docs under a FROZEN [[BigramLm]]: unseen bigrams
    * back off to the add-one floor (left join + fill(0) — the
    * new-batch path), counts resolve through TWO broadcast lookups
    * (the context count on `prev` ALONE — joining it through the
    * (prev, cur) pair table would zero the denominator for an unseen
    * pair with a well-known context). Quantized-integer outputs, so
    * scores from two models over the same docs are exactly comparable.
    */
  def bigramLmScoreUnder(model: BigramLm, score: DataFrame,
                         textCol: String = "text"): DataFrame =
    lmBigrams(score.select(col("doc_id"), Text.tokens(col(textCol)).as("ws")),
        model.vocab)
      .join(broadcast(model.cb), Seq("prev", "cur"), "left")
      .join(broadcast(model.cp), Seq("prev"), "left")
      .na.fill(0L, Seq("c", "cpc"))
      .withColumn("pq", round((col("c") + lit(1)).cast("double") /
        (col("cpc") + lit(model.vocabSize + 2)).cast("double") * lit(1e9)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("pq").as("prob_sum_q9"))
      .withColumn("mean_cond_prob",
        col("prob_sum_q9").cast("double") / col("n_bigrams") / lit(1e9))

  /** [[bigramLmScore]] with a TRAIN/SCORE split — the importance-
    * weighting form (DSIR-shaped): the vocabulary and bigram counts
    * come from `train` ONLY; every `score` doc is scored under that
    * LM, with unseen bigrams backing off to the add-one floor (left
    * join + fill(0) — exactly the new-batch path the symmetric form
    * documents). Same quantized-integer output columns as
    * [[bigramLmScore]], so two calls with different training slices
    * give exactly comparable per-doc scores. (Train-then-score in one
    * step: [[bigramLmModel]] → [[bigramLmScoreUnder]]; d22 splits the
    * two around a persisted artifact.)
    */
  def bigramLmScoreAgainst(train: DataFrame, score: DataFrame,
                           vocabSize: Int = 64,
                           textCol: String = "text"): DataFrame =
    bigramLmScoreUnder(bigramLmModel(train, vocabSize, textCol), score, textCol)

  /** CCNet-style perplexity bucketing: score every document under the
    * corpus bigram LM ([[bigramLmScore]]'s quantized-integer scores),
    * derive per-LANGUAGE tercile cutoffs, and tag each document
    * `head` / `middle` / `tail` (head = highest mean conditional
    * probability = lowest perplexity) with a `kept` gate that drops
    * the tail — the CCNet/LLaMA pre-training data-quality split.
    *
    * CCNet buckets by THRESHOLD, not by rank: the cutoffs are order
    * statistics of the score distribution, and every document
    * compares against them map-side. That is also what makes the
    * operator scale: the corpus is never globally sorted — the only
    * corpus-sized exchanges are the LM scoring aggregation and one
    * `(lang, score) → count` histogram, the per-lang cumulative walk
    * runs over the HISTOGRAM (bounded by distinct quantized scores,
    * never rows), and the ≤|langs| threshold rows broadcast back into
    * a codegen bucket projection. (p02's sketch quantiles are the
    * approximate tier when even the histogram is too wide.)
    *
    * All arithmetic is exact: the per-doc quality key is the integer
    * division `prob_sum_q9 * 1000 div n_bigrams` (never an FP ratio —
    * the t09 rule), cutoffs are the smallest key whose cumulative
    * count reaches ceil(n/3) / ceil(2n/3), and score ties land in ONE
    * bucket by construction (a rank-based ntile would split them
    * arbitrarily). Zero-token documents carry no bigram and are
    * absent, matching [[bigramLmScore]].
    */
  def perplexityBuckets(docs: DataFrame, vocabSize: Int = 64,
                        textCol: String = "text"): DataFrame = {
    val scored = bigramLmScore(docs, vocabSize, textCol)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("qk", expr("prob_sum_q9 * 1000 div n_bigrams"))
    val hist = scored.groupBy("lang", "qk").agg(count(lit(1)).as("hc"))
    val wcum = Window.partitionBy("lang").orderBy("qk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum("hc").over(wcum))
      .withColumn("n", sum("hc").over(Window.partitionBy("lang")))
    val th = cum.groupBy("lang").agg(
      min(when(col("cum") >= expr("(n + 2) div 3"), col("qk"))).as("t1"),
      min(when(col("cum") >= expr("(n * 2 + 2) div 3"), col("qk"))).as("t2"))
    scored.join(broadcast(th), Seq("lang"))
      .withColumn("ppl_bucket",
        when(col("qk") <= col("t1"), lit("tail"))
          .when(col("qk") <= col("t2"), lit("middle"))
          .otherwise(lit("head")))
      .withColumn("kept", col("qk") > col("t1"))
      .select("doc_id", "lang", "n_bigrams", "prob_sum_q9", "qk",
        "ppl_bucket", "kept")
  }

  /** Supervised hashed-feature class scorer — the fastText-shaped
    * classifier stage of a data pipeline (CCNet-style quality/language
    * filtering, corpus domain annotation): train a multinomial
    * unigram model per label on a deterministic half of the corpus,
    * score the held-out half, predict per doc.
    *
    * The 100 TB design decisions, in order of importance:
    *   - **Feature hashing bounds the model by construction.** Tokens
    *     map to one of 16^`hashHexChars` buckets via a prefix of
    *     md5(token) (the [[graft.functions.Text.md5s]] cross-engine
    *     hash, the d02 precedent) — the model is `labels × buckets`
    *     COUNTS regardless of corpus vocabulary, the Vowpal/fastText
    *     trick that makes the classifier trainable in ONE aggregation
    *     over any corpus size.
    *   - **Scoring never multiplies the token stream by the label
    *     count.** The model is pivoted to one row per bucket with a
    *     count column per label and broadcast; the held-out token
    *     stream takes a single 1:1 broadcast join, computes every
    *     label's per-token term in one codegen projection, and the
    *     only exchange is the per-doc sum with map-side partials.
    *   - **Scores are quantized-integer** (round((c+1)/(N_l+B)·1e9)
    *     summed as BIGINT — the [[bigramLmScoreUnder]] determinism
    *     pattern): order-independent, bit-replayable in any SQL
    *     engine, no libm-dependent log in sight. The score is the
    *     summed smoothed class-conditional token probability (the
    *     mean-probability form of the NB decision rule, same
    *     trade as d20's DSIR scorer); argmax ties break to the
    *     lexicographically smallest label.
    *   - **The train/holdout split is the shared LCG hash gate**
    *     ([[stratifiedSampleByHash]]): replayable, partition-
    *     independent, no RNG state.
    *
    * Output (held-out docs with ≥1 token only): `(idCol, label,
    * pred_label, n_tokens, score_q)` where `label` is the true label,
    * `pred_label` the argmax and `score_q` its quantized score. The
    * label set is collected from the TRAIN side (bounded — labels are
    * languages/domains, never corpus-cardinality) and sorted, so the
    * plan inlines it; fails loudly if the train split is empty.
    */
  def hashClassifier(docs: DataFrame, labelCol: String = "lang",
                     idCol: String = "doc_id", textCol: String = "text",
                     hashHexChars: Int = 4): DataFrame = {
    val half = SampleModulus / 2
    val gate = pmod(col(idCol) * lit(SampleLcgA) + lit(SampleLcgC),
      lit(SampleModulus))
    val model = hashClfTrain(docs.filter(gate < half),
      labelCol, textCol, hashHexChars)
    hashClassifierScoreUnder(model, docs.filter(gate >= half),
      labelCol, idCol, textCol)
  }

  /** The frozen model behind [[hashClassifier]]: the hashed-bucket
    * counts table (`label, __b, c` — at most `labels × 16^hashHexChars`
    * rows by construction), with the sorted label set and per-label
    * token totals derived from it (derived, not stored: they are pure
    * functions of the counts, and storing both invites drift — the
    * [[BigramLm]] `cp` principle). t18 persists `counts` as an
    * artifact and rebuilds the wrapper at probe time.
    */
  case class HashClfModel(labels: Seq[String], counts: DataFrame,
                          totals: Map[String, Long], hashHexChars: Int)

  /** Train a [[HashClfModel]] on `train` (the caller owns the split —
    * [[hashClassifier]] gates on the LCG; t18's artifact additionally
    * excludes the arriving batch). ONE aggregation over the corpus;
    * the label/total collects are bounded by the label count, never
    * corpus cardinality. Fails loudly on an empty train side.
    */
  def hashClfTrain(train: DataFrame, labelCol: String = "lang",
                   textCol: String = "text",
                   hashHexChars: Int = 4): HashClfModel = {
    require(hashHexChars >= 1 && hashHexChars <= 8,
      s"hashClfTrain: hashHexChars must be in [1,8], got $hashHexChars")
    val counts = clfTokens(train, labelCol, textCol, hashHexChars)
      .groupBy("label", "__b").agg(count(lit(1)).as("c"))
    hashClfModelOf(counts, hashHexChars)
  }

  /** Wrap a persisted counts table back into a [[HashClfModel]] —
    * the probe-side constructor (labels and totals re-derived).
    */
  def hashClfModelOf(counts: DataFrame, hashHexChars: Int): HashClfModel = {
    val labels = counts.select("label").distinct()
      .orderBy("label").collect().map(_.getString(0)).toSeq
    require(labels.nonEmpty,
      "hashClassifier: train split is empty — no labels to score under")
    val totals: Map[String, Long] = counts.groupBy("label")
      .agg(sum("c").cast("long").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    HashClfModel(labels, counts, totals, hashHexChars)
  }

  /** Score `score` docs under a FROZEN [[HashClfModel]] — the
    * incremental/serving path (t18 probes a persisted model; a new
    * batch never touches the corpus or retrains). The model is
    * pivoted to one row per bucket and broadcast; tokens unseen in
    * training resolve to the add-one floor through the left join, the
    * exact analogue of [[bigramLmScoreUnder]]'s new-batch path.
    */
  def hashClassifierScoreUnder(model: HashClfModel, score: DataFrame,
                               labelCol: String = "lang",
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    val buckets = 1L << (4 * model.hashHexChars)
    val labels = model.labels
    // label-derived column names are backtick-quoted on every col()
    // resolution (ADVICE r16): a label containing '.' would otherwise
    // parse as a nested-field path and break scoring for valid label
    // sets; a literal '`' is escaped by doubling, per Spark quoting
    def bq(name: String): Column = col("`" + name.replace("`", "``") + "`")
    val pivot = model.counts.groupBy("__b").pivot("label", labels).sum("c")
      .select(col("__b") +: labels.map(l => bq(l).as(s"c_$l")): _*)
    def q(l: String): Column =
      round((coalesce(bq(s"c_$l"), lit(0L)) + lit(1L)).cast("double") /
        lit((model.totals(l) + buckets).toDouble) * lit(1e9)).cast("long")
    val scores = clfTokens(score, labelCol, textCol, model.hashHexChars,
        idCol = Some(idCol))
      .join(broadcast(pivot), Seq("__b"), "left")
      .groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).as("n_tokens"),
        labels.map(l => sum(q(l)).as(s"s_$l")): _*)
    val sCols = labels.map(l => bq(s"s_$l"))
    val best = if (sCols.size == 1) sCols.head else greatest(sCols: _*)
    // first match in ascending label order → ties break to the
    // lexicographically smallest label, pinned in the spec
    val pred = labels.tail.foldLeft(
      when(sCols.head === best, labels.head)) { case (acc, l) =>
      acc.when(bq(s"s_$l") === best, l)
    }
    scores.select(col(idCol), col("label"), pred.as("pred_label"),
      col("n_tokens"), best.as("score_q"))
  }

  /** Tokenize → md5-prefix bucket rows for the classifier family. */
  private def clfTokens(df: DataFrame, labelCol: String, textCol: String,
                        hashHexChars: Int,
                        idCol: Option[String] = None): DataFrame = {
    val base = df
      .withColumn("__ws", Text.tokens(col(textCol)))
      .filter(size(col("__ws")) > 0)
    val cols = idCol.toSeq.map(col) ++
      Seq(col(labelCol).as("label"), explode(col("__ws")).as("__tok"))
    base.select(cols: _*)
      .withColumn("__b", substring(Text.md5s(col("__tok")), 1, hashHexChars))
  }

  /** Apply a [[domainMixAllocation]] result as a deterministic
    * downsample: keep a document iff `lcg(doc_id) mod M < thr(source)`
    * where `thr = (alloc·M) div cap` — the same hash gate as
    * [[stratifiedSampleByHash]], thresholds derived from the
    * allocation with integer arithmetic (capped sources get thr = M,
    * keeping every document). The allocation table is tiny (one row
    * per source) so it is collected and inlined: the corpus-side plan
    * is a pure scan + map-side filter — no join, no shuffle of the
    * big table. Overflow caveat: `alloc·M` needs DECIMAL once a
    * single source exceeds ~4e9 tokens; at that point derive thr from
    * rate with a documented half-ulp tolerance instead.
    */
  def applyMixSample(docs: DataFrame, alloc: DataFrame,
                     sourceCol: String = "source"): DataFrame = {
    val thresholds = alloc.select(sourceCol, "alloc_tokens", "cap_tokens")
      .collect()
      .map { r =>
        val cap = r.getLong(2)
        val thr = if (cap == 0L) SampleModulus
          else r.getLong(1) * SampleModulus / cap
        (r.getString(0), thr)
      }.toSeq.sortBy(_._1)
    stratifiedSampleByHash(docs, col(sourceCol), col("doc_id"),
      thresholds, defaultThreshold = 0L)
  }

  /** PII scrubbing (the C4-style cleanup stage): count and redact
    * email addresses, dotted-quad IPs, and plus-prefixed international
    * phone numbers. Patterns deliberately use only the regex subset
    * with identical semantics in Java regex (Spark codegen) and RE2
    * (DuckDB oracle): character classes, bounded repetition, ASCII
    * `\b` — no backrefs, no lookaround. Counts come from the ORIGINAL
    * text; `clean_text` applies the replacements in a fixed order
    * (email → ip → phone) so later patterns can't match fragments of
    * earlier redactions. A pure per-row projection — codegen'd, no
    * shuffle; at 100 TB this runs inside the ingest scan.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}"

  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("clean_text",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>"))
  }

  /** Benchmark decontamination: flag every training document that
    * shares at least one word n-gram with a held-out evaluation set —
    * the standard pre-training hygiene pass (n-gram overlap against
    * eval benchmarks, as in the GPT-3/Gopher decontamination
    * methodology; the reference's corpus tooling has no equivalent,
    * this is a scale extension).
    *
    * Shape: the eval set's distinct gram fingerprints are SMALL by
    * construction (benchmarks are thousands of documents, the corpus
    * is billions), so the membership probe is a broadcast join against
    * the exploded train grams — no shuffle of train text, and the only
    * exchange is the per-doc hit count's groupBy(doc_id), whose
    * map-side partial aggregation reduces each task's output to one
    * row per contaminated document. Grams are fingerprinted to
    * xxhash64 longs before the join (8 fixed bytes instead of an
    * n-word UTF8 string — the [[Dedup.jaccardPairs]] trade; a 64-bit
    * collision needs ~billions of distinct grams to matter and would
    * only ever ADD a spurious flag, never drop a real one).
    *
    * Documents shorter than n tokens carry no gram and can never be
    * flagged; both sides guard on token count (Text.shingles assumes
    * size >= n).
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 5,
                    textCol: String = "text"): DataFrame = {
    val evalGrams = broadcast(
      gramHashes(evalSet, n, textCol).select("g").distinct())
    val hits = gramHashes(train, n, textCol).join(evalGrams, Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_grams"))
    train.select("doc_id", "source")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_contaminated_grams",
        coalesce(col("n_contaminated_grams"), lit(0L)))
      .withColumn("contaminated", col("n_contaminated_grams") > 0)
  }

  /** Decontamination for eval sets past broadcastability — the 100 TB
    * tier of [[decontaminate]]: the exact eval-gram hash relation is
    * ~64+ bits/gram plus join-map overhead, so at benchmark-suite ×
    * many-epochs scale it stops fitting a broadcast; a Bloom sketch of
    * the same grams is ~`numBits/estimatedItems` bits per gram (10
    * bits ≈ 1% fpp) and always ships. Plan shape:
    *   1. ONE aggregation builds the sketch over the distinct eval
    *      gram hashes (Spark's own BloomFilterAggregate — map-side
    *      partials, driver-merged, collected as a bounded artifact);
    *   2. the train-gram stream drops every gram the sketch rules out
    *      — a MAP-SIDE semi-join reduction, no shuffle, pure codegen
    *      predicate (graft_might_contain);
    *   3. the survivors (true hits + ~fpp false positives) take the
    *      exact equi-join against the eval grams — now a join whose
    *      probe side is ~fpp·|train grams| instead of all of them, so
    *      it can SHUFFLE instead of broadcasting.
    * False positives cannot survive step 3, so the output is
    * bit-identical to [[decontaminate]] — d23 shares d10's oracle;
    * the sketch only decides how much data reaches the join.
    */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame, n: Int = 5,
                         textCol: String = "text",
                         estimatedItems: Long = 1000000L,
                         numBits: Long = 8000000L): DataFrame = {
    val evalGrams = gramHashes(evalSet, n, textCol).select("g").distinct()
    val bloom = evalGrams
      .agg(call_function("graft_bloom_agg", col("g"),
        lit(estimatedItems), lit(numBits)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val base = train.select("doc_id", "source")
    // empty eval set → null sketch → nothing is contaminated (the
    // exact path's semantics: zero grams can't hit anything)
    val hits =
      if (bloom == null)
        base.limit(0).select(col("doc_id"),
          lit(0L).as("n_contaminated_grams"))
      else gramHashes(train, n, textCol)
        .where(call_function("graft_might_contain", lit(bloom), col("g")))
        .join(evalGrams, Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_grams"))
    base
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_contaminated_grams",
        coalesce(col("n_contaminated_grams"), lit(0L)))
      .withColumn("contaminated", col("n_contaminated_grams") > 0)
  }

  /** The frozen decontamination model: the eval set's distinct gram
    * fingerprints as a persistable relation plus the Bloom sketch built
    * over them — what the decontam artifact stores once per documents
    * generation and every ingest probe scores under. `bloom` is null
    * when the eval set carried no gram (the exact path's semantics:
    * zero grams can't hit anything).
    */
  case class DecontamModel(bloom: Array[Byte], evalGrams: DataFrame)

  /** The eval side of the decontamination family as a standalone
    * relation — distinct gram hashes `(g)` — so the artifact build and
    * the inline queries derive the SAME fingerprints from one code
    * path.
    */
  def evalGramHashes(evalSet: DataFrame, n: Int = 5,
                     textCol: String = "text"): DataFrame =
    gramHashes(evalSet, n, textCol).select("g").distinct()

  /** Score one ingest batch under a FROZEN decontamination model — the
    * serving form of [[decontaminateBloom]] (d25 incremental / st10
    * streaming): the batch's grams drop non-members map-side through
    * the persisted sketch (pure codegen predicate, no shuffle), and
    * only the survivors take the exact equi-join against the persisted
    * eval-gram relation — which is allowed to SHUFFLE, never hinted
    * broadcast, because the tier's premise is an eval suite past
    * broadcastability (in practice the survivor side is batch-sized,
    * so AQE picks the cheap join anyway). No corpus scan, no sketch
    * rebuild: per-trigger cost is the batch's grams. False positives
    * cannot survive the exact join, so any batch split answers
    * row-identically to [[decontaminate]] restricted to those docs —
    * the probes share d10's oracle scaffolding.
    */
  def decontaminateUnder(model: DecontamModel, batch: DataFrame,
                         n: Int = 5, textCol: String = "text"): DataFrame = {
    val base = batch.select("doc_id", "source")
    val hits =
      if (model.bloom == null)
        base.limit(0).select(col("doc_id"),
          lit(0L).as("n_contaminated_grams"))
      else gramHashes(batch, n, textCol)
        .where(call_function("graft_might_contain",
          lit(model.bloom), col("g")))
        .join(model.evalGrams, Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_grams"))
    base
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_contaminated_grams",
        coalesce(col("n_contaminated_grams"), lit(0L)))
      .withColumn("contaminated", col("n_contaminated_grams") > 0)
  }

  /** Per-doc distinct n-gram xxhash64 fingerprints `(doc_id, g)` for
    * the decontamination family. The token array is MATERIALIZED into
    * a column before shingling: `Text.shingles` references its input
    * once per element_at, so passing the raw `Text.tokens(text)`
    * expression re-tokenizes the document ~n× per gram position —
    * O(tokens × positions) per doc, measured 10× the whole query's
    * cost at sf0.1. With the projection boundary the row carries the
    * array and each element_at is O(1) (the TextAnalysis:143 /
    * spanDedup pattern).
    */
  private def gramHashes(df: DataFrame, n: Int, textCol: String): DataFrame = {
    val toks = Text.tokens(col(textCol))
    df.filter(size(toks) >= n)
      .withColumn("__toks", toks)
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(col("__toks"), n))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
  }

  /** Decontamination PROVENANCE: per-(train doc, eval doc) shared
    * distinct-n-gram counts — the audit companion to
    * [[decontaminate]]'s per-train-doc flag. Answers "WHICH eval doc
    * leaked into this train doc, and how much" (what you need to
    * adjudicate borderline hits or trace a leaked benchmark split).
    *
    * Same scale shape as decontaminate: the eval side broadcasts (now
    * carrying its doc_id alongside each gram hash — eval sets are
    * benchmark-sized, so the doc_id adds nothing material to the
    * broadcast), train grams never shuffle before the hit join, and
    * the only exchange is the pair-keyed count with map-side partial
    * aggregation. Output contains contaminated pairs only.
    */
  def decontaminationProvenance(train: DataFrame, evalSet: DataFrame,
                                n: Int = 5, textCol: String = "text"): DataFrame = {
    val evalGrams = broadcast(gramHashes(evalSet, n, textCol)
      .select(col("doc_id").as("eval_doc_id"), col("g")))
    gramHashes(train, n, textCol)
      .withColumnRenamed("doc_id", "train_doc_id")
      .join(evalGrams, Seq("g"))
      .groupBy("train_doc_id", "eval_doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Provenance past broadcastability — [[decontaminationProvenance]]
    * with the [[decontaminateBloom]] prefilter, completing the Bloom
    * tier across BOTH decontamination shapes: the sketch is built over
    * the DISTINCT eval gram hashes (doc_id-free — a gram shared by
    * many eval docs is one sketch entry), the train-gram stream drops
    * non-members map-side (no shuffle, pure codegen predicate), and
    * the survivors take the exact `(g → eval_doc_id)` join — now
    * carrying the eval doc_ids and therefore allowed to SHUFFLE (no
    * broadcast hint: the whole premise of this tier is that the eval
    * relation no longer fits one). False positives cannot survive the
    * exact join, so the pair table is bit-identical to the broadcast
    * form — d24 shares d13's oracle; the sketch only decides how much
    * of the train stream reaches the join.
    */
  def decontaminationProvenanceBloom(train: DataFrame, evalSet: DataFrame,
                                     n: Int = 5, textCol: String = "text",
                                     estimatedItems: Long = 1000000L,
                                     numBits: Long = 8000000L): DataFrame = {
    val evalGrams = gramHashes(evalSet, n, textCol)
      .select(col("doc_id").as("eval_doc_id"), col("g"))
    val bloom = evalGrams.select("g").distinct()
      .agg(call_function("graft_bloom_agg", col("g"),
        lit(estimatedItems), lit(numBits)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    // empty eval set → null sketch → no contaminated pairs (the exact
    // form's semantics: the pair table contains hits only)
    if (bloom == null)
      train.limit(0).select(col("doc_id").as("train_doc_id"),
        lit(0L).as("eval_doc_id"), lit(0L).as("n_shared_grams"))
    else
      gramHashes(train, n, textCol)
        .withColumnRenamed("doc_id", "train_doc_id")
        .where(call_function("graft_might_contain", lit(bloom), col("g")))
        .join(evalGrams, Seq("g"))
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(count(lit(1)).as("n_shared_grams"))
  }
}
