package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Degenerate-input behavior: every operator must handle empty inputs,
  * no-match shapes, and single-row groups without crashing — at 100 TB
  * an empty partition, a frame with zero detections, or a sequence with
  * no GT overlap is routine, not exceptional.
  */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def emptyMot = Seq.empty[(String, Int, Int, Double, Double, Double, Double)]
    .toDF("seq", "frameIdx", "id", "x", "y", "w", "h")

  private def oneBox(seq: String, f: Int, id: Int, x: Double, y: Double) =
    Seq((seq, f, id, x, y, 20.0, 20.0)).toDF("seq", "frameIdx", "id", "x", "y", "w", "h")

  test("metrics over empty gt and tracks returns no rows, no crash") {
    assert(MotEval.metrics(emptyMot, emptyMot, 0.3).count() == 0)
  }

  test("metrics with zero spatial overlap: CLR_TP=0, full FN, zero ratios") {
    val gt = oneBox("s", 1, 1, 0, 0).union(oneBox("s", 2, 1, 0, 0))
    val tr = oneBox("s", 1, 9, 500, 500)
    val m = MotEval.metrics(gt, tr, 0.3).head()
    assert(m.getAs[Long]("CLR_TP") == 0L)
    assert(m.getAs[Long]("CLR_FN") == 2L)
    assert(m.getAs[Double]("IDF1") == 0.0)
    assert(m.getAs[Long]("ML") == 1L) // the one GT id is mostly-lost
  }

  test("metrics fails loudly on GT rows repeated per (seq, frameIdx, id)") {
    // a repeated row would count twice in its id's frame total but match
    // once: coverage 1/2 instead of 1, silently
    val gt = oneBox("s", 1, 1, 0, 0).union(oneBox("s", 1, 1, 0, 0))
      .union(oneBox("s", 2, 1, 0, 0))
    val tr = oneBox("s", 1, 9, 0, 0).union(oneBox("s", 2, 9, 0, 0))
    val e = intercept[Exception](MotEval.metrics(gt, tr, 0.3).collect())
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(cause.exists(_.getMessage.contains(
      "duplicate GT rows for (seq=s, frameIdx=1, id=1)")), e)
    // rows without an integer frame are not keyed by one: never duplicates
    val noFrame = Seq.fill(2)(("s", null.asInstanceOf[Integer], 1, 0.0, 0.0, 20.0, 20.0))
      .toDF("seq", "frameIdx", "id", "x", "y", "w", "h")
    val m = MotEval.metrics(oneBox("s", 1, 1, 0, 0).union(noFrame), tr, 0.3).head()
    assert(m.getAs[Long]("GT_Dets") == 3L && m.getAs[Long]("CLR_TP") == 1L)
    assert(m.getAs[Long]("PT") == 1L) // 1 of the id's 3 rows matched
  }

  test("nms on an empty frame set and a single box") {
    val empty = spark.emptyDataset[DetBox]
    assert(Nms.nms(empty, 0.5).count() == 0)
    val one = Seq(DetBox("s", "1", 1, 0, 0, 10, 10, 0.9)).toDS()
    assert(Nms.nms(one, 0.5).collect().toSeq == one.collect().toSeq)
    assert(Nms.removeNested(one, 0.5).count() == 1)
  }

  test("nms with zero-area boxes: iou 0, all kept") {
    val degenerate = Seq(
      DetBox("s", "1", 1, 5, 5, 5, 5, 0.9), // zero area
      DetBox("s", "1", 2, 5, 5, 5, 5, 0.8)  // identical zero area
    ).toDS()
    assert(Nms.nms(degenerate, 0.5).count() == 2)
  }

  test("connectedComponents of an empty edge table is empty") {
    val e = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(e).count() == 0)
  }

  test("connectedComponents ignores pure self-loops") {
    val e = Seq((7L, 7L)).toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(e).count() == 0)
  }

  test("stratifiedSampleByHash: empty input, unknown stratum, rate sanity") {
    val empty = Seq.empty[(Long, String)].toDF("id", "k")
    assert(TextAnalysis.stratifiedSampleByHash(empty, col("k"), col("id"),
      Seq("a" -> 1L), 0L).count() == 0)
    // unknown stratum takes the default threshold: 0 keeps nothing,
    // SampleModulus keeps everything
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "zz"))
      .toDF("id", "k")
    val none = TextAnalysis.stratifiedSampleByHash(rows, col("k"), col("id"),
      Seq("a" -> TextAnalysis.SampleModulus), 0L)
    assert(none.filter(col("k") === "zz").count() == 0)
    assert(none.filter(col("k") === "a").count() == 1000)
    // configured fraction is approximated: 30% ± 5pp over 1000 ids
    val frac = TextAnalysis.stratifiedSampleByHash(rows, col("k"), col("id"),
      Seq("a" -> (0.3 * TextAnalysis.SampleModulus).toLong), 0L)
      .filter(col("k") === "a").count()
    assert(frac > 250 && frac < 350, s"30% of 1000 sampled as $frac")
    // decisions are per-row functions of the data: repartitioning the
    // input must keep the identical id set
    val a = TextAnalysis.stratifiedSampleByHash(rows.repartition(13),
      col("k"), col("id"), Seq("a" -> 644245094L), 214748364L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = TextAnalysis.stratifiedSampleByHash(rows.repartition(2),
      col("k"), col("id"), Seq("a" -> 644245094L), 214748364L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("simhash64BallPairsAgainst: empty batch, empty corpus, disjoint fingerprints") {
    def sh(rows: Seq[(Long, Long)]) = rows.toDF("doc_id", "simhash64")
    val corpus = sh(Seq((10L, 0x0123456789abcdefL), (11L, -42L)))
    // empty batch → no pairs, no crash (the routine quiet-ingest case)
    assert(Dedup.simhash64BallPairsAgainst(sh(Seq.empty), corpus).count() == 0)
    // empty corpus → no pairs (first-ever ingest against a new store)
    assert(Dedup.simhash64BallPairsAgainst(sh(Seq((1L, 7L))), corpus.limit(0)).count() == 0)
    // identical fingerprints across sides → hamming-0 pair IS emitted
    val hit = Dedup.simhash64BallPairsAgainst(sh(Seq((1L, -42L))), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hit.toSet == Set((1L, 11L, 0L)))
    // far-apart fingerprints (no chunk agreement) → nothing
    assert(Dedup.simhash64BallPairsAgainst(
      sh(Seq((1L, 0x1111222233334444L))), sh(Seq((2L, 0x5555666677778888L)))).count() == 0)
  }

  test("ivfPqTopK: degenerate params fail loudly, never silently mis-encode") {
    val emb = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(16)(j => (i * 16 + j).toFloat / 320f)))
      .toDF("vec_id", "embedding")
    // m must divide dims
    val e1 = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqTopK(emb, col("vec_id") < 2, k = 2, nlist = 4,
        nprobe = 2, m = 5, codebookSize = 8, refine = 10)
    }
    assert(e1.getMessage.contains("divide"))
    // sparse ids are FINE since the hash-gated seed draw (round 16):
    // a hole at id 7 just shifts the drawn order statistics — the
    // dense-0-based-ids assumption is gone by design
    val sparse = emb.filter(col("vec_id") =!= 7)
    assert(SimilaritySearch.ivfPqTopK(sparse, col("vec_id") < 2, k = 2,
      nlist = 4, nprobe = 2, m = 4, codebookSize = 8, refine = 10).count() > 0)
    // the draw's remaining hard precondition: a corpus smaller than the
    // codebook must fail loudly, never emit a short codebook
    val e2 = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqTopK(emb.filter(col("vec_id") < 6),
        col("vec_id") < 2, k = 2, nlist = 4,
        nprobe = 2, m = 4, codebookSize = 8, refine = 10)
    }
    assert(e2.getMessage.contains("codebook") &&
      e2.getMessage.contains("fewer than"))
  }

  test("prunedCorpusBands with no matching prefixes returns empty, not an error") {
    // a micro-batch whose signatures all hash outside the corpus's
    // occupied partitions must probe to zero rows quietly
    val out = graft.queries.TextQ.prunedCorpusBands(
      spark, "/root/testdata/sf0.001", Seq("zz_not_a_prefix"))
    assert(out.count() == 0)
  }

  test("bigramLmScoreAgainst: empty train set scores everything at the smoothing floor") {
    // a target LM trained on zero docs has an empty vocab and no
    // counts: every score bigram maps to <oov> and backs off to
    // pq = round(1/(0+vocabSize+2)·1e9) = round(1e9/6) here — the add-one floor, not a crash
    val docs = Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScoreAgainst(docs.limit(0), docs, vocabSize = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def floor(n: Int) = n.toLong * math.round(1.0 / 6.0 * 1e9)
    assert(out(1L) == ((3L, floor(3))))
    assert(out(2L) == ((2L, floor(2))))
  }

  test("scrubPii: counts + redaction order, no-PII text passes through") {
    val df = Seq(
      (1L, "reach me at a.b+c@x-mail.co.uk or +123456789 from 192.168.0.1"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io and z@w.dev, bare 12345 is not a phone"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_emails") == 1L)
    assert(out(0).getAs[Long]("n_ips") == 1L)
    assert(out(0).getAs[Long]("n_phones") == 1L)
    assert(out(0).getAs[String]("clean_text") ==
      "reach me at <EMAIL> or <PHONE> from <IP>")
    assert(out(1).getAs[String]("clean_text") == "no pii here at all")
    assert(out(2).getAs[Long]("n_emails") == 2L)
    assert(out(2).getAs[Long]("n_phones") == 0L)
  }

  test("domainMixAllocation: water-filling invariants, saturation, degenerate budgets") {
    // 3 sources: caps 100/1000/1000 tokens, weights 1/1/2. Budget =
    // 80% of 2100 = 1680. Fair shares 420/420/840: src0 saturates
    // (100 < 420); redistribution gives src2 2·(1580/3) = 1053 > its
    // 1000 cap so it saturates on the SECOND water-filling round; the
    // remaining 580 all flows to src1. Exercises cascaded capping.
    def docs(caps: Seq[Int]) = caps.zipWithIndex.flatMap { case (c, i) =>
      // one doc per source with exactly c whitespace tokens
      Seq((i.toLong, s"src$i", Seq.fill(c)("w").mkString(" ")))
    }.toDF("doc_id", "source", "text")
    val wmap = expr("case when source = 'src2' then 2L else 1L end")
    val out = TextAnalysis.domainMixAllocation(
      docs(Seq(100, 1000, 1000)), "source", wmap, 4L, 5L)
      .orderBy("source").collect()
    assert(out.map(_.getAs[Long]("cap_tokens")).toSeq == Seq(100L, 1000L, 1000L))
    assert(out.map(_.getAs[Long]("capped")).toSeq == Seq(1L, 0L, 1L))
    assert(out.map(_.getAs[Long]("alloc_tokens")).toSeq == Seq(100L, 580L, 1000L))
    val allocs = out.map(_.getAs[Long]("alloc_tokens")).sum
    assert(allocs <= 1680L && 1680L - allocs < 2,
      s"floor deficit must be < #uncapped, got ${1680L - allocs}")
    assert(out.forall(r => r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("cap_tokens")))

    // budget >= total capacity: everything capped, rate 1.0 everywhere
    val all = TextAnalysis.domainMixAllocation(
      docs(Seq(10, 20)), "source", lit(1L), 1L, 1L).collect()
    assert(all.forall(_.getAs[Long]("capped") == 1L))
    assert(all.forall(r => r.getAs[Long]("alloc_tokens") == r.getAs[Long]("cap_tokens")))
    assert(all.forall(_.getAs[Double]("rate") == 1.0))

    // zero budget: nothing capped, all allocations zero
    val zero = TextAnalysis.domainMixAllocation(
      docs(Seq(10, 20)), "source", lit(1L), 0L, 1L).collect()
    assert(zero.forall(_.getAs[Long]("alloc_tokens") == 0L))

    // single source: gets exactly the budget (floor of 4/5 of its cap)
    val one = TextAnalysis.domainMixAllocation(
      docs(Seq(1000)), "source", lit(7L), 4L, 5L).collect()
    assert(one.length == 1 && one.head.getAs[Long]("alloc_tokens") == 800L)

    // empty corpus: empty allocation (and applyMixSample passes it
    // through to an empty keep-set without dividing by zero)
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val noAlloc = TextAnalysis.domainMixAllocation(noDocs, "source", lit(1L), 1L, 2L)
    assert(noAlloc.count() == 0)
    assert(TextAnalysis.applyMixSample(
      noDocs.select("doc_id", "source"), noAlloc).count() == 0)

    // partitioning invariance: identical allocation on any layout
    val base = docs(Seq(100, 1000, 1000))
    val p1 = TextAnalysis.domainMixAllocation(base.repartition(7), "source",
      wmap, 4L, 5L).orderBy("source").collect().toSeq
    val p2 = TextAnalysis.domainMixAllocation(base.coalesce(1), "source",
      wmap, 4L, 5L).orderBy("source").collect().toSeq
    assert(p1 == p2)
  }

  test("applyMixSample: capped source keeps every doc, rates track allocation") {
    val docs = (0L until 3000L).map { i =>
      (i, s"src${i % 3}", Seq.fill(10)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val wmap = expr("case when source = 'src2' then 6L else 1L end")
    // weights 1/1/6, equal caps 10000 each, budget 24000 of 30000:
    // src2's share 18000 > 10000 -> capped (thr = M, keeps ALL docs);
    // src0/src1 get 7000 each -> gate rate 0.7
    val alloc = TextAnalysis.domainMixAllocation(docs, "source", wmap, 4L, 5L)
    val kept = TextAnalysis.applyMixSample(docs.select("doc_id", "source"), alloc)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src2") == 1000L, s"capped source must keep all docs: $bySrc")
    for (s <- Seq("src0", "src1"))
      assert(bySrc(s) > 600 && bySrc(s) < 800,
        s"~70% gate expected for $s, got ${bySrc(s)}")
  }

  test("bpePairCounts: hand-computed pairs, single-char words ignored, k truncation") {
    // "abab ab a" twice: words abab(2), ab(2), a(2).
    // abab -> ab,ba,ab; ab -> ab. Weighted: ab = 2*2 + 2*1 = 6, ba = 2.
    // 'a' has no pair and must not crash the sequence(1, len-1).
    val docs = Seq((1L, "abab ab a"), (2L, "abab ab a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpePairCounts(docs, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(out == Seq("ab" -> 6L, "ba" -> 2L))
    // k truncates in (count desc, pair asc) order
    val top1 = TextAnalysis.bpePairCounts(docs, k = 1).collect()
    assert(top1.length == 1 && top1.head.getString(0) == "ab")
    // empty corpus -> no rows, no crash
    assert(TextAnalysis.bpePairCounts(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), k = 5).count() == 0)
  }

  test("vocabCoverage: empty corpus and all-OOV doc") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.vocabCoverage(empty, 8).count() == 0)
    // vocab smaller than the token universe: rare tokens count as OOV
    val docs = Seq(
      (1L, "common common common rare1"),
      (2L, "common rare2 rare3 rare4")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, vocabSize = 1)
      .select("doc_id", "n_tokens", "n_oov").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L) == ((4, 1))) // 'common' is the vocab; rare1 OOV
    assert(got(2L) == ((4, 3)))
  }

  test("vocabCoverage: broadcast anti-join path matches the literal IN-list path") {
    val docs = Seq(
      (1L, "common common common rare1"),
      (2L, "common rare2 rare3 rare4"),
      (3L, "")).toDF("doc_id", "text")
    // Same vocab, both paths (threshold 1 forces the join form): every
    // (n_tokens, n_oov) must agree, including the zero-token doc.
    val literal = TextAnalysis.vocabCoverage(docs, vocabSize = 2, broadcastThreshold = 100)
      .select("doc_id", "n_tokens", "n_oov").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val joined = TextAnalysis.vocabCoverage(docs, vocabSize = 2, broadcastThreshold = 1)
      .select("doc_id", "n_tokens", "n_oov").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(literal == joined, s"literal=$literal joined=$joined")
    assert(joined(3L) == ((0, 0)))
  }

  test("repetitionStats: short docs, empty text, and a pure repetition loop") {
    val docs = Seq(
      (1L, "solo"),                 // 1 token: no grams at all
      (2L, "two tokens"),           // one 2-gram, no 3-gram
      (3L, "a a a a"),              // 'a a' x3 top2; 'a a a' x2 dup3
      (4L, ""),                     // empty text
      (5L, "all words here differ") // no repetition
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_gram2", "top_gram2", "dup_gram3").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((0L, 0L, 0L)))
    assert(got(2L) == ((1L, 1L, 0L)))
    assert(got(3L) == ((3L, 3L, 2L)))
    assert(got(4L) == ((0L, 0L, 0L)))
    assert(got(5L) == ((3L, 1L, 0L)))
  }

  test("repetitionStatsInline agrees with the explode form row-for-row") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val edge = Seq((9001L, "solo"), (9002L, ""), (9003L, "a a a a"))
      .toDF("doc_id", "text")
    val docs = real.select("doc_id", "text").union(edge)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_gram2", "top_gram2", "dup_gram3")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(key(TextAnalysis.repetitionStatsInline(docs))
      == key(TextAnalysis.repetitionStats(docs)))
  }

  test("packConcat: boundary spans, zero-token doc, bucket-count invariance") {
    // tokens [3, 4, 0, 2] at seqLen=5: cum [3, 7, 7, 9]
    val docs = Seq(
      (10L, 3L), (20L, 4L), (25L, 0L), (30L, 2L)).toDF("doc_id", "n_tokens")
    def run(nb: Int) = SequencePack.packConcat(
        docs, col("n_tokens"), col("doc_id"), seqLen = 5, nb = nb)
      .select("doc_id", "cum_tokens", "seq_first", "seq_last", "seq_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val got = run(4)
    assert(got == Seq(
      (10L, 3L, 0L, 0L, 0L),  // fits in seq 0
      (20L, 7L, 0L, 1L, 3L),  // spans the 5-token boundary
      (25L, 7L, 1L, 1L, 2L),  // zero tokens: sits where it falls
      (30L, 9L, 1L, 1L, 2L)))
    // the bucket count partitions the prefix sum, never the values
    assert(run(1) == got && run(8) == got)
    // empty input: no rows, no crash
    assert(SequencePack.packConcat(docs.limit(0), col("n_tokens"),
      col("doc_id"), seqLen = 5).count() == 0)
  }

  test("gtFilteredTracks with no qualifying match is empty, not an error") {
    val gt = oneBox("s", 1, 1, 0, 0)
    val tr = oneBox("s", 1, 2, 900, 900)
    assert(MotEval.gtFilteredTracks(gt.withColumn("conf", lit(1.0)),
      tr.withColumn("conf", lit(1.0)), 0.3).count() == 0)
  }

  test("spanDedup: first-occurrence keep, within-doc repeats, full erasure") {
    val docs = Seq(
      (1L, "a b c d e f"),      // spans (w=3): "a b c", "d e f"
      (2L, "a b c x"),          // "a b c" dup of doc 1 -> only "x" kept
      (3L, "a b c d e f"),      // both spans seen -> doc vanishes
      (4L, "p q r p q r p"),    // within-doc repeat: 2nd "p q r" drops
      (5L, "")                  // empty text -> filtered pre-chunking
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, spanWords = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 4L))       // 3 erased, 5 empty
    assert(out(1L) == (("a b c d e f", 2L, 2L)))
    assert(out(2L) == (("x", 2L, 1L)))          // partial last span kept
    assert(out(4L) == (("p q r p", 3L, 2L)))    // repeat dropped, tail kept
    // empty input: no rows, no crash
    assert(Dedup.spanDedup(docs.limit(0), 3).count() == 0)
  }

  test("stratifiedSampleByHash: negative ids gate like positives (pmod, not %)") {
    // threshold 0 must drop EVERYTHING — Spark's % would hand negative
    // ids a negative hash, below 0, keeping them all
    val docs = Seq((-5L, "a"), (-1L, "a"), (3L, "a")).toDF("doc_id", "k")
    val kept = graft.operators.TextAnalysis.stratifiedSampleByHash(
      docs, col("k"), col("doc_id"), Seq("a" -> 0L), defaultThreshold = 0L)
    assert(kept.count() == 0)
    // full threshold keeps everything, signs included
    val all = graft.operators.TextAnalysis.stratifiedSampleByHash(
      docs, col("k"), col("doc_id"),
      Seq("a" -> graft.operators.TextAnalysis.SampleModulus), defaultThreshold = 0L)
    assert(all.count() == 3)
  }

  test("bigramLmScore: hand-computed add-one-smoothed conditionals") {
    // corpus: doc1 "a a b", doc2 "a b"; vocab(top-2) = {a, b}
    // bigrams: (^,a)x2, (a,a)x1, (a,b)x2; c(^)=2, c(a)=3; denom = V+2 = 4
    // p(^,a) = 3/6 = 0.5           -> 500000000
    // p(a,a) = 2/7                 -> 285714286
    // p(a,b) = 3/7                 -> 428571429
    val docs = Seq((1L, "a a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bigramLmScore(docs, vocabSize = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 2L)) // empty doc dropped
    assert(out(1L) == ((3L, 500000000L + 285714286L + 428571429L)))
    assert(out(2L) == ((2L, 500000000L + 428571429L)))
  }

  test("perplexityBuckets: threshold invariants, tie cohesion, degenerate collapse") {
    // data-independent invariants of the threshold form (hold on ANY
    // input, unlike bucket-size equalities a rank ntile would give):
    // buckets are monotone score bands, ties share a bucket, the tail
    // covers at least ceil(n/3) rows, tail+middle at least ceil(2n/3)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextAnalysis.perplexityBuckets(docs, vocabSize = 64)
      .select("lang", "qk", "ppl_bucket", "kept").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val n = rows.length
      def qs(b: String) = rows.filter(_._3 == b).map(_._2)
      val (tail, mid, head) = (qs("tail"), qs("middle"), qs("head"))
      assert(tail.length >= (n + 2) / 3, s"$lang tail too small")
      assert(tail.length + mid.length >= (n * 2 + 2) / 3, s"$lang tail+middle too small")
      if (tail.nonEmpty && mid.nonEmpty) assert(tail.max < mid.min, lang)
      if (mid.nonEmpty && head.nonEmpty) assert(mid.max < head.min, lang)
      if (tail.nonEmpty && head.nonEmpty) assert(tail.max < head.min, lang)
      // a score value can never span two buckets
      rows.groupBy(_._2).foreach { case (_, same) =>
        assert(same.map(_._3).distinct.length == 1, s"$lang tie split across buckets")
      }
      rows.foreach { case (_, _, b, kept) => assert(kept == (b != "tail")) }
    }
    // degenerate distribution: one distinct score => both cutoffs are
    // that score => everything is tail (threshold semantics collapse
    // where a rank ntile would fabricate a split among exact ties)
    import spark.implicits._
    val flat = Seq((1L, "x y", "en"), (2L, "x y", "en"), (3L, "x y", "en"))
      .toDF("doc_id", "text", "lang")
    val fb = TextAnalysis.perplexityBuckets(flat, vocabSize = 2)
      .select("ppl_bucket").collect().map(_.getString(0))
    assert(fb.length == 3 && fb.forall(_ == "tail"))
  }

  test("combine of a single sequence equals that sequence's counts") {
    val gt = oneBox("s", 1, 1, 0, 0).union(oneBox("s", 2, 1, 0, 0))
    val tr = oneBox("s", 1, 1, 1, 1).union(oneBox("s", 2, 1, 1, 1))
    val per = MotEval.metrics(gt, tr, 0.3)
    val c = MotEval.combine(per).head()
    assert(c.getAs[String]("seq") == "COMBINED")
    assert(c.getAs[Long]("CLR_TP") == per.head().getAs[Long]("CLR_TP"))
  }
}
