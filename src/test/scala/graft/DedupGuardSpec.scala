package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.row_number
import graft.operators.Dedup

/** The LSH per-bucket blow-up guards (Dedup.bandsKeptByRank, the cap
  * filter, and Dedup.bandsRoutedByRank, the route filter) over a band
  * table with a per-bucket rank: a pathological band bucket produces
  * CAPPED output plus a nonzero, observable truncation metric — never
  * a silent quadratic blow-up — while any bucket under the cap is
  * bit-identical to the unguarded form (the d05 catalog-hash-
  * invariance claim in miniature). The fixtures rank inline with the
  * same window the band artifact stores its ranks from.
  */
class DedupGuardSpec extends AnyFunSuite {
  import DedupGuardSpec.rank
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  /** The sf0.001 smoke dataset (TESTDATA.md). */
  private val smoke = new java.io.File(sys.props("user.home"), "testdata/sf0.001").toString

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def banded = DedupGuardSpec.banded(spark)

  test("pathological bucket: pairs capped, truncation metric nonzero and exact") {
    val obs = Observation("d05_guard_patho")
    val got = pairs(Dedup.minhashCandidatesFromBands(
      Dedup.bandsKeptByRank(rank(banded), "bucket_rank", 10, Some(obs), obs.name)))
    // the big bucket contributes C(10,2)=45 pairs from its 10 smallest
    // doc_ids; the healthy buckets contribute C(3,2)+C(2,2)=3+1 intact
    val bigKept = (0L until 10L)
    val expected =
      (for (a <- bigKept; b <- bigKept if a < b) yield (a, b)).toSet ++
        Set((200L, 201L), (200L, 202L), (201L, 202L), (300L, 301L))
    assert(got == expected)
    val m = obs.get
    assert(m("truncated_doc_slots") == 90L,
      s"expected 90 truncated doc slots, got ${m("truncated_doc_slots")}")
    assert(m("doc_slots") == 105L)
  }

  test("buckets under the cap: capped form is bit-identical to the unguarded form") {
    val obs = Observation("d05_guard_clean")
    val capped = pairs(Dedup.minhashCandidatesFromBands(
      Dedup.bandsKeptByRank(rank(banded), "bucket_rank", 4096, Some(obs), obs.name)))
    val uncapped = pairs(Dedup.minhashCandidatesFromBands(banded))
    assert(capped == uncapped)
    assert(obs.get("truncated_doc_slots") == 0L,
      "cap above every bucket must truncate nothing")
    // the unguarded big bucket really is quadratic — the thing the
    // guard exists to bound: C(100,2) + 3 + 1
    assert(uncapped.size == 4954)
  }

  /** The ingest-probe guard (round 18): a batch probing a corpus with
    * one pathological bucket multiplies by the CAP, not the bucket —
    * and the batch side is never cut.
    */
  private def bandedBatch = Seq(
    (0, "sigBIG", 1000L), (0, "sigBIG", 1001L),  // hit the big bucket
    (1, "sigA", 1002L),                           // hit a healthy bucket
    (3, "sigZ", 1003L)                            // no corpus collision
  ).toDF("band", "band_sig", "doc_id")

  test("ingest probe: corpus bucket capped, batch side complete, truncation exact") {
    val obs = Observation("ingest_guard_patho")
    val got = pairs(Dedup.minhashCandidatesAgainstFromBands(bandedBatch,
      Dedup.bandsKeptByRank(rank(banded, "corpus_rank"), "corpus_rank", 10,
        Some(obs), obs.name)))
    // each colliding batch doc sees the bucket's first 10 corpus docs
    // (doc_id order), never the full 100; the healthy bucket is intact
    val expected =
      (for (a <- Seq(1000L, 1001L); b <- 0L until 10L) yield (a, b)).toSet ++
        Set((1002L, 200L), (1002L, 201L), (1002L, 202L))
    assert(got == expected)
    val m = obs.get
    assert(m("truncated_doc_slots") == 90L,
      s"expected 90 truncated corpus slots, got ${m("truncated_doc_slots")}")
    assert(m("doc_slots") == 105L)
  }

  test("ingest probe under the cap: identical to the unguarded asymmetric form") {
    val obs = Observation("ingest_guard_clean")
    val capped = pairs(Dedup.minhashCandidatesAgainstFromBands(bandedBatch,
      Dedup.bandsKeptByRank(rank(banded, "corpus_rank"), "corpus_rank", 4096,
        Some(obs), obs.name)))
    val uncapped = pairs(Dedup.minhashCandidatesAgainstFromBands(bandedBatch, banded))
    assert(capped == uncapped)
    assert(obs.get("truncated_doc_slots") == 0L)
    // the unguarded probe really multiplies by the full bucket:
    // 2×100 + 3
    assert(uncapped.size == 203)
  }

  test("precomputed-rank guard equals the window guard (the artifact fast path)") {
    // the catalog guards filter the band artifact's STORED ranks
    // instead of running a probe-time window, so each stored rank must
    // be exactly the window it replaced, recomputed here from raw text:
    // bucket_rank = row_number over (band, band_sig), corpus_rank =
    // row_number over (band, band_sig, side) on the corpus side and
    // null on the src0 (batch) rows
    import org.apache.spark.sql.functions.{col, when}
    val data = smoke
    val docs = Tables.documents(spark, data)
    val isCorpus = col("source") =!= "src0"
    val fresh = Dedup.bandSignatures(docs, 16, 2, "text")
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .withColumn("bucket_rank", row_number().over(
        Window.partitionBy("band", "band_sig").orderBy("doc_id")))
      .withColumn("corpus_rank", when(isCorpus, row_number().over(
        Window.partitionBy(col("band"), col("band_sig"), isCorpus).orderBy("doc_id"))))
    def rows(df: DataFrame) = df
      .select("doc_id", "band", "band_sig", "source", "bucket_rank", "corpus_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getInt(4), Option(r.get(5)).map(_.asInstanceOf[Int])))
      .toSet
    val stored = rows(graft.queries.TextQ.bandSigs(spark, data))
    val want = rows(fresh)
    assert(stored.size == want.size, s"${stored.size} stored rows vs ${want.size} recomputed")
    assert(stored == want, (stored diff want).take(5).mkString("stored-only: ", ", ", ""))
    val batch = stored.filter(_._4 == "src0")
    assert(batch.nonEmpty, "fixture regression: no src0 rows")
    assert(batch.forall(_._6.isEmpty), "corpus_rank must be null on src0 rows")
    assert(stored.exists(_._5 > 1) && stored.exists(_._6.exists(_ > 1)),
      "fixture regression: no multi-doc bucket to rank")
  }

  /** The ROUTED hybrid probe (round 20 — the executor for the
    * maintenance report's route= recommendation): a batch doc whose
    * ONLY verified duplicates rank past the cap is MERGED under
    * routing, while the plain capped tier (the d09 shape) reports it
    * kept — the under-merge window closed by construction, plus the
    * healthy-store identity and the routed-branch observability.
    */
  test("routed probe merges past-cap duplicates the capped tier misses") {
    import org.apache.spark.sql.functions.col
    // corpus: 100 docs in ONE band bucket; only doc_ids 40/41 (ranks
    // 41/42) share text with the batch doc — everything else is
    // per-doc junk, so at cap=10 the batch doc's only true duplicates
    // rank past the cap
    val docs = ((0 until 100).map { i =>
      val text = if (i == 40 || i == 41) "alpha beta gamma delta"
        else s"junk$i filler$i noise$i"
      (i.toLong, text)
    } :+ (1000L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val sets = Dedup.gramSets(docs)
    val corpusBands = (0 until 100).map(i => (0, "sigBIG", i.toLong, i + 1))
      .toDF("band", "band_sig", "doc_id", "corpus_rank")
    val batchBands = Seq((0, "sigBIG", 1000L)).toDF("band", "band_sig", "doc_id")
    def nDups(cands: org.apache.spark.sql.DataFrame): Long =
      Dedup.jaccardPairsFromSets(sets, cands, minJaccard = 0.5)
        .filter(col("doc_a") === 1000L).count()
    // the plain capped tier truncates the bucket at 10 and misses both
    val capped = Dedup.minhashCandidatesAgainstFromBands(batchBands,
      Dedup.bandsKeptByRank(corpusBands, "corpus_rank", 10,
        metricName = "route_spec_capped"))
    assert(nDups(capped) == 0L,
      "fixture regression: the capped tier should miss the past-cap duplicates")
    // the routed probe dispatches the overflowing bucket's FULL
    // membership — both duplicates found, branch volume observable
    val obs = Observation("route_spec")
    val routed = Dedup.minhashCandidatesAgainstFromBands(batchBands,
      Dedup.bandsRoutedByRank(corpusBands, "corpus_rank", 10, Some(obs)))
    assert(nDups(routed) == 2L,
      "routed probe must merge the duplicates ranking past the cap")
    val m = obs.get
    assert(m("routed_doc_slots") == 100L && m("routed_buckets") == 1L, m.toString)
    // routed candidates == uncapped candidates (the by-construction
    // under-merge-window close)
    val uncapped = pairs(Dedup.minhashCandidatesAgainstFromBands(batchBands,
        corpusBands.drop("corpus_rank")))
    val routedSet = pairs(Dedup.minhashCandidatesAgainstFromBands(batchBands,
        Dedup.bandsRoutedByRank(corpusBands, "corpus_rank", 10)))
    assert(routedSet == uncapped)
    // a healthy store (cap above every bucket) routes NOTHING — the
    // routed form degenerates to the capped tier with a zero-row
    // routed branch, metrics reading 0 (not null)
    val obsH = Observation("route_spec_healthy")
    val healthy = pairs(Dedup.minhashCandidatesAgainstFromBands(batchBands,
        Dedup.bandsRoutedByRank(corpusBands, "corpus_rank", 4096, Some(obsH))))
    assert(healthy == uncapped)
    val mh = obsH.get
    assert(mh("routed_doc_slots") == 0L && mh("routed_buckets") == 0L, mh.toString)
  }

  test("dedup-maintain CLI: a pathological bucket flips route= to the routed executor, truncation exact") {
    // the report-triad reader end-to-end (VERDICT r18 #1): drive the
    // sf0.001 corpus — whose planted duplicate groups form band
    // buckets far past a cap of 8 — through the maintenance CLI with
    // that cap, and the recommendation must flip, with the truncation
    // metric agreeing EXACTLY with an independent window recomputation
    // from raw text (never the artifact's own stored ranks)
    val data = smoke
    val cap = 8
    val msg = Run.run(spark, "dedup-maintain", Seq(s"data=$data", s"cap=$cap"))
    val kvs = msg.split(' ').tail.map(_.split("=", 2))
      .map(a => a(0) -> a(1)).toMap
    val buckets = Dedup.bandSignatures(
        Tables.documents(spark, data), 16, 2, "text")
      .groupBy("band", "band_sig").count()
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val sizes = buckets.map(_._3)
    val wantMax = sizes.max
    val wantOverflow = sizes.count(_ > cap).toLong
    val wantTruncated = sizes.map(n => math.max(0L, n - cap)).sum
    val wantSlots = sizes.sum
    assert(wantOverflow > 0L, "fixture regression: no bucket exceeds 8 docs")
    assert(kvs("max_bucket").toLong == wantMax, msg)
    assert(kvs("overflow_buckets").toLong == wantOverflow, msg)
    assert(kvs("truncated_doc_slots").toLong == wantTruncated, msg)
    assert(kvs("doc_slots").toLong == wantSlots, msg)
    // since round 20 the recommendation names the EXECUTOR — the
    // routed hybrid probe — instead of advising a manual tier switch
    assert(kvs("route") == "routed_hybrid(d26_routed_dedup)", msg)
    // per-bucket detail (VERDICT r19 #2): the top-3 overflowing
    // (band:band_sig:size) keys, EXACTLY as an independent window
    // recomputation from raw text orders them
    val wantTop = buckets.filter(_._3 > cap)
      .sortBy { case (b, sig, n) => (-n, b, sig) }.take(3)
      .map { case (b, sig, n) => s"$b:$sig:$n" }.mkString(",")
    assert(kvs("top_overflow") == wantTop, msg)
    // the same store at the production cap reports healthy — the flip
    // is the cap crossing the bucket histogram, not a sticky state
    val healthy = Run.run(spark, "dedup-maintain", Seq(s"data=$data"))
      .split(' ').tail.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    assert(healthy("route") == "no", healthy.toString)
    assert(healthy("top_overflow") == "none", healthy.toString)
  }

  test("bucket-local rank commutes with a pruned read (the st6 static-side claim)") {
    // capping a bucket-pruned slice must equal pruning the capped
    // table — the property that lets st6 cap its prefix-pruned
    // per-trigger static side and still match the full-table oracle
    val pruned = banded.filter($"band_sig" === "sigBIG")
    val a = Dedup.bandsKeptByRank(rank(pruned), "bucket_rank", 10, metricName = "g_pruned")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val b = Dedup.bandsKeptByRank(rank(banded), "bucket_rank", 10, metricName = "g_full")
      .filter($"band_sig" === "sigBIG")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b && a.size == 10)
  }

  test("routing commutes with a pruned read (the st12 static-side claim)") {
    // the routing decision (rank == cap+1) is bucket-local like the
    // rank, so routing a bucket-complete pruned slice must equal
    // pruning the routed table — what lets st12 route its prefix-
    // pruned per-trigger static side and still match the full oracle
    val ranked = rank(banded, "corpus_rank")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val a = rows(Dedup.bandsRoutedByRank(
      ranked.filter($"band_sig" === "sigBIG"), "corpus_rank", 10))
    val b = rows(Dedup.bandsRoutedByRank(ranked, "corpus_rank", 10)
      .filter($"band_sig" === "sigBIG"))
    assert(a == b)
    // and the overflowing bucket is routed in FULL (the whole point)
    assert(a.size == 100)
  }

  test("ranked-block clique equals the reference clique (the skew-spread form)") {
    // minhashCandidatesFromRankedBands splits each bucket into rank
    // blocks so a mega-bucket's clique generates across many tasks;
    // the pair SET must be identical to the reference self-join for
    // every block size, including ones that slice the 100-doc bucket
    // many ways and ones larger than any bucket
    val ranked = rank(banded)
    val reference = pairs(Dedup.minhashCandidatesFromBands(banded))
    for (bs <- Seq(1, 3, 7, 128)) {
      val blocked = pairs(Dedup.minhashCandidatesFromRankedBands(ranked, blockSize = bs))
      assert(blocked == reference, s"blockSize=$bs diverged from reference")
    }
    // and under the stored-rank guard (the exact d05 composition):
    // guard first, then blocked clique == guarded reference clique
    val guardedRef = pairs(Dedup.minhashCandidatesFromBands(
        Dedup.bandsKeptByRank(ranked, "bucket_rank", 10, metricName = "g_ref")))
    val guardedBlk = pairs(Dedup.minhashCandidatesFromRankedBands(
        Dedup.bandsKeptByRank(ranked, "bucket_rank", 10, metricName = "g_blk"),
        blockSize = 4))
    assert(guardedBlk == guardedRef)
    // gapped ranks (a filtered slice of an all-rows ranking, the
    // clusterArtifact composition) must also agree: monotone rank is
    // all the owner-block argument needs
    val gapped = ranked.filter($"doc_id" % 2 === 0)
    val gapRef = pairs(Dedup.minhashCandidatesFromBands(gapped))
    val gapBlk = pairs(Dedup.minhashCandidatesFromRankedBands(gapped, blockSize = 3))
    assert(gapBlk == gapRef)
  }
}

object DedupGuardSpec {
  def rank(banded: DataFrame, rankCol: String = "bucket_rank"): DataFrame =
    banded.withColumn(rankCol,
      row_number().over(Window.partitionBy("band", "band_sig").orderBy("doc_id")))

  /** 100 docs colliding in ONE band bucket (the pathological cluster)
    * plus a 3-doc and a 2-doc healthy bucket.
    */
  def banded(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ((0 until 100).map(i => (0, "sigBIG", i.toLong)) ++
      Seq((1, "sigA", 200L), (1, "sigA", 201L), (1, "sigA", 202L),
        (2, "sigB", 300L), (2, "sigB", 301L))
    ).toDF("band", "band_sig", "doc_id")
  }
}
