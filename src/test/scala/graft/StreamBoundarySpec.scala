package graft

import org.scalatest.funsuite.AnyFunSuite

/** The stream/maintenance boundary (round-16 verdict item 5): the
  * per-trigger probes the streaming ingests run inside foreachBatch
  * (prunedCorpusBands for st6/st7, prunedSemState for d21-shaped
  * consumers) must FAIL LOUDLY when the artifact store is missing for
  * the data generation — never silently rebuild a corpus-sized store
  * inside a micro-batch trigger. The build is owned by the maintenance
  * CLI (dedup-maintain/ann-maintain) or the query's pre-stream
  * resolve; a missing store at probe time is a maintenance outage and
  * must read as one.
  */
class StreamBoundarySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def freshDir(name: String, table: String): String = {
    val dir = SparkTestBase.tempDir(s"graft_$name").toFile
    val src = spark.read.parquet(s"/root/testdata/sf0.001/$table")
    src.coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, table).getAbsolutePath)
    dir.getAbsolutePath
  }

  test("prunedCorpusBands fails loudly on an unbuilt band store (no inline build)") {
    // a fresh copy of the documents table = a data generation no
    // maintenance job has ever banded
    val d = freshDir("sbound_docs", "documents.parquet")
    val e = intercept[IllegalStateException] {
      graft.queries.TextQ.prunedCorpusBands(spark, d, Seq("00", "01"))
    }
    assert(e.getMessage.contains("graft_band_artifact") &&
      e.getMessage.contains("maintenance"),
      s"missing-store probe must name the artifact and the fix: ${e.getMessage}")
    // and the probe must NOT have built anything as a side effect
    // (resolve() would have): a subsequent resolveExisting still throws
    intercept[IllegalStateException] {
      graft.queries.TextQ.prunedCorpusBands(spark, d, Seq("00"))
    }
    // after the maintenance build, the same probe serves
    graft.queries.TextQ.BandStore.resolve(spark, d)
    assert(graft.queries.TextQ.prunedCorpusBands(spark, d, Seq("00", "01"))
      .columns.toSeq == Seq("band", "band_sig", "doc_id"))
  }

  test("prunedSemState fails loudly on an unbuilt semantic store") {
    val d = freshDir("sbound_emb", "embeddings.parquet")
    val e = intercept[IllegalStateException] {
      graft.queries.TextQ.prunedSemState(spark, d, Seq(0, 1))
    }
    assert(e.getMessage.contains("graft_sem_artifact"),
      s"missing-store probe must name the artifact: ${e.getMessage}")
    graft.queries.TextQ.SemStore.resolve(spark, d)
    assert(graft.queries.TextQ.prunedSemState(spark, d, Seq(0, 1))
      .columns.toSeq == Seq("cluster", "vec_id"))
  }

  test("annCorpusIndexOfStore fails loudly on an unbuilt corpus index") {
    val d = freshDir("sbound_annc", "embeddings.parquet")
    val e = intercept[IllegalStateException] {
      graft.queries.TextQ.annCorpusIndexOfStore(spark, d)
    }
    assert(e.getMessage.contains("graft_ann_corpus_artifact"),
      s"missing-store probe must name the artifact: ${e.getMessage}")
    val built = graft.queries.TextQ.AnnCorpusStore.resolve(spark, d)
    assert(graft.queries.TextQ.annCorpusIndexOfStore(spark, d) == built)
  }

  test("annDeltaCoded emits the delta/main growth metric and unions losslessly") {
    // the delta-tier growth guard (VERDICT r16 #6): the probe's code
    // table carries an observable delta/main row balance — an
    // append-only delta outgrowing its main index must be a metric,
    // never a silent pruning erosion
    import spark.implicits._
    import org.apache.spark.sql.Observation
    val main = Seq((1L, 0, Seq(1, 2)), (2L, 0, Seq(3, 4)), (3L, 1, Seq(5, 6)))
      .toDF("vec_id", "cell", "codes")
    val delta = Seq((10L, 0, Seq(7, 8)), (11L, 1, Seq(9, 10)))
      .toDF("vec_id", "cell", "codes")
    val obs = Observation("ann_delta_guard_spec")
    val coded = graft.queries.TextQ.annDeltaCoded(main, delta, Some(obs))
    val rows = coded.collect()
    assert(rows.length == 5, "union must keep every main and delta row")
    assert(coded.columns.toSeq == Seq("vec_id", "cell", "codes"),
      "the guard tag must not leak into the probe's schema")
    assert(obs.get("main_rows") == 3L && obs.get("delta_rows") == 2L,
      s"guard metric wrong: ${obs.get}")
  }

  test("resolveExisting and resolve address the same directory") {
    // the two resolvers share locate(): a probe can never address a
    // different store than the build wrote (path-derivation drift
    // would turn every probe into a false maintenance outage)
    val d = freshDir("sbound_same", "documents.parquet")
    val built = graft.queries.TextQ.BandStore.resolve(spark, d)
    // the tag comes from the single source, not a copied literal — a
    // layout-tag bump must not silently turn this into a stale-sub
    // probe (it did in round 18's rank-column bump)
    val probed = graft.sources.ArtifactStore.resolveExisting(spark,
      "graft_band_artifact",
      Seq(new java.io.File(d, "documents.parquet")),
      sub = graft.queries.TextQ.BandArtifactTag)
    assert(built == probed)
  }
}
