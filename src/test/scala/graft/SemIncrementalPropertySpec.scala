package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SimilaritySearch}

/** Randomized multi-batch invariant for incremental SemDeDup (round-16
  * verdict item 6, the CcSpec pattern): for ANY split of the vectors
  * into corpus + a sequence of ingest batches, folding the batches one
  * at a time through semDeDupIncremental under a shared frozen
  * centroid model must land bit-identically on batch semDeDup over the
  * full table — beyond the catalog's fixed two-slice pin (d21), this
  * drives skewed and empty batches, multi-batch chains, and duplicate
  * pairs that straddle a batch boundary.
  */
class SemIncrementalPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val K = 6
  private val Iters = 2
  private val Tau = 0.80

  private def synth(n: Int, dims: Int = 16): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(42)
    val rows = (0 until n).map(i => (i, Array.fill(dims)(rng.nextFloat() * 2 - 1)))
    // exact copies at (10,40) and (11,55), a near-copy at (12,56):
    // guaranteed duplicate groups that random splits will straddle
    val tweaked = rows.map {
      case (40, _) => (40, rows(10)._2.clone())
      case (55, _) => (55, rows(11)._2.clone())
      case (56, _) => (56, rows(12)._2.map(x => x * 0.999f))
      case r => r
    }
    tweaked.toDF("vec_id", "embedding")
  }

  /** The semantic-artifact state over a corpus slice under frozen
    * centroids — the test-side replica of TextQ.SemStore's build
    * (assign, within-cluster edges at Tau, CC, left-join labels).
    */
  private def stateOf(corpus: org.apache.spark.sql.DataFrame,
                      cents: Array[(Int, Array[Float])]): org.apache.spark.sql.DataFrame = {
    val assignC = SimilaritySearch.assignWithCentroids(corpus, cents)
    val withVec = assignC.join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = withVec.select(col("cluster"), col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = withVec.select(col("cluster"), col("vec_id").as("id_b"), col("embedding").as("v_b"))
    val edges = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(graft.functions.Vectors.cosineQNative(col("v_a"), col("v_b")), 9))
      .filter(col("cosine") >= Tau)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val groups = Dedup.connectedComponents(edges, distinctEdges = false)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("dup_group"))
    assignC.join(groups, Seq("vec_id"), "left")
      .withColumn("dup_group", coalesce(col("dup_group"), col("vec_id")))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("vec_id", "cluster", "cos_centroid", "dup_group", "group_size", "keep")
      .collect().map(_.toString).sorted.toSeq

  test("incremental == batch on randomized multi-batch splits (incl. skew + empty batches)") {
    val emb = synth(80).cache()
    emb.count()
    val cents = SimilaritySearch.kmeansCentroids(emb, K, Iters)
    // the reference: batch semDeDup over the full table — same k/iters
    // seeds the same centroids, so the frozen model is shared
    val want = rowsOf(Dedup.semDeDup(emb, K, Iters, Tau))
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      // each id draws corpus (-1) or one of 3 batches; seed 3 skews
      // hard (batch 2 nearly empty) via a second draw
      val lot = (0 until 80).map { id =>
        val b = rng.nextInt(5) - 1 // -1, 0..3 → corpus ~20%, 4 batches
        id -> math.min(b, 2)      // fold 3 into 2: one oversized batch
      }.toMap
      val corpus = emb.filter(col("vec_id").isin(
        lot.collect { case (id, -1) => id }.toSeq: _*))
      var state = stateOf(corpus, cents)
      for (bi <- 0 to 2) {
        val ids = lot.collect { case (id, `bi`) => id }.toSeq
        val batch = emb.filter(col("vec_id").isin(ids: _*))
        state = Dedup.semDeDupIncremental(
          batch = batch, corpusState = state, vectors = emb,
          cents = cents, threshold = Tau)
      }
      assert(rowsOf(state) == want, s"seed $seed diverged from batch semDeDup")
    }
    emb.unpersist()
  }

  test("an empty batch is an exact no-op on the state") {
    val emb = synth(50).cache()
    emb.count()
    val cents = SimilaritySearch.kmeansCentroids(emb, K, Iters)
    val state = stateOf(emb, cents)
    val after = Dedup.semDeDupIncremental(
      batch = emb.filter(lit(false)), corpusState = state, vectors = emb,
      cents = cents, threshold = Tau)
    assert(rowsOf(after) ==
      rowsOf(Dedup.semDeDupIncremental(
        batch = emb.filter(lit(false)), corpusState = state, vectors = emb,
        cents = cents, threshold = Tau)))
    // and equals the batch form over the same (full) corpus
    assert(rowsOf(after) == rowsOf(Dedup.semDeDup(emb, K, Iters, Tau)))
    emb.unpersist()
  }
}
