package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.operators.TextAnalysis.{SampleLcgA, SampleLcgC, SampleModulus}

/** The hashed-feature classifier (t17): discrimination on separable
  * data, deterministic tie-breaks and partitioning-independence, the
  * broadcast scoring plan, and the empty-train guard. The oracle
  * parity gate covers the decision math on the catalog corpus (where
  * every lang shares one vocabulary and majority-collapse is the
  * correct answer); THIS spec is where actual class separation is
  * pinned, on a fixture that has it.
  */
class HashClassifierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def gate(id: Long): Long = {
    val m = (id * SampleLcgA + SampleLcgC) % SampleModulus
    if (m < 0) m + SampleModulus else m
  }

  /** Two fully separable vocabularies — label "x" docs speak only
    * x-words, label "y" docs only y-words. Doc ids 0..99 so the LCG
    * gate populates both splits for both labels.
    */
  private def separable = (0L until 100L).map { i =>
    val l = if (i % 2 == 0) "x" else "y"
    val words = if (l == "x") Seq("alpha", "bravo", "charlie", "delta")
                else Seq("uno", "dos", "tres", "cuatro")
    val text = (0 until 12).map(j => words((i + j).toInt % 4)).mkString(" ")
    (i, l, text)
  }.toDF("doc_id", "lang", "text")

  test("fully separable vocabularies classify the holdout perfectly") {
    val docs = separable
    val nTrainX = (0L until 100L).count(i => i % 2 == 0 && gate(i) < SampleModulus / 2)
    val nTrainY = (0L until 100L).count(i => i % 2 == 1 && gate(i) < SampleModulus / 2)
    assert(nTrainX > 0 && nTrainY > 0, "fixture must train both labels")
    val out = TextAnalysis.hashClassifier(docs).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[String]("pred_label") == r.getAs[String]("label")),
      "disjoint vocabularies must classify every held-out doc correctly")
  }

  test("output is identical under a different input partitioning") {
    val docs = separable
    val a = TextAnalysis.hashClassifier(docs).collect().map(_.toString).sorted.toSeq
    val b = TextAnalysis.hashClassifier(docs.repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("score ties break to the lexicographically smallest label") {
    // equal train token mass per label -> equal smoothing floors; a
    // holdout doc of tokens unseen in training scores the identical
    // floor sum under both labels -> the tie must resolve to "a"
    val trainIds = (0L until 100L).filter(i => gate(i) < SampleModulus / 2)
    val holdId = (0L until 100L).find(i => gate(i) >= SampleModulus / 2).get
    val rows = trainIds.take(4).zipWithIndex.map { case (id, j) =>
      (id, if (j % 2 == 0) "a" else "b", "common words here now")
    } :+ ((holdId, "a", "zzz qqq xxx"))
    val out = TextAnalysis.hashClassifier(rows.toDF("doc_id", "lang", "text"))
      .where(col("doc_id") === holdId).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("pred_label") == "a")
  }

  test("scoring joins the broadcast model, not a shuffled one") {
    val plan = TextAnalysis.hashClassifier(separable)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model join must broadcast:\n${plan.take(3000)}")
  }

  test("an empty train split fails loudly") {
    // every doc id routed to the holdout side of the gate
    val ids = (0L until 5000L).filter(i => gate(i) >= SampleModulus / 2).take(6)
    val docs = ids.map(i => (i, "x", "some words")).toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.hashClassifier(docs)
    }
    assert(e.getMessage.contains("train split is empty"))
  }

  test("a model persisted to parquet and rebuilt scores identically (the t18 round-trip)") {
    val docs = separable
    val half = SampleModulus / 2
    val g = pmod(col("doc_id") * lit(SampleLcgA) + lit(SampleLcgC),
      lit(SampleModulus))
    val model = TextAnalysis.hashClfTrain(docs.filter(g < half))
    val direct = TextAnalysis.hashClassifierScoreUnder(model, docs.filter(g >= half))
      .collect().map(_.toString).sorted.toSeq
    val dir = SparkTestBase.tempDir("graft_clf_rt").toString
    model.counts.write.mode("overwrite").parquet(s"$dir/counts")
    val rebuilt = TextAnalysis.hashClfModelOf(
      spark.read.parquet(s"$dir/counts"), model.hashHexChars)
    assert(rebuilt.labels == model.labels)
    assert(rebuilt.totals == model.totals)
    val probed = TextAnalysis.hashClassifierScoreUnder(rebuilt, docs.filter(g >= half))
      .collect().map(_.toString).sorted.toSeq
    assert(probed == direct)
  }

  test("every held-out doc with tokens appears exactly once (catalog fixture)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.hashClassifier(docs)
    val expected = docs
      .where(size(graft.functions.Text.tokens(col("text"))) > 0)
      .where(pmod(col("doc_id") * lit(SampleLcgA) + lit(SampleLcgC),
        lit(SampleModulus)) >= SampleModulus / 2)
      .count()
    assert(out.count() == expected)
    assert(out.select("doc_id").distinct().count() == expected)
  }
}
