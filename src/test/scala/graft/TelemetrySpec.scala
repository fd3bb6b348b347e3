package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusDrain
import graft.operators.Dedup

/** Telemetry's per-query record: each query gets exactly its own jobs,
  * stages and tasks, its named `observe()` metrics, and its failure.
  */
class TelemetrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val sc = spark.sparkContext

  test("back-to-back queries: each record counts only its own jobs, stages and tasks") {
    val t = new Telemetry(spark)
    val one = t.query("one")(sc.parallelize(1 to 10, 2))(_.count())
    val three = t.query("three")(sc.parallelize(1 to 10, 3))(rdd => (1 to 3).foreach(_ => rdd.count()))
    ListenerBusDrain(sc)
    assert(t.records.map(_.name) == Seq("one", "three"))
    assert((one.jobs, one.stages, one.tasks) == ((1L, 1L, 2L)))
    assert((three.jobs, three.stages, three.tasks) == ((3L, 3L, 9L)))
    assert(one.ok && three.ok)
    assert(three.wallS == (three.builderNs + three.planNs) / 1e9 && three.planNs > 0)
  }

  test("Pipelines.eval: jobs equal the eval's job-group count") {
    val (dir, trackFile) = PipelinesSpec.trackedFixture(spark, "telemetry_eval")
    val group = "telemetry_eval_jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
          jobs.incrementAndGet()
    }
    val t = new Telemetry(spark)
    sc.addSparkListener(counter)
    val r = try {
      sc.setJobGroup(group, "eval job count")
      val r = t.query("eval")(Pipelines.eval(spark, s"$dir/gt.txt", trackFile,
        s"$dir/eval", iouThreshold = 0.3)) { case (perSeq, combined) =>
        Pipelines.formatMetricTables(perSeq, combined)
      }
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      r
    } finally sc.removeSparkListener(counter)
    assert(r.ok, r.error)
    assert(jobs.get > 0 && r.jobs == jobs.get, s"record ${r.jobs} vs job group ${jobs.get}")
    assert(r.stages >= r.jobs && r.tasks >= r.stages)
    assert(r.analysisMs + r.optimizationMs + r.planningMs > 0)
  }

  test("a tripped LSH bucket guard shows in the record's metrics") {
    val t = new Telemetry(spark)
    val r = t.query("guard")(Dedup.minhashCandidatesFromBands(Dedup.bandsKeptByRank(
      DedupGuardSpec.rank(DedupGuardSpec.banded(spark)), "bucket_rank", 10,
      metricName = "graft_lsh_rank_guard")))(_.write.mode("overwrite").format("noop").save())
    ListenerBusDrain(sc)
    val m = r.metrics("graft_lsh_rank_guard")
    assert(m.getAs[Long]("truncated_doc_slots") == 90L)
    assert(m.getAs[Long]("doc_slots") == 105L)
    assert(r.json.contains(
      """"metrics":{"graft_lsh_rank_guard":{"truncated_doc_slots":90,"doc_slots":105}}"""),
      r.json)
  }

  test("a collect of n rows shows at least their serialized size in result_bytes") {
    val t = new Telemetry(spark)
    val rdd = sc.parallelize(0 until 200, 4).map(i => Array.fill(1000)(i.toByte))
    val r = t.query("collect")(rdd)(_.collect())
    ListenerBusDrain(sc)
    val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
    val rowBytes = rdd.collect().map(ser.serialize(_).remaining().toLong).sum
    assert(rowBytes >= 200L * 1000L)
    assert(r.resultB >= rowBytes, s"result_bytes ${r.resultB} < serialized rows $rowBytes")
    assert(r.maxTaskResultB > 0 && r.maxTaskResultB < r.resultB)
    assert(r.json.contains(
      s""""result_bytes":${r.resultB},"max_task_result_bytes":${r.maxTaskResultB}"""), r.json)
  }

  test("a query that throws: ok = false and the exception class in the record") {
    val t = new Telemetry(spark)
    val r = t.query("boom")(throw new IllegalStateException("no input"))(_ => ())
    ListenerBusDrain(sc)
    assert(!r.ok)
    assert(r.error.contains("java.lang.IllegalStateException: no input"))
    assert(r.json.startsWith(
      """{"query":"boom","ok":false,"error":"java.lang.IllegalStateException: no input","""),
      r.json)
    assert(r.planNs == 0L && r.jobs == 0L)
  }
}
