package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** 100 TB layout evidence: a table written `partitionBy(key)` must be
  * read with PARTITION pruning (the scan lists only matching
  * directories) and with predicate pushdown on data columns — the two
  * mechanisms that turn a 100 TB scan into a targeted read. Asserted on
  * the physical plan, not inferred from timings.
  */
class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("partitioned write + filtered read: partition filters prune directories") {
    val dir = SparkTestBase.tempDir("pp").toString
    (0 until 1000).map(i => (i.toLong, s"t${i % 5}", i * 1.5))
      .toDF("id", "event_type", "value")
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)

    val q = spark.read.parquet(dir)
      .filter(col("event_type") === "t3" && col("value") > 100.0)
      .select("id")

    val scan = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    // partition pruning: only the t3 directory is listed
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      s"no partition filter in ${scan.partitionFilters}")
    assert(scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .forall(_.values.toString.contains("t3")))
    // data-column pushdown reaches the parquet reader
    assert(scan.metadata("PushedFilters").contains("GreaterThan(value,100.0)"),
      scan.metadata("PushedFilters"))
    // column pruning: only referenced columns are read
    assert(scan.requiredSchema.fieldNames.toSet == Set("id", "value"))
    // and the answer is right
    assert(q.count() == (0 until 1000).count(i => i % 5 == 3 && i * 1.5 > 100.0))
  }

  test("dynamic partition count: one directory per key, stats see the split") {
    val dir = SparkTestBase.tempDir("pp2").toString
    (0 until 100).map(i => (i, s"p${i % 4}")).toDF("v", "k")
      .write.partitionBy("k").mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("k="))
    assert(parts == 4)
    // unfiltered read still sees every row
    assert(spark.read.parquet(dir).count() == 100)
  }
}
