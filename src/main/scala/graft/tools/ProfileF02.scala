package graft.tools

import graft.{Bench, Derived, LocalSession, SparkEntry}

/** Where does f02's isolated first-touch CPU go? Round-12 driver record:
  * f02 7.91 s wall / 31 CPU-s vs f01 3.20/21.7 on the same cached dets
  * base — reproducible locally only AFTER the d-queries have run
  * (f02 ≈ 4.5 s / 24 CPU-s following d01–d16; ≈ 2.3 s in a fresh
  * session). This main replays the bench context and splits f02 into
  * (a) Derived dets materialization, (b) the maskStats projection, to
  * attribute the delta. Run: sbt "runMain graft.tools.ProfileF02".
  */
object ProfileF02 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def time[T](label: String)(body: => T): T = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val r = body
      println(f"[prof] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s  cpu ${(osBean.getProcessCpuTime - c0) / 1e9}%6.1f s")
      r
    }
    def runQ(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    // bench-like heavy context (the condition under which the gap shows)
    for (q <- Seq("d05_minhash_lsh_pairs", "d06_embedding_neardup",
        "d07_dedup_clusters", "d16_simhash64_ball")) {
      Bench.isolate(spark); time(s"context $q")(runQ(q))
    }
    Bench.isolate(spark)
    time("dets materialize alone")(Derived.table(spark, dir, "dets").count())
    time("f02 rest (dets warm)")(runQ("f02_mask_filter"))
    Bench.isolate(spark)
    time("f02 cold")(runQ("f02_mask_filter"))
    time("f02 warm (no isolation)")(runQ("f02_mask_filter"))
    Bench.isolate(spark)
    time("f01 cold")(runQ("f01_filter_cascade"))
    Bench.isolate(spark)
    time("f02 cold again")(runQ("f02_mask_filter"))
    spark.stop()
  }
}
