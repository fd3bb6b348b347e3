package graft.tools

import graft.{Bench, Derived, LocalSession}

/** Measures the Derived first-touch cost the bench-isolation hook
  * makes every MOT-operator query pay: cold materialization of each
  * derived table at the given SF dir, then the warm (cached) re-read,
  * then a representative consumer (the f01 cascade count) cold vs
  * warm. Run: `runMain graft.tools.ProfileDerived [sfDir]`.
  */
object ProfileDerived {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    // JVM/codegen warmup outside the measurements (Bench does the same)
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    for (round <- 1 to 2) {
      Bench.isolate(spark)
      time(s"r$round dets cold")(Derived.table(spark, dir, "dets").count())
      time(s"r$round dets warm")(Derived.table(spark, dir, "dets").count())
      time(s"r$round gt cold")(Derived.table(spark, dir, "gt").count())
      time(s"r$round tracks cold(gt warm)")(Derived.table(spark, dir, "tracks").count())
      time(s"r$round gt_emb cold(gt warm)")(Derived.table(spark, dir, "gt_emb").count())
    }
    // representative consumer: f01's cascade over dets
    import org.apache.spark.sql.functions._
    def f01() = {
      val dets = Derived.table(spark, dir, "dets")
      graft.operators.DetectFilters.cascade(dets, col("score"),
        col("x1"), col("y1"), col("x2"), col("y2"),
        lit(800.0), lit(800.0),
        confThreshold = 0.5, minSize = 100.0, edgeTol = 4.0).count()
    }
    Bench.isolate(spark)
    time("f01 cold (incl dets)")(f01())
    time("f01 warm")(f01())
    spark.stop()
  }
}
