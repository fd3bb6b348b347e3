package graft

/** BASELINE.md anchor timing, plus a two-point scaling sweep.
  *
  * Default: the reference's "typical dataset" shape (1000 frames × 50
  * objects ≈ 50k gt rows, src/utils/eval.py:685-689), timed warm.
  * `sweep` arg: adds the 10× point (10000 frames ≈ 500k rows) so the
  * metrics pipeline's scaling curve is measured, not assumed — the
  * anchor is one sequence, so its metrics kernel is one task whose
  * primitive sorts grow ~n log n with rows. Not a gated benchmark; run
  * `sbt "runMain graft.Anchor sweep"` and record in PLANS.md.
  */
object Anchor {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.build("32", logLevel = "ERROR")
    val d = "/root/testdata/sf0.1"
    def timeWarm(frames: Int): Double = {
      // warm-up: session + codegen + file scan + cache fill
      graft.queries.KernelQ.anchorMetrics(spark, d, frames).collect()
      val t0 = System.nanoTime()
      val rows = graft.queries.KernelQ.anchorMetrics(spark, d, frames).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val gt = rows.head.getLong(2) // GT_Dets
      println(f"anchor metrics (warm, $frames frames, gt_dets=$gt) in $sec%.2f s")
      sec
    }
    val base = timeWarm(1000)
    if (args.contains("sweep")) {
      val x10 = timeWarm(10000)
      println(f"scaling: 10x rows -> ${x10 / base}%.1fx time (linear = 10x)")
    }
    spark.stop()
  }
}
