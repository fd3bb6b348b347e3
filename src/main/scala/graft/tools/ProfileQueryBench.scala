package graft.tools

import graft.LocalSession

/** Reproduce the bench's exact timed region (isolation resets + noop
  * sink) for each named catalog query, three times each, with
  * process/thread CPU and per-stage attribution — separates plan cost
  * from first-touch (JIT) and bench-context effects.
  * Run: sbt "runMain graft.tools.ProfileQueryBench <query> [...]".
  */
object ProfileQueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    // ad-hoc conf overrides for A/B runs: GRAFT_PROF_CONF="k=v;k2=v2"
    sys.env.get("GRAFT_PROF_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tBean = java.lang.management.ManagementFactory.getThreadMXBean
    // per-thread CPU attribution: JIT compiler threads are invisible to
    // ThreadMXBean (not Java threads), so compute them as process cpu
    // minus the sum of java-thread cpu
    def javaThreadCpu(): (Double, Map[String, Double]) = {
      val infos = tBean.getThreadInfo(tBean.getAllThreadIds)
      var total = 0.0
      val byClass = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (ti <- infos if ti != null) {
        val ns = tBean.getThreadCpuTime(ti.getThreadId)
        if (ns > 0) {
          val s = ns / 1e9
          total += s
          val n = ti.getThreadName
          val cls =
            if (n.startsWith("Executor task launch")) "task"
            else if (n.contains("GC") || n.startsWith("G1")) "gc-java"
            else "other"
          byClass(cls) += s
        }
      }
      (total, byClass.toMap)
    }
    // per-stage cpu/time attribution
    val stageLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stageLines.add(f"  stage ${si.stageId}%4d ${si.name.take(60)}%-60s " +
          f"tasks=${si.numTasks}%4d cpu=${m.executorCpuTime / 1e9}%7.1fs " +
          f"run=${m.executorRunTime / 1e3}%7.1fs recs=${m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead}%9d")
      }
    })
    val names = if (args.nonEmpty) args.toSeq else Seq("d05_minhash_lsh_pairs")
    val verbose = sys.env.get("GRAFT_PROF_STAGES").exists(_ == "1")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (i <- 1 to 3) {
        graft.Bench.isolate(spark)
        System.gc()
        val (j0, _) = javaThreadCpu()
        val c0 = osBean.getProcessCpuTime / 1e9
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val w = (System.nanoTime() - t0) / 1e9
        val c = osBean.getProcessCpuTime / 1e9 - c0
        val (j1, by1) = javaThreadCpu()
        // note: thread-class deltas are approximate (dead threads drop out)
        System.err.println(f"[profile] $name run $i: wall=$w%.2fs cpu=$c%.1fs " +
          f"javaThreads=${j1 - j0}%.1fs (nonJava~jit/gc=${c - (j1 - j0)}%.1fs) " +
          s"byClass=${by1.map { case (k, v) => f"$k=$v%.1f" }.mkString(",")}")
        Thread.sleep(500)
        import scala.jdk.CollectionConverters._
        if (verbose) stageLines.asScala.foreach(System.err.println)
        stageLines.clear()
      }
    }
    spark.stop()
  }
}
