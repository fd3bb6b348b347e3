package userbench

/** Per-layer figures of a traced run. Times and counts are means per
  * traced request unless the name says otherwise; a layer the workload
  * never calls reports 0 (run.py also fills in 0 for the figures only
  * another workload computes).
  */
object Layers {
  /** Self time of each span: its wall time minus the part its children cover
    * (children of one span run one after another, so they do not overlap).
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childWall = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.wallS).sum }
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.wallS - childWall.getOrElse(s.id, 0.0)).sum
    }
  }

  def figures(trace: Trace, reqs: Seq[Main.Req], nproc: Int, storage: Storage): Map[String, Double] = {
    val counters = trace.counterMap
    val spans = trace.spans.toSeq
    val roots = spans.filter(_.name == "request")
    val n = math.max(1, roots.size).toDouble
    val none = new SpanCounters
    def ctrs(ss: Seq[Span]) = ss.map(s => counters.getOrElse(s.id, none))
    def named(name: String) = spans.filter(_.name == name)
    def sumC(ss: Seq[Span])(f: SpanCounters => Double) = ctrs(ss).map(f).sum
    def wall(name: String) = named(name).map(_.wallS).sum / n
    val all = sumC(spans) _
    val traced = reqs.filter(_.traced).map(_.latencyS)
    val untraced = reqs.filter(!_.traced).map(_.latencyS)
    val mb = 1048576.0

    /** Max over mean task run time in the span's busiest stage, averaged. */
    def skew(ss: Seq[Span]): Double = {
      val per = ctrs(ss).flatMap { c =>
        c.stageTaskRunMs.values.toSeq.sortBy(-_.sum).headOption
          .filter(_.sum > 0).map(ts => ts.max.toDouble / (ts.sum.toDouble / ts.size))
      }
      if (per.isEmpty) 0.0 else per.sum / per.size
    }

    Map(
      "catalyst.analysis_s" -> all(_.analysisMs / 1e3) / n,
      "catalyst.optimization_s" -> all(_.optimizationMs / 1e3) / n,
      "catalyst.planning_s" -> all(_.planningMs / 1e3) / n,
      "codegen.compiles" -> roots.map(_.compiles).sum / n,
      "codegen.compile_s" -> roots.map(_.compileNs / 1e9).sum / n,
      "scheduler.jobs" -> all(_.jobs.toDouble) / n,
      "scheduler.stages" -> all(_.stages.toDouble) / n,
      "scheduler.tasks" -> all(_.tasks.toDouble) / n,
      "scheduler.delay_s" -> all(_.schedDelayMs / 1e3) / n,
      "exec.core_util" -> all(_.taskRunMs / 1e3) / math.max(1e-9, roots.map(_.wallS).sum * nproc),
      "exec.task_cpu_s" -> all(_.taskCpuNs / 1e9) / n,
      "exec.gc_s" -> roots.map(_.gcMs / 1e3).sum / n,
      "shuffle.read_mb" -> all(_.shuffleReadB / mb) / n,
      "shuffle.write_mb" -> all(_.shuffleWriteB / mb) / n,
      "spill.mb" -> all(_.spillB / mb) / n,
      "storage.cached_mb" -> storage.mb,
      "tracker.wall_s" -> wall("tracker"),
      "tracker.task_cpu_s" -> sumC(named("tracker"))(_.taskCpuNs / 1e9) / n,
      "tracker.task_skew" -> skew(named("tracker")),
      "nms.wall_s" -> wall("nms"),
      "nms.task_cpu_s" -> sumC(named("nms"))(_.taskCpuNs / 1e9) / n,
      "moteval.wall_s" -> wall("moteval"),
      "moteval.jobs" -> sumC(named("moteval"))(_.jobs.toDouble) / n,
      "moteval.compiles" -> named("moteval").map(_.compiles).sum / n,
      "moteval.cached_blocks" -> (if (named("moteval").isEmpty) 0.0 else storage.blocks.toDouble),
      "mot.csv_read_s" -> all(_.csvReadMs / 1e3) / n,
      "mot.csv_write_s" -> all(_.csvWriteMs / 1e3) / n,
      "dedup.probe_s" -> wall("dedup.probe"),
      "dedup.verify_s" -> wall("dedup.verify"),
      "dedup.merge_s" -> wall("dedup.merge"),
      "dedup.merge_jobs" -> sumC(named("dedup.merge"))(_.jobs.toDouble) / n,
      "trace.overhead_s" ->
        (if (traced.isEmpty || untraced.isEmpty) 0.0
         else Main.median(traced) - Main.median(untraced)))
  }
}
