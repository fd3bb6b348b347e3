package graft

import java.lang.management.ManagementFactory
import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One structured record per query run through [[Telemetry.query]]: its
  * wall split into builder and plan, process CPU and GC, codegen, the
  * jobs, stages and tasks it ran, shuffle, spill and task-result bytes,
  * Catalyst phases, artifact builds, and every named `observe()` metric.
  *
  * Attribution: a job carries the running query's id in the local
  * property [[Telemetry.Tag]], and its stages and tasks follow the job.
  * Untagged events (jobs of threads that did not inherit the tag, and
  * Catalyst phases, which the listener bus reports without one) go to
  * the query whose time window covers them. Codegen, GC, CPU and
  * artifact builds are deltas of process-wide counters around the
  * query, which attribute correctly only while one query runs at a
  * time, as in Bench.
  */
final class Telemetry(spark: SparkSession) {
  import Telemetry._
  private val sc = spark.sparkContext
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val stageQuery = mutable.Map.empty[Int, Query]

  /** Runs `build` then `run` on its result as query `name`. A non-fatal
    * failure of either is caught and kept in the returned record.
    */
  def query[A](name: String)(build: => A)(run: A => Unit): Query = {
    val q = new Query(name, System.currentTimeMillis())
    synchronized(queries += q)
    sc.setLocalProperty(Tag, q.id)
    val builds0 = sources.ArtifactStore.builds.get
    val compiles0 = compileCount
    val compileNs0 = CodeGenerator.compileTime
    val gc0 = gcMillis
    val cpu0 = cpuNanos
    val t0 = System.nanoTime()
    var t1 = -1L
    try {
      val a = build
      t1 = System.nanoTime()
      run(a)
    } catch {
      case NonFatal(e) => q.failure = Some(e)
    } finally {
      val t2 = System.nanoTime()
      q.builderNs = (if (t1 < 0) t2 else t1) - t0
      q.planNs = if (t1 < 0) 0L else t2 - t1
      q.cpuNs = cpuNanos - cpu0
      q.gcMs = gcMillis - gc0
      q.compiles = compileCount - compiles0
      q.compileNs = CodeGenerator.compileTime - compileNs0
      q.artifactBuilds = sources.ArtifactStore.builds.get - builds0
      sc.setLocalProperty(Tag, null)
      synchronized { q.endMs = System.currentTimeMillis() }
    }
    q
  }

  /** Every record so far, in run order. Complete once the listener bus
    * has drained (`SparkContext.stop()` drains it).
    */
  def records: Seq[Query] = synchronized(queries.toList)

  /** The latest-started query whose window covers epoch-millis `t`. */
  private def queryAt(t: Long): Option[Query] = synchronized {
    queries.findLast(q => q.startMs <= t && (q.endMs == 0L || t <= q.endMs))
  }

  /** The query a tagged event belongs to (none when another Telemetry
    * tagged it), or the one whose window covers an untagged event.
    */
  private def owner(p: Properties, t: Long): Option[Query] =
    Option(p).flatMap(pp => Option(pp.getProperty(Tag))) match {
      case Some(id) => synchronized(queries.find(_.id == id))
      case None => queryAt(t)
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      owner(e.properties, e.time).foreach { q =>
        q.synchronized {
          q.jobs += 1
          e.stageIds.foreach(stageQuery(_) = q)
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageQuery.get(e.stageInfo.stageId).foreach(q => q.synchronized(q.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageQuery.get(e.stageId).foreach { q =>
        val m = e.taskMetrics
        q.synchronized {
          q.tasks += 1
          if (m != null) {
            q.taskCpuNs += m.executorCpuTime
            q.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead
            q.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            q.spillB += m.diskBytesSpilled
            q.resultB += m.resultSize
            q.maxTaskResultB = math.max(q.maxTaskResultB, m.resultSize)
          }
        }
      }
  }

  /** Phases and named metrics of each successful execution, given to
    * the query whose window covers the end of its last phase: planning
    * ends just before execution, while a reused Dataset was analyzed
    * earlier. A failed execution is skipped: its plan may never have
    * been built, and reading it would build it here.
    */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) queryAt(phases.values.map(_.endTimeMs).max).foreach { q =>
        def ms(phase: String) = phases.get(phase).fold(0L)(_.durationMs)
        val metrics = qe.observedMetrics
        q.synchronized {
          q.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
          q.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
          q.planningMs += ms(QueryPlanningTracker.PLANNING)
          q.metrics ++= metrics
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
}

object Telemetry {
  /** Local property naming the running query's record id. */
  private val Tag = "graft.telemetry.query"
  private val nextId = new java.util.concurrent.atomic.AtomicLong

  private lazy val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time: one monotone counter that also charges GC and
    * JIT-compiler threads and keeps the CPU of threads that died.
    */
  private def cpuNanos: Long = osBean.getProcessCpuTime

  /** Stop-the-world GC time summed over every collector. */
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One query's record. The caller's thread fills the process-side
    * fields; the listener bus fills the counters under the record's lock.
    */
  final class Query private[Telemetry] (val name: String, private[Telemetry] val startMs: Long) {
    private[Telemetry] val id = nextId.incrementAndGet().toString
    @volatile private[Telemetry] var endMs = 0L
    @volatile var failure: Option[Throwable] = None
    @volatile var builderNs, planNs, cpuNs, gcMs, compiles, compileNs, artifactBuilds = 0L
    var jobs, stages, tasks, taskCpuNs, shuffleReadB, shuffleWriteB, spillB = 0L
    /** Serialized task results sent to the driver: the sum, and the largest one. */
    var resultB, maxTaskResultB = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    /** Named `observe()` metrics; a name observed twice keeps its last row. */
    val metrics = mutable.LinkedHashMap.empty[String, Row]

    def ok: Boolean = failure.isEmpty
    def wallS: Double = (builderNs + planNs) / 1e9
    def error: Option[String] = failure.map(e => s"${e.getClass.getName}: ${e.getMessage}")

    /** The record as one JSON object. */
    def json: String = synchronized {
      import org.json4s._
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods.{compact, parse, render}
      compact(render(
        ("query" -> name) ~ ("ok" -> ok) ~ ("error" -> error) ~
          ("wall_s" -> wallS) ~ ("builder_s" -> builderNs / 1e9) ~ ("plan_s" -> planNs / 1e9) ~
          ("cpu_s" -> cpuNs / 1e9) ~ ("gc_s" -> gcMs / 1e3) ~
          ("compiles" -> compiles) ~ ("compile_s" -> compileNs / 1e9) ~
          ("jobs" -> jobs) ~ ("stages" -> stages) ~ ("tasks" -> tasks) ~
          ("task_cpu_s" -> taskCpuNs / 1e9) ~
          ("shuffle_read_bytes" -> shuffleReadB) ~ ("shuffle_write_bytes" -> shuffleWriteB) ~
          ("spill_bytes" -> spillB) ~
          ("result_bytes" -> resultB) ~ ("max_task_result_bytes" -> maxTaskResultB) ~
          ("analysis_s" -> analysisMs / 1e3) ~ ("optimization_s" -> optimizationMs / 1e3) ~
          ("planning_s" -> planningMs / 1e3) ~
          ("artifact_builds" -> artifactBuilds) ~
          ("metrics" -> JObject(metrics.toList.map { case (k, r) => JField(k, parse(r.json)) }))))
    }
  }
}
