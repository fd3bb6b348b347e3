package userbench

import java.lang.management.ManagementFactory
import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Codegen and GC figures are deltas of
  * process-wide counters over the span, which attribute correctly because
  * the benchmark has a single client and runs one span at a time.
  */
final class Span(val id: Int, val name: String, val parent: Int, val req: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var compiles = 0L
  var compileNs = 0L
  var gcMs = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Listener counters of one span (tasks, stages, jobs, Catalyst phases). */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var schedDelayMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var csvReadMs = 0L
  var csvWriteMs = 0L
  /** run time of each task, per stage: the skew of a kernel stage */
  val stageTaskRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Spans kept in memory, plus a SparkListener and a QueryExecutionListener
  * that attribute jobs, stages, tasks and query phases to the span whose
  * tag (`sc.setLocalProperty(Trace.Tag, spanId)`) the job carried. Jobs
  * from a streaming query's own thread carry no tag; they, like query
  * phases, are attributed to the span open when they started.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var request = -1

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageJobSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val csvWriteExecs = mutable.Set.empty[Long]
  private val stageCsvWrite = mutable.Set.empty[Int]
  private val phases = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val counters = mutable.Map.empty[Int, SpanCounters]
  private def ctr(span: Int) = counters.getOrElseUpdate(span, new SpanCounters)

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Spans open only inside a traced request; an untraced request runs the
    * same calls without tags.
    */
  def beginRequest(i: Int, traced: Boolean): Unit = request = if (traced) i else -1
  def endRequest(): Unit = request = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled || request < 0) body
    else {
      val parent = stack.headOption
      val s = synchronized {
        val sp = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), request,
          System.nanoTime(), System.currentTimeMillis())
        spans += sp
        sp
      }
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = CodeGenerator.compileTime
      val g0 = gcMillis
      stack = s :: stack
      sc.setLocalProperty(Tag, s.id.toString)
      try body
      finally {
        stack = stack.tail
        sc.setLocalProperty(Tag, parent.map(_.id.toString).orNull)
        s.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        s.compileNs = CodeGenerator.compileTime - t0
        s.gcMs = gcMillis - g0
        synchronized { s.endMs = System.currentTimeMillis() }
        s.endNs = System.nanoTime()
      }
    }

  /** The innermost span open at epoch-millis `t`: spans nest in creation
    * order, so the latest-created one that covers `t`.
    */
  private def spanAt(t: Long): Option[Int] = synchronized {
    spans.filter(s => s.startMs <= t && (s.endMs == 0L || t <= s.endMs)).lastOption.map(_.id)
  }

  private def tagOf(p: Properties): Option[Int] =
    Option(p).flatMap(pp => Option(pp.getProperty(Tag))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val streaming = Option(e.properties).exists(_.getProperty(StreamTag) != null)
      tagOf(e.properties).orElse(if (streaming) spanAt(e.time) else None).foreach { s =>
        e.stageIds.foreach(stageJobSpan(_) = s)
        ctr(s).jobs += 1
        if (Option(e.properties).flatMap(p => Option(p.getProperty(ExecIdProp)))
            .exists(x => csvWriteExecs(x.toLong))) e.stageIds.foreach(stageCsvWrite += _)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      tagOf(e.properties).orElse(stageJobSpan.get(id)).foreach { s =>
        stageSpan(id) = s
        ctr(s).stages += 1
        stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageSpan.get(si.stageId).foreach { s =>
        val wall = si.completionTime.getOrElse(0L) - stageSubmitMs.getOrElse(si.stageId, 0L)
        val scopes = si.rddInfos.flatMap(_.scope.map(_.name))
        if (scopes.exists(_.startsWith("Scan csv"))) ctr(s).csvReadMs += wall
        if (scopes.exists(_.startsWith("WriteFiles")) && stageCsvWrite(si.stageId))
          ctr(s).csvWriteMs += wall
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart
          if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
            x.physicalPlanDescription.contains(", CSV,") => csvWriteExecs += x.executionId
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        val c = ctr(s)
        val m = e.taskMetrics
        val ti = e.taskInfo
        c.tasks += 1
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
          c.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime)
          c.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.diskBytesSpilled
          c.stageTaskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.tracker.phases.nonEmpty) phases += ((qe.tracker.phases.values.map(_.startTimeMs).min,
        qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Listener counters per span, with each query's Catalyst phases given to
    * the span open when its analysis started. Call after the SparkContext
    * stopped, which drains the listener bus.
    */
  def counterMap: Map[Int, SpanCounters] = {
    phases.foreach { case (startMs, ph) =>
      spanAt(startMs).foreach { s =>
        val c = ctr(s)
        c.analysisMs += ph.getOrElse("analysis", 0L)
        c.optimizationMs += ph.getOrElse("optimization", 0L)
        c.planningMs += ph.getOrElse("planning", 0L)
      }
    }
    counters.toMap
  }
}

object Trace {
  val Tag = "userbench.span"
  val StreamTag = "sql.streaming.queryId"
  val ExecIdProp = "spark.sql.execution.id"
}
