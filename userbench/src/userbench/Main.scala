package userbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import graft.LocalSession

/** The benchmark's JVM side: one workload, one client, closed loop, in a
  * session at `local[nproc]`.
  *
  * Usage: userbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>
  *
  * Writes one JSON object to `outFile`: the end-to-end metrics, the
  * per-layer metrics when tracing, and each timed request's digest and
  * failed checks; traced runs also write their spans next to it.
  */
object Main {
  final case class Req(i: Int, latencyS: Double, rows: Long, traced: Boolean, digest: String,
                       failures: Seq[String])

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, workS, outS) = args
    val nproc = Runtime.getRuntime.availableProcessors
    val work = Paths.get(workS)
    Files.createDirectories(work)
    val spark = LocalSession.build(nproc.toString)
    val trace = new Trace(spark, traceS == "1")
    val wl = Workload(wlName, spark, seedS.toLong, work, trace)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val genS = timed(wl.generate())
    val startS = timed(wl.start())
    var heapPeak = 0L
    /** Heap in use right after a full GC: each heap pool's usage as that GC
      * left it. The first GC hands the plans' dropped broadcasts to Spark's
      * ContextCleaner; the pause lets it remove their blocks, so the second
      * GC does not count them, however late the cleaner ran.
      */
    def heapProbe(): Unit = {
      System.gc()
      Thread.sleep(100)
      System.gc()
      val used = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
        .map(_.getUsed).sum
      heapPeak = math.max(heapPeak, used)
    }
    /** Stages, runs and checks request `i`; a request that throws, or whose
      * checks throw, is a failed request.
      */
    def runOne(i: Int, traced: Boolean): Req = {
      wl.prepare(i)
      trace.beginRequest(i, traced)
      val t0 = System.nanoTime()
      val err = try { trace.span("request")(wl.request(i)); None } catch {
        case NonFatal(e) => Some(s"request $i failed: $e")
      }
      val lat = (System.nanoTime() - t0) / 1e9
      trace.endRequest()
      val o = err.map(e => Outcome("", Seq(e))).getOrElse(
        try wl.after(i) catch { case NonFatal(e) => Outcome("", Seq(s"check $i failed: $e")) })
      Req(i, lat, wl.rows(i), traced, o.digest, o.failures)
    }
    val warm = mutable.ArrayBuffer.empty[Req]
    val warmS = timed((0 until wl.warmups).foreach { i =>
      warm += runOne(i, traced = false)
      heapProbe()
    })
    heapPeak = 0L

    val reqs = mutable.ArrayBuffer.empty[Req]
    // set-up is the measured wall time from JVM start to the first timed request
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val loopStart = System.nanoTime()
    var i = wl.warmups
    while (System.nanoTime() - loopStart < secondsS.toDouble * 1e9 || reqs.size < MinRequests) {
      reqs += runOne(i, traced = trace.enabled && (i - wl.warmups) % 2 == 0)
      heapProbe()
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    var finalFailures = Seq.empty[String]
    val finishS = timed {
      finalFailures = try wl.finish() catch { case NonFatal(e) => Seq(s"final check failed: $e") }
    }
    val storage = Storage.snapshot(spark)
    spark.stop()

    // a traced run reports end-to-end figures of its untraced requests
    val measured = if (reqs.exists(!_.traced)) reqs.filter(!_.traced).toSeq else reqs.toSeq
    val lat = measured.map(_.latencyS).sorted
    val e2e = Map(
      "setup_s" -> setupS,
      "req_p50_s" -> median(lat),
      "req_tail_s" -> lat(tailIndex(lat.size)),
      "rows_per_s" -> reqs.map(_.rows).sum / reqs.map(_.latencyS).sum,
      "heap_peak_mb" -> heapPeak / 1048576.0)
    val layers = if (trace.enabled) Layers.figures(trace, reqs.toSeq, nproc, storage) ++
      wl.layerFigures else Map.empty[String, Double]
    val json = Json.obj(
      "workload" -> Json.str(wl.name),
      "inputs" -> Json.str(wl.describe),
      "nproc" -> nproc.toString,
      "warmup_failures" -> Json.arr(warm.flatMap(r => r.failures.map(f => s"warm-up $f")).map(Json.str)),
      "warmups_failed" -> warm.count(_.failures.nonEmpty).toString,
      "warmups" -> warm.size.toString,
      "final_failures" -> Json.arr(finalFailures.map(Json.str)),
      "tail_percentile" -> Json.str(tailLabel(lat.size)),
      "latencies_s" -> Json.arr(reqs.map(r => Json.num(r.latencyS))),
      "setup_parts_s" -> Json.obj("session" -> Json.num(sessionS),
        "generate" -> Json.num(genS), "start" -> Json.num(startS),
        "warmup" -> Json.num(warmS)),
      "loop_s" -> Json.num(loopS),
      "finish_s" -> Json.num(finishS),
      "requests" -> Json.arr(reqs.map(r => Json.obj("i" -> r.i.toString,
        "digest" -> Json.str(r.digest), "failures" -> Json.arr(r.failures.map(Json.str))))),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "self_s" -> Json.obj(Layers.selfTimes(trace.spans.toSeq).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(Paths.get(outS), json + "\n")
    if (trace.enabled) Files.writeString(Paths.get(outS + ".spans.jsonl"),
      trace.spans.map(s => Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "request" -> s.req.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)).mkString("", "\n", "\n"))
  }

  /** A run measures for the requested seconds and at least this many
    * requests, so a workload whose requests take longer than the window
    * still reports a median of three.
    */
  val MinRequests = 3

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Index of the highest sample with at least ten samples above it; the
    * maximum when that sample would sit below the median (n < 21).
    */
  def tailIndex(n: Int): Int = if (n >= 21) n - 11 else n - 1
  def tailLabel(n: Int): String =
    if (n >= 21) f"p${100.0 * (n - 10) / n}%.1f of $n" else s"max of $n"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Cached-data figures read from the SparkContext before it stops. */
final case class Storage(blocks: Long, mb: Double)

object Storage {
  def snapshot(spark: org.apache.spark.sql.SparkSession): Storage = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Storage(infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(r => r.memSize + r.diskSize).sum / 1048576.0)
  }
}

/** Minimal JSON writer; values are pre-rendered strings. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
