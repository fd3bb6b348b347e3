package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every catalog query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Queries run in sorted-name order after a generic JVM/codegen warmup,
  * so per-query numbers are comparable across rounds (the first query
  * otherwise absorbs session startup).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.build(cpus)
    // The emitted line must land inside the driver's 2000-char output
    // window together with sbt's ~74-char "[success]" suffix; suppress
    // WARN/INFO log noise so nothing else competes for the window.
    spark.sparkContext.setLogLevel("ERROR")
    // Noise control: the state-store maintenance tick (default 60 s)
    // snapshots every loaded provider on a background thread — a tick
    // landing mid-query adds sporadic multi-second spikes to whichever
    // streaming query it hits. Drain-once benches never need snapshot
    // compaction, so push the tick past the run. (Must be set before
    // the first stream starts — the maintenance task latches it.)
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
    // Warm the JVM, codegen, and shuffle machinery outside the timings.
    def warmupKernel(): Unit =
      spark.range(1000000).selectExpr("sum(id % 7)").collect()
    warmupKernel()
    // BROADER infrastructure warmup (round 22, same untimed-generic
    // class as the kernel above and the streaming warmup below): the
    // single sum kernel leaves the operator runtimes the catalog
    // actually exercises — window exec, join exec, explode/Generate,
    // HashAggregate spill paths, the parquet reader/writer, AQE stage
    // machinery — cold, so whichever query ran FIRST absorbed seconds
    // of shared first-touch (measured: a01 8.6 s as the first query of
    // a 6-query run vs 1.3-1.7 s mid-catalog; before round 22 the
    // artifact-churn rebuilds accidentally provided this warmup).
    // Synthetic range data only — no catalog query, no testdata read,
    // no reusable result (the temp dir is deleted; isolation resets
    // drop anything cached).
    locally {
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("graft_warm")
      try {
        val wdf = spark.range(200000).selectExpr(
          "id", "id % 97 AS k", "CAST(id AS DOUBLE) AS v",
          "CAST(id % 1000 AS STRING) AS s")
        wdf.write.mode("overwrite").parquet(dir.resolve("w").toString)
        val rd = spark.read.parquet(dir.resolve("w").toString)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("id")
        rd.withColumn("rn", row_number().over(w))
          .withColumn("lg", lag("v", 1).over(w))
          .filter(col("rn") <= 3)
          .write.mode("overwrite").format("noop").save()
        rd.groupBy("k").agg(sum("v"), countDistinct("s"), max("id"))
          .join(rd.groupBy("k").agg(avg("v").as("a")), Seq("k"))
          .write.mode("overwrite").format("noop").save()
        rd.select(col("id"), explode(split(concat(col("s"), lit(" x y z")), " ")).as("t"))
          .groupBy("t").count()
          .join(broadcast(rd.limit(100).select(col("s").as("t"))), Seq("t"), "left_semi")
          .write.mode("overwrite").format("noop").save()
        rd.as("a").join(rd.selectExpr("id AS id2", "v AS v2").as("b"),
            col("a.id") === col("b.id2"))
          .select(sum(col("v") * col("v2")))
          .write.mode("overwrite").format("noop").save()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println("[bench] warm-up failed, continuing untimed:")
          e.printStackTrace()
      } finally {
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch {
            case _: java.io.IOException => () })
      }
    }
    // CALIBRATION CANARY: the same fixed kernel re-timed before each
    // query group (and once after the last). The kernel's cost is
    // data-independent and, after the warmup above, JIT-stable — so any
    // drift across the canary sequence measures the ENVIRONMENT (sandbox
    // CPU contention, noisy neighbors), not the engine. Round 11's
    // driver record totaled 432 s vs 195 s for a byte-identical
    // canonical run, with 5-8x non-uniform inflation on st2-st4/m09/d07;
    // nothing in that record let a reader prove the gap was contention.
    // Normalization: wall_normalized(q) ~= wall(q) * canary_baseline /
    // canary(group(q)), with canary_baseline the committed canonical
    // run's median canary (see PLANS.md "Bench calibration").
    def canary(): Double = {
      val t0 = System.nanoTime(); warmupKernel(); (System.nanoTime() - t0) / 1e9
    }
    // PARALLEL canary: the round-15 finding was a run with CLEAN
    // single-thread canaries (median 0.113 vs the 0.116 anchor) whose
    // 32-thread query sections ran ~10% slower while consuming LESS
    // process CPU than the r14 canonical — i.e. the sandbox was capping
    // AGGREGATE cpu, a mode a single-thread probe cannot see (each
    // probe thread still runs at full speed; there are just fewer
    // effective cores). This probe burns a fixed integer kernel on
    // every core simultaneously and reports wall seconds: flat pcan ≈
    // all cores delivered; pcan inflated with canary flat ≈ aggregate
    // capping — read it next to canary[g]/cpug[g] to classify a slow
    // group from the record alone. Since round 16 it also feeds the
    // value_n correction (min-of-bracketing-pair vs pcanBase — see the
    // scales computation below); cb stays the single-thread anchor for
    // cross-round continuity.
    val pcanSink = new java.util.concurrent.atomic.AtomicLong
    def pcanary(): Double = {
      val n = Runtime.getRuntime.availableProcessors()
      val t0 = System.nanoTime()
      val ts = (0 until n).map { _ =>
        val t = new Thread(() => {
          var acc = 0L; var j = 0
          while (j < 50000000) { acc += j % 7; j += 1 }
          pcanSink.addAndGet(acc)
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    pcanary() // JIT warmup, untimed
    // Cumulative stop-the-world GC seconds across all collectors — the
    // second contention axis the artifact must expose: a query whose
    // wall AND cpu both inflate while the canary stays flat is usually
    // paying a GC storm (GC worker threads burn real process CPU), not
    // running a worse plan. Round 12's one unexplained number (f02
    // 7.91 s / 31 CPU-s vs ~1.7 s canonical) reproduced locally only
    // when a heavy-allocation query block preceded it and vanished on
    // re-runs — classic inherited-heap-pressure noise.
    def gcSec(): Double = Telemetry.gcMillis / 1e3
    // Optional comma-separated allowlist for local bisection runs; the
    // driver never sets it, so round benches always cover the catalog.
    val only = sys.env.get("GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // A typo'd allowlist name would silently filter to an empty (and
    // suspiciously fast) run — fail loudly instead of masquerading.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"GRAFT_BENCH_ONLY names match no catalog query: ${unknown.mkString(",")}")
    }
    val sorted = SparkEntry.catalog.sortBy(_.name)
      .filter(q => only.forall(_.contains(q.name)))
    // STREAMING WARMUP (untimed, like the batch kernel above): the
    // first streaming query of a session pays ~2 s of one-time
    // micro-batch-engine/state-store class loading + JIT that the batch
    // warmup kernel cannot touch — measured at sf0.1 (PLANS.md
    // "Streaming bench overhead"), the identical st2 shape runs 3.4 s
    // on first touch and 1.2-1.7 s on every later run regardless of
    // partition count or checkpoint filesystem. Draining one tiny
    // stream per stateful operator shape (windowed agg, watermarked
    // dedup, session window, stream-stream interval join) moves that
    // constant out of the first st-family timing, so per-query numbers
    // measure the plan.
    // A failed warmup must degrade to un-warmed timings, never abort
    // the whole bench before any JSON is emitted (timed per-query
    // failures are caught and reported; the warmup deserves no
    // stronger kill-switch). The temp dir and the sink dir the drains
    // write for it are deleted either way.
    if (sorted.exists(q => q.name.startsWith("st") || q.name.startsWith("k10"))) {
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("graft_stwarm").toFile
      try {
        val ev = new java.io.File(dir, "ev").toString
        spark.range(200)
          .selectExpr("id", "timestamp_micros(id * 1000000) AS et", "id % 7 AS k")
          .write.mode("overwrite").parquet(ev)
        val schema = spark.read.parquet(ev).schema
        def src = spark.readStream.schema(schema).parquet(ev)
        def drain(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
          streaming.Drain.toSink(df, "graft_drain_warmup", dir.toString, Seq("ev"), mode)(identity)
        graft.queries.ExtQ.withStreamShuffle(spark) {
          drain(src.withWatermark("et", "1 hour")
            .groupBy(window(col("et"), "1 hour")).count(), "complete")
          drain(src.withWatermark("et", "1 hour")
            .dropDuplicatesWithinWatermark("id"), "append")
          drain(src.withWatermark("et", "1 second")
            .groupBy(col("k"), session_window(col("et"), "10 minutes"))
            .agg(count(lit(1)).as("n")), "append")
          val a = src.select(col("id").as("aid"), col("et").as("aet"))
            .withWatermark("aet", "1 hour")
          val b = src.select(col("id").as("bid"), col("et").as("bet"))
            .withWatermark("bet", "1 hour")
          drain(a.join(b, col("aid") === col("bid") &&
              col("bet") >= col("aet") &&
              col("bet") <= col("aet") + expr("interval 1 hour"))
            .select(col("aid"), col("bid")), "append")
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println("[bench] warm-up failed, continuing untimed:")
          e.printStackTrace()
      } finally {
        (sources.ArtifactStore.datasetDirsUnder(dir).map(new java.io.File(_)) :+ dir)
          .foreach(f => org.apache.hadoop.fs.FileUtil.fullyDelete(f))
      }
    }
    // ARTIFACT PRE-TOUCH (untimed): the persisted stores the selected
    // queries declare in `needs` (band/gram/cluster signature stores,
    // ANN indexes, frozen models, the derived MOT input tables, m11's
    // anchor base, k10's input batches) are built once per data
    // generation — maintenance, not query cost — so build them here and
    // let every timed number measure the steady-state artifact probe.
    // A failed build is reported, not swallowed: the query that needs
    // it then rebuilds (or fails) inside its timed region, and the
    // build counter below names it.
    sorted.flatMap(_.needs).distinct.foreach { a =>
      try a.resolve(spark, sfDir) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] untimed build of artifact ${a.name} failed:")
          e.printStackTrace()
      }
    }
    // ~5 contiguous groups of the sorted catalog, a canary before each.
    val groupSize = math.max(1, math.ceil(sorted.size / 5.0).toInt)
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pcans = scala.collection.mutable.ArrayBuffer.empty[Double]
    // gcg[g] = STW GC seconds accumulated during query group g (the
    // System.gc() isolation calls included — they're the cleanup being
    // attributed); read next to canary[g] it separates "sandbox CPU
    // contention" (canary up) from "GC storm" (gcg up, canary flat).
    val gcGroups = scala.collection.mutable.ArrayBuffer.empty[Double]
    // PROBE HYGIENE (round 19, the pcan-bracket-2 anomaly): every QUERY
    // gets an untimed System.gc() before its timing so it never pays
    // its neighbor's cleanup — but the between-group PROBES did not,
    // so they ran on whatever heap the group's LAST query left primed.
    // The single-thread canary barely notices (one core suffices), but
    // the all-cores pcan loses whole cores to concurrent GC cycles —
    // which is exactly the r17/r18 signature: pcan[1] ≈ 0.185 with
    // canary[1] near-flat, systematically after the heaviest-allocating
    // group (the d-block, gcg[0] > 4 s), and canary[0] ≈ 0.199 right
    // after the untimed artifact pre-touch builds above. Those readings
    // are SELF-caused residue contaminating what is defined as an
    // ENVIRONMENT probe (the min-of-bracket pcan rule kept pcan[1] out
    // of value_n, but canary[0] drove scale[0] = 0.583 in r18 — a
    // phantom 42% "contention" discount). Collect the predecessor's
    // garbage untimed before probing, same isolation principle as the
    // per-query gc.
    // The gc alone is not enough (measured, round 19): collecting the
    // group's weak-referenced shuffle/broadcast state TRIGGERS the
    // ContextCleaner flood, whose async block-manager/scheduler churn
    // then slows the canary — itself a Spark job — for its whole
    // reading (post-group canary ~0.14-0.15 while the pure-CPU pcan
    // sat at its anchor: engine residue, not sandbox). One untimed
    // drain run of the same kernel absorbs that tail before anything
    // is timed.
    def probePair(): Unit = {
      System.gc()
      warmupKernel()
      canaries += canary()
      pcans += pcanary()
    }
    // One telemetry record per timed query, written after the session
    // stops (which drains the listener bus) — never to stdout or
    // stderr, whose last ~2000 chars are parsed for the JSON line.
    val telemetry = new Telemetry(spark)
    val sidecar = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_bench_telemetry_${ProcessHandle.current().pid()}.jsonl")
    System.err.println(s"[bench] telemetry records: $sidecar")
    val results = sorted.grouped(groupSize).toSeq.flatMap { group =>
      probePair()
      val g0 = gcSec()
      val rs = group.map { q =>
        // ISOLATION (untimed): drop every cross-query materialization —
        // memoized derived/dedup tables and any stray cached relation —
        // so each query pays its own first-touch cost. Without this a
        // query's number depended on which neighbor ran first (round 10:
        // 0.15×–4.6× swings on byte-identical code), and the per-round
        // 2× regression gate read noise.
        isolate(spark)
        // Collect the PREVIOUS query's garbage here, untimed: a heavy
        // allocator (the d-block shuffles GBs) otherwise leaves the
        // heap primed so the NEXT query's allocations trigger the
        // mixed-GC storm mid-timing — wall and cpu both inflate while
        // the (pre-group) canary stays flat. Same isolation principle
        // as the cache resets above: each query pays its own costs,
        // not its neighbor's cleanup.
        System.gc()
        // The timed region is the builder plus the NOOP SINK (not
        // count()), which forces full evaluation of every output
        // column: under count() Catalyst legally eliminates whole
        // subtrees — a left join against a unique-keyed aggregate drops
        // its entire right side (d10's gram pipeline benched at 0.2 s
        // while its real evaluation costs ~10× more) and final
        // projections prune — so count() timings measured a DIFFERENT,
        // smaller query than the one Verify checks and users run.
        val r = telemetry.query(q.name)(q.fn(spark, sfDir))(
          _.write.mode("overwrite").format("noop").save())
        r.failure.foreach { e =>
          System.err.println(s"[bench] ${q.name} failed: ${r.error.get}")
          e.printStackTrace()
        }
        if (r.artifactBuilds > 0) System.err.println(
          s"[bench] ${q.name}: ${r.artifactBuilds} artifact build(s) inside the timed region")
        r
      }
      gcGroups += gcSec() - g0
      rs
    }
    probePair()
    val prefixGroups = SparkEntry.queries.keySet.groupBy(_.takeWhile(_ != '_'))
    def shortName(n: String): String = {
      val p = n.takeWhile(_ != '_')
      if (prefixGroups(p).size == 1) p else n
    }
    val timed = results.map(r => Timed(shortName(r.name), r.wallS, r.ok, r.cpuNs / 1e9))
    println(line(timed, groupSize, canaries.toSeq, pcans.toSeq, gcGroups.toSeq,
      medianRatioToCanonical(timed, sfDir), sfDir))
    spark.stop()
    java.nio.file.Files.write(sidecar, telemetry.records.map(_.json).asJava)
  }

  /** One timed query as the line reports it. `key` is its short catalog
    * id; `cpu` is the JVM CPU seconds spent while it ran.
    */
  final case class Timed(key: String, wall: Double, ok: Boolean, cpu: Double)

  /** The canary anchors of the value_n correction; see [[line]]. */
  val CanaryBase = 0.090
  val PcanBase = 0.105

  /** The ONE stdout JSON line, from the timed queries in emission order
    * (`groupSize` of them per canary group), the probe readings and the
    * optional contention reading `mcr` = (median ratio, query count).
    *
    * A failed query appears only in "errors": it is not in "queries",
    * "cpu", "cpug", "value" or "value_n" — an early failure must not
    * read as a fast query. Canary groups stay positional, so value_n's
    * group scales and the cpug sums still use every query's original
    * position.
    *
    * Only the last 2000 chars of the run's output are parsed
    * (observed in round 7: the 70-query line was 1778 chars, with
    * ~150 chars of Spark log noise before it and ~75 after inside the
    * window). At 80+ queries, full catalog names push the line past
    * the window and the JSON parse would see a truncated
    * head — so per-query keys use the short catalog ids ("d05",
    * "k03" — the vocabulary every doc and verdict uses), falling
    * back to the full name when a prefix is shared (s03_lsh_topk /
    * s03_mot_roundtrip). Centisecond precision, Locale.ROOT (never a
    * comma decimal point).
    */
  def line(results: Seq[Timed], groupSize: Int, canaries: Seq[Double], pcans: Seq[Double],
           gcGroups: Seq[Double], mcr: Option[(Double, Int)], sfDir: String): String = {
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def fmt1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def arr(vs: Seq[Double], f: Double => String) = vs.map(f).mkString("[", ",", "]")
    val positioned = results.zipWithIndex
    val ok = positioned.filter(_._1.ok)
    // SELF-NORMALIZATION (PLANS.md "Bench calibration"): the record
    // carries its own contention correction so a contended driver run
    // reads correctly without hand arithmetic against the committed
    // canonical. canary_base = the canonical anchor's median canary
    // (BENCH_r13_local.json) — bump ONLY when a new canonical was
    // measured on a CLEAN box (canary median ≈ the current anchor);
    // re-anchoring on a contended session (e.g. r14's 0.124–0.160
    // medians) would silently deflate every future normalization.
    // scale[g] = canary_base / max(canary[g], canary[g+1])
    // (larger neighbor: spikes between probes are under-sampled, so
    // the conservative factor wins); value_n = Σ wall(q)·scale(g(q)).
    // Per-query normalized walls are NOT emitted as a second map —
    // the driver keeps only the run's last ~2000 output chars and a
    // 102-key map would clip the JSON head — but they are fully
    // derivable from this record alone: queries[q] × scale[g] with g =
    // the query's index in emission order divided by ⌈N/5⌉.
    // Re-anchored in round 19 (was 0.116 since r13): the probe-hygiene
    // fix (gc + drain in probePair) changed the canary's measurement
    // conditions — on a clean heap with the cleaner tail drained the
    // same kernel reads 0.081-0.102 (median ~0.090 on the r19 pristine
    // canonical, all six brackets below the old anchor) — so keeping
    // 0.116 would let value_n read above raw on every clean bracket.
    // pb stays 0.105: the pure-CPU parallel probe's conditions are
    // unchanged and its clean-bracket median still straddles it.
    // ANCHOR CAVEATS (ADVICE r19): (a) the 0.090 anchor was set from
    // ONE pristine session — treat value_n as provisional until a
    // second independent clean run confirms brackets straddling it
    // (record the confirmation in PLANS "Bench calibration"); (b)
    // scale is deliberately NOT capped at 1.0 — on a box faster than
    // the anchor (canary below cb) scale > 1 INFLATES value_n above
    // raw wall, by design symmetric with the contention discount, so
    // cross-round comparisons must use raw common-query sums (the
    // standing rule), never value_n across different anchors/boxes.
    // pcan fold-in (round 16, from the first clean-on-both-probes
    // session): the aggregate-capping mode r15 documented — pcan
    // elevated, canary flat — now corrects value_n too. pcanBase is
    // that session's clean pcan median (PLANS.md "Bench calibration
    // (round 16)"); the pcan term uses the MIN of the two bracketing
    // probes, not the max the canary term uses, deliberately: the
    // single-thread canary is JIT-stable and data-independent, so a
    // blip there is external by construction, but the all-cores probe
    // reads residual ENGINE-side activity (GC/cleanup tails after a
    // heavy group — the group-2 blip reproduced 3/3 runs in the same
    // spot on an otherwise clean box), and excusing self-caused load
    // would flatter the record. Sustained capping elevates BOTH
    // bracketing probes and still corrects; a one-sided post-heavy-
    // group blip does not.
    val scales = gcGroups.indices.map { g =>
      val canRatio = math.max(canaries(g), canaries(g + 1)) / CanaryBase
      val pcanRatio = math.min(pcans(g), pcans(g + 1)) / PcanBase
      1.0 / math.max(canRatio, pcanRatio) }
    val wnTotal = ok.map { case (r, i) =>
      r.wall * scales(math.min(i / groupSize, scales.length - 1)) }.sum
    // "cpu" is POSITIONAL (line-length budget: a second keyed map would
    // push the line past the 2000-char window): cpu[i] is the
    // JVM CPU seconds of the i-th key of "queries" in emission order.
    // 1-decimal precision — contention shows up as whole-second gaps.
    // "cpug" = JVM cpu seconds per canary group, the fallback's
    // group-granularity form of the same contention probe (cpu up
    // with wall ≈ GC storm or real work; cpu flat ≈ CPU starvation).
    val cpuGroups = positioned.grouped(groupSize)
      .map(_.collect { case (r, _) if r.ok => r.cpu }.sum).toSeq
    // Each field with the line variants that carry it: 0 = the full
    // line; 1 = the fallback, which swaps the per-query cpu array for
    // cpug; 2 = the minimal line, which also sheds pcan and gcg
    // (ADVICE r15) — queries/canary stay, they are the record.
    // canary[g] precedes query group g; its last entry is re-timed
    // after the final group. gcg[g] = GC seconds during query group g
    // — ONE entry per group, nothing to measure after the last probe.
    // "mcr"/"mcrn": see [[medianRatioToCanonical]]. "errors" uses the
    // short ids too: full names would re-grow the line exactly on the
    // multi-failure runs where the tail window matters most.
    val fields: Seq[(String, String, String)] = Seq(
      ("metric", "\"total\"", "012"),
      ("value", fmt(ok.map(_._1.wall).sum), "012"),
      ("unit", "\"sec\"", "012"),
      ("value_n", fmt(wnTotal), "012"),
      ("cb", fmt3(CanaryBase), "012"),
      ("pb", fmt3(PcanBase), "012")) ++
      mcr.toSeq.flatMap { case (ratio, n) =>
        Seq(("mcr", fmt3(ratio), "012"), ("mcrn", n.toString, "012")) } ++ Seq(
      ("scale", arr(scales, fmt3), "012"),
      ("queries", ok.map { case (r, _) => s"\"${r.key}\":${fmt(r.wall)}" }
        .mkString("{", ",", "}"), "012"),
      ("cpu", arr(ok.map(_._1.cpu), fmt1), "0"),
      ("cpug", arr(cpuGroups, fmt1), "1"),
      ("canary", arr(canaries, fmt3), "012"),
      ("pcan", arr(pcans, fmt3), "01"),
      ("gcg", arr(gcGroups, fmt1), "01"),
      ("errors", results.filterNot(_.ok).map(r => s"\"${r.key}\"").mkString("[", ",", "]"), "012"),
      ("sf", s"\"$sfDir\"", "012"))
    def variant(v: Char): String = fields.collect {
      case (k, json, in) if in.contains(v) => s"\"$k\":$json" }.mkString("{", ",", "}")
    // Hard guard on the driver's 2000-char tail window (sbt appends a
    // ~74-char "[success]" suffix after us): degrade rather than let
    // the window clip the JSON head — which at the full 100+-query
    // catalog is the NORMAL case for the full line.
    Seq('0', '1').map(variant).find(_.length <= 1900).getOrElse(variant('2'))
  }

  /** CONTENTION INSTRUMENT (VERDICT r19 #4): the probe-INVISIBLE
    * contention mode round 19 documented — every query uniformly
    * 5-15% slow while canary AND pcan read clean at the probe
    * instants — is detected by the MEDIAN per-query wall ratio vs the
    * previous committed canonical (BENCH_r{N}_local.json in the cwd,
    * newest round number wins), with the common-query count. It is
    * stamped into the line as "mcr"/"mcrn" so clean-window selection
    * is data in the record, not session lore: mcr ≈ 1.0 on a clean
    * run of unchanged code; a uniform shave reads directly as its
    * factor. Untimed (runs after the last probe pair), and any read/
    * parse trouble OMITS the field — the instrument must never fail
    * a bench. Cross-round caveat: code changes move per-query walls
    * too, so mcr is a contention detector on mostly-unchanged
    * catalogs, not a regression gate (raw common sums stay the rule).
    */
  private def medianRatioToCanonical(results: Seq[Timed], sfDir: String): Option[(Double, Int)] =
    try {
      val recs = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("BENCH_r\\d+_local\\.json"))
      if (recs.isEmpty) None else {
        val prev = recs.maxBy(_.getName.replaceAll("\\D+", "").toInt)
        import org.json4s._
        val rec = org.json4s.jackson.JsonMethods.parse(prev)
        // walls are only comparable at the SAME scale factor — an
        // sf0.001 smoke vs an sf0.1 canonical would read as a phantom
        // ~0.1x "speedup"; omit the field across SFs
        if (rec \ "sf" != JString(sfDir)) throw new IllegalStateException("sf mismatch")
        val prevQ = (rec \ "queries" match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }
          case _ => Nil
        }).toMap
        val cur = results.filter(_.ok).map(r => r.key -> r.wall).toMap
        val ratios = cur.keySet.intersect(prevQ.keySet).toSeq
          .map(k => cur(k) / math.max(prevQ(k), 1e-9)).sorted
        // a tiny overlap (GRAFT_BENCH_ONLY bisection runs) is not a
        // contention reading — leave the field out below 10 queries
        if (ratios.size < 10) None else Some((ratios(ratios.size / 2), ratios.size))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Between-queries isolation: drop the session's memoized relations
    * and handles, every cached relation, the temp views queries leave,
    * and drained streams' loaded state-store providers (across ~100
    * queries that accumulation inflated later streaming numbers ~3x,
    * see `streaming.Drain.reset`).
    */
  def isolate(spark: SparkSession): Unit = {
    SessionMemo.reset(spark)
    spark.catalog.clearCache()
    streaming.Drain.reset(spark)
  }
}
