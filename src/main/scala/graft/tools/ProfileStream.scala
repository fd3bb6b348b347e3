package graft.tools

import graft.{LocalSession, Tables}
import org.apache.spark.sql.functions._

/** Streaming fixed-overhead diagnostic behind the round-12 bench
  * changes. Two findings it reproduces at sf0.1:
  *
  *  1. FIRST-TOUCH: the first streaming query of a session pays ~2 s of
  *     micro-batch-engine/state-store class loading + JIT the batch
  *     warmup kernel never touches (first st2 drain ~3.4-5 s, every
  *     later one ~1.2-1.7 s regardless of partition count or checkpoint
  *     filesystem) — hence Bench's untimed streaming warmup.
  *  2. LEFTOVER ACCUMULATION: each drained stream leaves its
  *     memory-sink rows + loaded state-store providers on the heap;
  *     after ~14 drains the identical micro-batch degrades ~3x
  *     (addBatch 786 ms -> 2.7 s) — hence StreamHygiene.reset between
  *     benchmarked queries.
  *
  * Run: SPARK_GRAFT_SF_DIR=... runMain graft.tools.ProfileStream
  */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = LocalSession.build("32", logLevel = "ERROR")
    s.range(1000000).selectExpr("sum(id % 7)").collect()

    // catalog-fn timing through the exact bench path + hygiene hooks
    for (i <- 1 to 6; qn <- Seq("st2_stream_dedup", "st3_stream_session")) {
      graft.Bench.isolate(s)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(qn)(s, d).write.mode("overwrite").format("noop").save()
      println(f"[stream] catalog $qn run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // per-batch duration breakdown of the bare st2 shape
    for (i <- 1 to 2) {
      graft.streaming.StreamHygiene.reset(s)
      graft.queries.ExtQ.withStreamShuffle(s) {
        val schema = Tables.events(s, d).schema
        def src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
        val t0 = System.nanoTime()
        val q = src.union(src)
          .withColumn("et", Tables.eventTime(schema("ts").dataType))
          .withWatermark("et", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("memory").queryName(s"prof_st2_$i")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        println(f"[stream] bare st2 shape run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        q.recentProgress.foreach { p =>
          println(s"[stream]   batch ${p.batchId}: rows=${p.numInputRows} " +
            s"durations=${p.durationMs}")
        }
      }
    }
    s.stop()
  }
}
