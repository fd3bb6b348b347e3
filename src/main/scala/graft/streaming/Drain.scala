package graft.streaming

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.sources.ArtifactStore

/** The one way graft runs a stream to completion: `Trigger.AvailableNow`
  * takes every file the source holds when the query starts, and the
  * calling thread awaits the query's end.
  *
  * [[toSink]] keeps the output on disk, never on the driver: each
  * micro-batch's rows (the caller's per-batch function of the batch)
  * append to a parquet sink in append mode and replace it in complete
  * mode, where every batch carries the whole result table. The sink is
  * `ArtifactStore.datasetDir(kind, sources)`, emptied before each run:
  * one directory per (kind, dataset), which a throwaway dataset's
  * cleanup finds through `ArtifactStore.datasetDirsUnder`. [[run]] is
  * the bare form for the loops that own their per-trigger writes.
  *
  * A stateless stream (source → per-batch function, no state store)
  * runs at the session's shuffle partitions, NOT under
  * `ExtQ.withStreamShuffle`: that 4-partition throttle protects a state
  * store's layout, which such a stream does not have, and it only
  * squeezed the per-trigger batch jobs onto ≤ 4 tasks. At batch
  * parallelism st6's per-trigger probe + verify (a CPU-heavy join,
  * ~12-16 CPU-s at sf0.1) spreads over the session's shuffle partitions
  * (measured round 21: st6 4.4 s → ~2.5 s steady).
  */
object Drain {

  /** Per-dataset sink roots of the layout before this object owned the
    * sinks, keyed by an md5 of the data dir that no cleanup could find.
    */
  private val LegacyRoots = Seq("graft_st6_out", "graft_st8_out", "graft_st9_out",
    "graft_st10_out", "graft_st11_delta", "graft_st12_out")

  /** Starts `stream` with `perBatch` as its per-trigger callback and
    * returns once every available file has been processed.
    */
  def run(stream: DataFrame, mode: String = "append")(
      perBatch: (DataFrame, Long) => Unit): Unit =
    stream.writeStream.outputMode(mode).foreachBatch(perBatch)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** The empty sink directory of `kind` for the dataset of `sources`
    * (relative to data dir `d`). It exists even if no batch writes, so a
    * read with a given schema finds an empty table.
    */
  def sinkDir(s: SparkSession, kind: String, d: String, sources: Seq[String]): String = {
    LegacyRoots.foreach(ArtifactStore.retire(s, _))
    val dir = new Path(ArtifactStore.datasetDir(kind, sources.map(new File(d, _))))
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    dir.toString
  }

  /** Drains `stream` into the sink of `kind` and reads it back: each
    * batch writes `perBatch(batch)`. `persistBatch` caches the batch
    * while its per-batch function and write run, for functions that
    * read it more than once. The read takes the schema the batches
    * wrote, so no job infers it and a sink no batch wrote a file to
    * reads as an empty table; with no batch run, the result is
    * `perBatch` of an empty batch (typed, analysis only).
    */
  def toSink(stream: DataFrame, kind: String, d: String, sources: Seq[String],
             mode: String = "append", persistBatch: Boolean = false)(
             perBatch: DataFrame => DataFrame): DataFrame = {
    val s = stream.sparkSession
    val dir = sinkDir(s, kind, d, sources)
    val writeMode = if (mode == "complete") "overwrite" else "append"
    val written = new java.util.concurrent.atomic.AtomicReference[StructType]
    run(stream, mode) { (batch, _) =>
      val b = if (persistBatch) batch.persist() else batch
      try {
        val out = perBatch(b)
        written.set(out.schema)
        out.write.mode(writeMode).parquet(dir)
      } finally if (persistBatch) b.unpersist()
    }
    Option(written.get).fold(
      perBatch(s.createDataFrame(s.sparkContext.emptyRDD[Row], stream.schema)))(
      s.read.schema(_).parquet(dir))
  }

  /** Drops what drained streams and catalog queries leave on the driver
    * between benchmarked queries.
    *
    * A drained query's loaded `StateStoreProvider`s hold the final
    * state version's UnsafeRow maps (st2's dedup keys alone are ~100k
    * rows x 4 partitions at sf0.1), and `spark.catalog.clearCache()`
    * does not reach them. Across a 99-query bench they accumulated into
    * GC pressure that inflated LATER streaming queries: measured at
    * sf0.1 (PLANS.md "Streaming bench overhead"), the identical st2
    * micro-batch degraded from ~1.2 s to ~3.5 s after ~14 drained
    * streams, and recovered to a stable ~1.7 s once the providers (and
    * the memory-sink views of that time) were dropped between runs.
    * `StateStore.unloadAll()` is Scala-`private[sql]` but public
    * bytecode, so the call goes through reflection; it only unloads
    * in-memory provider instances — checkpoint data on disk is
    * untouched, and an active query reloads its providers on its next
    * batch.
    *
    * Every temp view alive between catalog queries is a leak by
    * definition — each query (re)creates the views it needs, as q10
    * does — so the sweep drops them all.
    */
  def reset(spark: SparkSession): Unit = {
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}
