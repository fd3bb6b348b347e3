package graft

import org.apache.spark.sql.SparkSession
import graft.sources.LocalFs

/** One place for the local-session bootstrap shared by every runnable
  * main (Bench / Verify / Run / Anchor): master threads == shuffle
  * partitions (sized to the machine, not Spark's 200 default),
  * TIMESTAMP(NANOS) parquet reads, UTC, extensions registered, `file:`
  * through graft's process-free local filesystem. Keeping
  * it single-sourced means a new required flag lands everywhere at once.
  */
object LocalSession {
  /** Entries in Spark's JVM-wide compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf latched by the
    * first codegen in the JVM). Spark's default of 100 is about one MOT
    * request's working set: detect post-processing + `track` + `eval` +
    * the metric tables on one small sequence compile about 100 classes
    * (about 45 in the eval path, whose matching and metrics are Scala
    * kernels), and a process that also runs other pipelines or catalog
    * queries needs more. An LRU smaller than the working set evicts every
    * class before its next use, so each request recompiles all of them.
    * 1000 holds several such working sets at once; the identical plans of
    * repeat requests then hit the cache.
    */
  val CodegenCacheEntries: Int = 1000

  /** `file:` is graft's [[graft.sources.LocalFs]] for both Hadoop APIs:
    * `fs.file.impl` (`FileSystem`: CSV/parquet writes, the artifact
    * stores) and `fs.AbstractFileSystem.file.impl` (`FileContext`:
    * streaming offset, commit and source logs, the state store). Without
    * libhadoop, Hadoop's stock local filesystem starts a `chmod` process
    * for every file and directory it creates and a `readlink` process for
    * every `FileContext` rename; counted with `PATH` wrappers on a 4-core
    * box, that was 27 processes per `mot_short` request (9 per CSV
    * write), about 95 per `mot_stream` trigger, in series on the driver
    * for the logs, and 4368 in a full sf0.01 `graft.Bench`. Through
    * `LocalFs` all of them are 0, with the same permission bits and
    * `.crc` files.
    */
  val LocalFileSystem: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Checksummed].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName)

  def build(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config(LocalFileSystem)
      // Let AQE re-optimize (coalesce tiny post-shuffle partitions)
      // INSIDE cached-plan fragments and below them. The default
      // (false) freezes a cached plan's output partitioning so
      // downstream consumers that rely on it keep their zero-shuffle
      // plans; nothing in this catalog does — every value is
      // partitioning-independent by design (quantized aggregates,
      // pinned tie-breaks; cross-CPU bit-identity is a standing Verify
      // check at local[8] vs local[3]). Without it, every query that
      // caches an eval-scale intermediate (the derived MOT tables and
      // m11's anchor base, the band/gram artifact memos, the streaming
      // batches) materializes and re-reads it at the full
      // shuffle-partition count — at bench scale that is 32 tasks per
      // stage carrying a few KB each, ~0.1 s scheduling latency per task
      // (measured when MotEval still cached a relational match table:
      // m11 4.8 s → 3.3 s steady, m02 task-CPU 24 s → 9 s; d05
      // first-touch 7.8 s → 5.0 s). At
      // cluster scale the same flag lets AQE right-size the cache's
      // partitions to data volume instead of the static conf.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
