package graft.streaming

import org.apache.spark.sql.SparkSession

/** Streaming leftovers cleanup between benchmarked queries.
  *
  * A drained AvailableNow query leaves two things on the driver after
  * `awaitTermination`: its memory-sink temp view (holding every output
  * row on the heap) and its loaded `StateStoreProvider`s (holding the
  * final state version's UnsafeRow maps — st2's dedup keys alone are
  * ~100k rows x 4 partitions at sf0.1). Neither is reachable by
  * `spark.catalog.clearCache()`, so across a 99-query bench they
  * accumulate into GC pressure that inflates LATER streaming queries:
  * measured at sf0.1 (PLANS.md "Streaming bench overhead"), the
  * identical st2 micro-batch degrades from ~1.2 s to ~3.5 s after ~14
  * drained streams, and recovers to a stable ~1.7 s once both
  * leftovers are dropped between runs.
  *
  * `StateStore.unloadAll()` is Scala-`private[sql]` but public
  * bytecode, so the call goes through reflection; it only unloads
  * in-memory provider instances — checkpoint data on disk (already
  * per-query temp dirs here) is untouched, and an active query would
  * simply reload its providers on the next batch, so the unloadAll
  * call is safe even if something were still running. The VIEW sweep
  * is not equally harmless: dropping a memory sink's results view
  * while its query is still active would orphan that query's output —
  * so views named after an active `spark.streams` query are skipped
  * (Bench's per-query isolation drains every stream first, so there
  * the sweep still drops everything).
  */
object StreamHygiene {
  def reset(spark: SparkSession): Unit = {
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    val module = cls.getField("MODULE$").get(null)
    cls.getMethod("unloadAll").invoke(module)
    // every temp view alive BETWEEN catalog queries is a leak by
    // definition (each query (re)creates the views it needs) — except
    // a view backing a still-active memory-sink query
    val active = spark.streams.active.flatMap(q => Option(q.name))
      .map(_.toLowerCase).toSet
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .filterNot(t => active.contains(t.name.toLowerCase))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}
