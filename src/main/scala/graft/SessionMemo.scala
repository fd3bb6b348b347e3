package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's session state over its artifacts, in one map: memoized
  * relations (the derived MOT tables, store reads, the verified
  * embedding pairs) and persisted handles whose owner finishes before
  * the cache should die (semDeDup's assignment, st7's final labels).
  * One [[reset]] releases all of a session's entries — the between-
  * queries isolation of Bench, the profilers and the specs, and
  * dedup-maintain's drop of relations over a superseded generation.
  *
  * Keyed by the OWNING SparkSession, not its SparkContext: sibling
  * sessions from `spark.newSession()` share one context, and a
  * context-keyed reset would unpersist entries a sibling still serves
  * (ADVICE r15). Entries whose context has stopped are dropped at the
  * next insert, so a library caller that never resets stays bounded
  * across session restarts in one JVM.
  */
object SessionMemo {
  private final case class Handle(id: Long)
  private val handleIds = new java.util.concurrent.atomic.AtomicLong
  private val entries = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Any), DataFrame]

  private def sweepStopped(): Unit =
    entries.keys.filter(_._1.sparkContext.isStopped).foreach(entries.remove)

  /** The relation memoized under `key` for session `s`, built on first
    * use. Not persisted: [[reset]] just drops it.
    */
  def apply(s: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    entries.getOrElse((s, key), {
      sweepStopped()
      entries.getOrElseUpdate((s, key), build)
    })

  /** [[apply]] for a relation worth materializing: cached and counted
    * once, unpersisted by [[reset]].
    */
  def cached(s: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    apply(s, key) {
      val df = register(build.cache(), s)
      df.count()
      df
    }

  /** Track a persisted DataFrame for unpersist at `owner`'s next
    * [[reset]]. Frames built inside a per-batch function must name the outer
    * session: Structured Streaming hands the batch a CLONED session,
    * so `df.sparkSession` would never be reset.
    */
  def register(df: DataFrame, owner: SparkSession): DataFrame = {
    sweepStopped()
    entries.put((owner, Handle(handleIds.incrementAndGet())), df)
    df
  }

  /** Drop every entry of `s`, unpersisting its registered handles
    * (cached entries included). Sibling sessions keep theirs. Lineage
    * stays intact, so a late re-read of a released frame recomputes
    * rather than breaking.
    */
  def reset(s: SparkSession): Unit =
    entries.keys.filter(_._1 eq s).foreach { k =>
      entries.remove(k).foreach(df => if (k._2.isInstanceOf[Handle]) df.unpersist())
    }
}
