package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** SessionMemo.reset releases exactly one session's state: its cached
  * entries are unpersisted, its uncached relations dropped and its
  * registered handles drained — while a sibling session sharing the
  * same SparkContext keeps all of its own.
  */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** One entry of each sort for `s`; `n` keeps the plans of the two
    * sessions distinct (the CacheManager is shared by the context, so
    * equal plans would share one cache entry).
    */
  private final class State(s: SparkSession, n: Long) {
    var builds = 0
    val cached: DataFrame = SessionMemo.cached(s, ("memo_spec_cached", n)) {
      builds += 1; s.range(n).toDF() }
    def uncached: DataFrame = SessionMemo(s, ("memo_spec_uncached", n)) {
      builds += 1; s.range(n + 1).toDF() }
    val relation: DataFrame = uncached
    val handle: DataFrame = SessionMemo.register(s.range(n + 2).toDF().cache(), s)
    handle.count()
  }

  test("reset(s) releases s's cached entries, relations and handles; a sibling keeps its own") {
    val sibling = spark.newSession()
    val mine = new State(spark, 1001)
    val theirs = new State(sibling, 2001)
    Seq(mine, theirs).foreach { st =>
      assert(st.cached.storageLevel != StorageLevel.NONE)
      assert(st.handle.storageLevel != StorageLevel.NONE)
      assert(st.uncached eq st.relation)
      assert(st.builds == 2)
    }

    SessionMemo.reset(spark)

    assert(mine.cached.storageLevel == StorageLevel.NONE, "cached entry not unpersisted")
    assert(mine.handle.storageLevel == StorageLevel.NONE, "registered handle not drained")
    assert(!(mine.uncached eq mine.relation), "uncached relation not dropped")
    assert(mine.builds == 3)

    assert(theirs.cached.storageLevel != StorageLevel.NONE)
    assert(theirs.handle.storageLevel != StorageLevel.NONE)
    assert(theirs.uncached eq theirs.relation)
    assert(theirs.builds == 2)

    SessionMemo.reset(sibling)
    assert(theirs.cached.storageLevel == StorageLevel.NONE)
    assert(theirs.handle.storageLevel == StorageLevel.NONE)
    SessionMemo.reset(spark)
  }
}
