package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Connected-components dedup clustering (Dedup.connectedComponents):
  * - fixpoint equals a reference union-find on the same edges
  * - labels are the component-min id (deterministic canonical rep)
  * - chain topologies (worst-case diameter) converge, not just dense
  *   LSH-style cliques
  * - singletons (no edges touching them) simply don't appear — the
  *   caller unions them back as their own cluster if needed
  */
class CcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val df = edges.toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }

  test("clique + separate pair + bridge matches union-find") {
    check(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (3L, 10L), (20L, 21L)))
  }

  test("long chain (diameter = n) converges to the chain min") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    check(chain)
    // explicit: every node labeled 0
    val got = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"))
      .agg(countDistinct("cluster_id"), min("cluster_id"), count(lit(1))).head()
    assert(got.getLong(0) == 1L && got.getLong(1) == 0L && got.getLong(2) == 41L)
  }

  test("edge direction and duplicates don't matter") {
    val a = Dedup.connectedComponents(
      Seq((5L, 9L), (9L, 5L), (5L, 9L), (9L, 7L)).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == Set((5L, 5L), (9L, 5L), (7L, 5L)))
  }

  test("hybrid tail solve matches the fully-distributed loop") {
    val edges = (0L until 30L).map(i => (i, i + 1)) ++
      Seq((100L, 105L), (105L, 110L), (200L, 201L), (7L, 100L))
    val df = edges.toDF("doc_a", "doc_b")
    val expect = unionFind(edges)
    // fully distributed (tail solve disabled)
    val dist = Dedup.connectedComponents(df, localSolveThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // immediate tail solve (default threshold covers everything)
    val tail = Dedup.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // MID-LOOP handoff: threshold small enough that the first rounds
    // run distributed and the contracted fringe then drops under it
    val mid = Dedup.connectedComponents(df, localSolveThreshold = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect)
    assert(tail == expect)
    assert(mid == expect)
  }

  test("ccIncremental == batch CC over the combined edge set") {
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val newEdges = Seq((3L, 10L), (30L, 31L), (11L, 40L))
    val prev = Dedup.connectedComponents(oldEdges.toDF("doc_a", "doc_b"))
    val inc = Dedup.ccIncremental(prev, newEdges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == unionFind(oldEdges ++ newEdges))
    // untouched cluster (20,21) kept its id; merged chain collapsed to 1
    assert(inc(21L) == 20L && inc(40L) == 1L && inc(30L) == 30L)
  }

  test("ccIncremental == batch CC on randomized corpus/batch splits") {
    // the exact d17 decomposition, randomized: mark a random node
    // subset "new", cluster the old-only edges first, then star-merge
    // every edge touching a new node — the fixpoint must equal
    // union-find over ALL edges for any graph and any split
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 6) {
      val n = 20L + rnd.nextInt(40)
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.06
      } yield (a, b)).toSeq
      val isNew = (0L until n).map(x => x -> (rnd.nextDouble() < 0.3)).toMap
      val (newEdges, oldEdges) =
        edges.partition { case (a, b) => isNew(a) || isNew(b) }
      val prev = Dedup.connectedComponents(oldEdges.toDF("doc_a", "doc_b"))
      val inc = Dedup.ccIncremental(prev, newEdges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == unionFind(edges),
        s"trial $trial: n=$n edges=${edges.size} new=${newEdges.size}")
    }
  }

  test("ccIncremental keeps singleton prev clusters that no new edge touches") {
    // prevLabels containing isolated docs (cluster of one — e.g. a
    // catalog where every doc gets a row): they have no star edge and
    // appear in no new edge, so only the singleton re-attach keeps them
    val prev = Seq((1L, 1L), (2L, 1L), (99L, 99L)).toDF("doc_id", "cluster_id")
    val inc = Dedup.ccIncremental(prev, Seq((1L, 5L)).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 99L -> 99L))
  }

  test("reliable-checkpoint path (checkpointDir) matches the local path") {
    // the executor-loss-tolerant variant a real cluster should use:
    // same fixpoint, and checkpoint files actually land in the dir
    val dir = SparkTestBase.tempDir("cc_ckpt_").toString
    val edges = (0L until 25L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (50L, 60L))
    val df = edges.toDF("doc_a", "doc_b")
    val reliable = Dedup.connectedComponents(df, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == unionFind(edges))
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, s"no checkpoint files written under $dir")
    // superseded rounds must be DELETED as the loop advances: a 25-node
    // chain runs several rounds, each checkpointing 2 generations plus
    // the compress passes — retaining them all would leave rdd-* dirs
    // proportional to the round count. Only the final labels generation
    // (the returned DataFrame's data) may remain.
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(rddDirs <= 1, s"superseded checkpoints not cleaned: $rddDirs rdd dirs")
  }
}
