package graft.tools

import org.apache.spark.sql.functions._
import graft.{LocalSession, Tables}
import graft.operators.Dedup

/** Stage-by-stage wall-time breakdown of the d07 CC pipeline — a
  * diagnostic main for local bisection (not part of the driver
  * contract). Run: sbt "runMain graft.tools.ProfileCC".
  */
object ProfileCC {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    val docs = Tables.documents(spark, sfDir)
    val cands = Dedup.minhashCandidatesFromBands(Dedup.bandSignatures(docs, 16, 2, "text"))
    val edges = Dedup.jaccardPairs(docs, cands, n = 1, minJaccard = 0.5)
      .filter(col("jaccard") >= 0.9).select("doc_a", "doc_b").cache()
    t("edges materialize")(edges.count())
    t("cc run 1")(Dedup.connectedComponents(edges, distinctEdges = false).count())
    t("cc run 2 (warm)")(Dedup.connectedComponents(edges, distinctEdges = false).count())
    // RELIABLE-CHECKPOINT mode at bench scale: the executor-loss-
    // tolerant path a 100 TB CC job should run (localCheckpoint dies
    // with a lost executor). Proves (a) same fixpoint as the local
    // path on the full sf edge set, (b) per-round generation GC leaves
    // at most the final generation's rdd-* dir behind.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt_")
    val local = Dedup.connectedComponents(edges, distinctEdges = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val reliable = t("cc reliable (checkpointDir)") {
      Dedup.connectedComponents(edges, distinctEdges = false,
        checkpointDir = Some(ckptDir.toString))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    require(local.sameElements(reliable),
      "reliable-checkpoint CC diverged from the local-checkpoint fixpoint")
    import scala.jdk.CollectionConverters._
    val rddDirs = java.nio.file.Files.walk(ckptDir).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("rdd-"))
    System.err.println(s"[profile] reliable fixpoint matches; rdd dirs remaining after GC: $rddDirs")
    require(rddDirs <= 1, s"superseded checkpoint generations not GC'd: $rddDirs")
    java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    spark.stop()
  }
}
