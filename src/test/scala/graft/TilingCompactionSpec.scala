package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Tiling
import graft.sources.Compaction

/** P10 tiling generator + compaction maintenance jobs. */
class TilingCompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("tileOrigins: full coverage with edge snapping, duplicates preserved") {
    // 1000x1000, window 512, overlap 0.35 -> step 332: offsets 0,332,664,996
    // 996+512>1000 snaps to 488; 664+512>1000 snaps to 488 too (duplicate)
    val t = Tiling.tileOrigins(1000, 1000, 512, 512, 0.35)
    val ys = t.map(_._2).distinct.sorted
    assert(ys == Seq(0, 332, 488))
    assert(t.size == 16) // 4x4 offsets incl. duplicated snapped edge
    // every pixel covered
    assert(t.exists { case (x, y) => x <= 488 && y <= 488 })
  }

  test("tiles: plan generator matches pure generator") {
    import spark.implicits._
    val imgs = Seq((1, 1000, 700), (2, 400, 400)).toDF("img_id", "h", "w")
    val out = Tiling.tiles(imgs, "h", "w", 512, 512, 0.35)
      .select("img_id", "tile_x", "tile_y", "direct")
      .collect().groupBy(_.getInt(0))
    val expected1 = Tiling.tileOrigins(1000, 700, 512, 512, 0.35)
    assert(out(1).length == expected1.size)
    assert(out(1).map(r => (r.getInt(1), r.getInt(2))).sorted.toSeq == expected1.sorted)
    assert(out(1).forall(!_.getBoolean(3)))
    // small image: one direct tile at origin
    assert(out(2).map(r => (r.getInt(1), r.getInt(2), r.getBoolean(3))).toSeq
      == Seq((0, 0, true)))
  }

  test("mergeTileDetections: overlap duplicates suppressed, coords de-scaled, nested removed") {
    import spark.implicits._
    // One object at global (100,100)-(150,160), seen by two overlapping
    // tiles at scale 0.5 (local coords differ per tile origin), plus a
    // second object far away, plus a low-confidence box nested inside
    // the first object (must be removed by the nested pass).
    def local(gx1: Double, gy1: Double, gx2: Double, gy2: Double,
              s: Double, tx: Double, ty: Double, id: Int, score: Double) =
      ("img1", id, score, s, tx, ty,
        gx1 * s - tx, gy1 * s - ty, gx2 * s - tx, gy2 * s - ty)
    val rows = Seq(
      local(100, 100, 150, 160, 0.5, 0.0, 0.0, 1, 0.9),   // tile A sees obj 1
      local(100, 100, 150, 160, 0.5, 25.0, 25.0, 2, 0.8), // tile B sees obj 1 (dup)
      local(400, 400, 460, 470, 0.5, 175.0, 175.0, 3, 0.7), // obj 2
      local(110, 110, 140, 150, 0.5, 0.0, 0.0, 4, 0.3)    // nested low-conf
    ).toDF("img", "id", "score", "scale", "tile_x", "tile_y",
      "lx1", "ly1", "lx2", "ly2")
    val out = Tiling.mergeTileDetections(rows, nmsThreshold = 0.5)
      .collect().sortBy(_.id)
    assert(out.map(_.id).toSeq == Seq(1, 3), s"got ${out.toSeq}")
    // coords reconstructed to original image space
    val o1 = out.head
    assert(math.abs(o1.x1 - 100.0) < 1e-9 && math.abs(o1.y2 - 160.0) < 1e-9)
  }

  test("compaction: many small files -> few size-targeted files, data preserved") {
    import spark.implicits._
    val in = SparkTestBase.tempDir("compact_in").toString
    val out = SparkTestBase.tempDir("compact_out").toString
    spark.range(10000).toDF("id").repartition(40).write.mode("overwrite").parquet(in)
    val (nIn, nOut) = Compaction.compact(spark, in, out, targetFileBytes = 64 * 1024)
    assert(nIn == 40)
    assert(nOut < nIn)
    assert(spark.read.parquet(out).count() == 10000)
    val stats = Compaction.smallFileStats(spark, in, 16 * 1024).collect().head
    assert(stats.getLong(0) == 40)
  }

  test("compactInPlace: swaps small files for size-targeted ones, idempotent, sidecars untouched") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("compact_inplace").toString
    spark.range(10000).toDF("id").repartition(16)
      .write.mode("overwrite").parquet(dir)
    // a non-parquet sidecar (the _SUCCESS convention) must survive
    Files.writeString(java.nio.file.Paths.get(dir, "_sidecar"), "x")
    val want = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    val acted = Compaction.compactInPlace(spark, dir,
      smallBytes = 1024 * 1024, targetFileBytes = 8 * 1024 * 1024)
    assert(acted.contains((16L, 1L)), s"got $acted")
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files.length == 1, files.map(_.getName).mkString(","))
    assert(Files.exists(java.nio.file.Paths.get(dir, "_sidecar")))
    assert(!Files.exists(java.nio.file.Paths.get(dir, ".compact_staging")))
    // rows preserved exactly
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq == want)
    // second pass has nothing to do
    assert(Compaction.compactInPlace(spark, dir,
      smallBytes = 1024 * 1024, targetFileBytes = 8 * 1024 * 1024).isEmpty)
    // threshold honesty: big-enough files never trip
    val big = SparkTestBase.tempDir("compact_big").toString
    spark.range(10000).toDF("id").repartition(4)
      .write.mode("overwrite").parquet(big)
    assert(Compaction.compactInPlace(spark, big,
      smallBytes = 16, targetFileBytes = 8 * 1024 * 1024).isEmpty,
      "a majority of non-small files must not trip the rewrite")
    // the record round-trip the maintain CLIs report through
    Compaction.recordCompaction(spark, dir, Some((16L, 1L)))
    assert(Compaction.compactionReportOf(spark, dir) == "16->1")
    Compaction.recordCompaction(spark, dir, None)
    assert(Compaction.compactionReportOf(spark, dir) == "no")
    assert(Compaction.compactionReportOf(spark, big) == "none")
  }
}
