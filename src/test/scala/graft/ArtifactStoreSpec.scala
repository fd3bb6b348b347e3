package graft

import org.scalatest.funsuite.AnyFunSuite

/** ArtifactStore: build-once semantics, generation invalidation on
  * source change, and stale-generation GC (the driver regenerates
  * testdata between rounds — without GC every generation's artifacts
  * accumulate in the store forever).
  */
class ArtifactStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def withTempSource(body: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("artifact_spec_").toFile
    try body(dir)
    finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("build-once, invalidate on source generation change, GC stale generations") {
    withTempSource { tmp =>
      val src = new java.io.File(tmp, "data.txt")
      java.nio.file.Files.writeString(src.toPath, "gen1")
      val kind = s"graft_test_artifact_${System.nanoTime()}"
      var builds = 0
      def resolve(): String =
        sources.ArtifactStore.resolve(spark, kind, Seq(src)) { dir =>
          builds += 1
          // a minimal "parquet write": the store only checks _SUCCESS
          new java.io.File(dir).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, "_SUCCESS"), "")
        }
      val d1 = resolve()
      assert(builds == 1)
      assert(resolve() == d1 && builds == 1, "second resolve must not rebuild")

      // new source generation: same path, different (length, mtime)
      java.nio.file.Files.writeString(src.toPath, "generation-two")
      src.setLastModified(src.lastModified() + 5000)
      val d2 = resolve()
      assert(builds == 2, "changed source must invalidate the artifact")
      assert(d2 != d1, "new generation must get a new directory")
      assert(!new java.io.File(d1).exists(),
        s"stale generation $d1 must be GC'd when $d2 is built")
      assert(new java.io.File(d2, "_SUCCESS").exists())

      // cleanup the test kind's store root
      val root = new java.io.File(System.getProperty("java.io.tmpdir"), kind)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(root)
    }
  }

  test("band store dual layouts hold identical rows; partition values match the prefix formula") {
    import org.apache.spark.sql.functions.col
    // full/ (scan copy) and pfx/ (probe copy) are written from one
    // compute — an edit that lets them drift would make the streaming
    // probes answer differently from the batch consumers; and a
    // partition value that stops matching sigPfx(band_sig) would make
    // the probe's partition filter silently prune the WRONG directories
    val art = graft.queries.TextQ.BandStore.resolve(spark,
      s"${sys.props("user.home")}/testdata/sf0.001")
    val cols = Seq("doc_id", "band", "band_sig", "source").map(col)
    val full = spark.read.parquet(s"$art/full").select(cols: _*)
    val pfx = spark.read.parquet(s"$art/pfx")
    assert(pfx.filter(
      graft.queries.TextQ.sigPfx(col("band_sig")) =!= col("sig_pfx")).count() == 0,
      "partition value diverged from the prefix formula")
    val p = pfx.select(cols: _*)
    assert(full.count() == p.count())
    assert(full.exceptAll(p).isEmpty && p.exceptAll(full).isEmpty,
      "scan and probe copies diverged")
  }

  test("a build that dies after a parquet commit publishes nothing; the next resolve rebuilds") {
    withTempSource { tmp =>
      val src = new java.io.File(tmp, "data.txt")
      java.nio.file.Files.writeString(src.toPath, "gen1")
      val kind = s"graft_test_artifact_${System.nanoTime()}"
      var builds = 0
      def resolve(fail: Boolean): String =
        sources.ArtifactStore.resolve(spark, kind, Seq(src)) { dir =>
          builds += 1
          // a parquet write at the build's root: Spark's committer
          // leaves its own _SUCCESS there
          spark.range(4).write.parquet(dir)
          if (fail) throw new IllegalStateException("build died")
        }
      intercept[IllegalStateException](resolve(fail = true))
      intercept[IllegalStateException](
        sources.ArtifactStore.resolveExisting(spark, kind, Seq(src)))
      val dir = resolve(fail = false)
      assert(builds == 2, "a dead build must not leave a published generation")
      assert(spark.read.parquet(dir).count() == 4)
      assert(new java.io.File(dir).getParentFile.list().toSeq ==
        Seq(new java.io.File(dir).getName), "the dead build's staging must be GC'd")
      rm(new java.io.File(System.getProperty("java.io.tmpdir"), kind))
    }
  }

  test("a compacting store is invisible while it builds; _SUCCESS is its newest file") {
    withTempSource { tmp =>
      val src = new java.io.File(tmp, "data.txt")
      java.nio.file.Files.writeString(src.toPath, "gen1")
      val kind = s"graft_test_artifact_${System.nanoTime()}"
      var listedDuringBuild = Seq.empty[String]
      val dir = sources.ArtifactStore.resolve(spark, kind, Seq(src),
          compacts = Some("")) { staging =>
        // eight small files at the root: the compaction acts
        spark.range(0, 1000, 1, 8).write.parquet(staging)
        listedDuringBuild = new java.io.File(staging).getParentFile.list().toSeq
      }
      val gen = new java.io.File(dir)
      assert(!listedDuringBuild.contains(gen.getName),
        s"generation $dir was visible during its build: $listedDuringBuild")
      assert(sources.Compaction.compactionReportOf(spark, dir) == "8->1")
      val success = new java.io.File(gen, "_SUCCESS").lastModified()
      val later = gen.listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet") ||
          f.getName == sources.Compaction.CompactionRecord)
        .filter(_.lastModified() > success)
      assert(later.isEmpty, s"files newer than _SUCCESS: ${later.mkString(", ")}")
      assert(spark.read.parquet(dir).count() == 1000)
      rm(new java.io.File(System.getProperty("java.io.tmpdir"), kind))
    }
  }

  test("different datasets never GC each other") {
    withTempSource { tmpA =>
      withTempSource { tmpB =>
        val a = new java.io.File(tmpA, "data.txt")
        val b = new java.io.File(tmpB, "data.txt")
        java.nio.file.Files.writeString(a.toPath, "aaaa")
        java.nio.file.Files.writeString(b.toPath, "bbbbbbbb")
        val kind = s"graft_test_artifact_${System.nanoTime()}"
        def resolve(src: java.io.File): String =
          sources.ArtifactStore.resolve(spark, kind, Seq(src)) { dir =>
            new java.io.File(dir).mkdirs()
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(dir, "_SUCCESS"), "")
          }
        val da = resolve(a)
        val db = resolve(b)
        assert(new java.io.File(da).exists(),
          "building dataset B's artifact must not GC dataset A's")
        assert(new java.io.File(db).exists())
        val root = new java.io.File(System.getProperty("java.io.tmpdir"), kind)
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(root)
      }
    }
  }

  test("retirePrefixed deletes graft_mot_rt_<dir> entries and keeps graft_mot_rt/<hash>") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val former = new java.io.File(tmp, "graft_mot_rt__spec_former")
    val current = new java.io.File(tmp, "graft_mot_rt/spec_current")
    Seq(former, current).foreach(d => assert(new java.io.File(d, "part").mkdirs()))
    try {
      sources.ArtifactStore.retirePrefixed(spark, "graft_mot_rt_")
      assert(!former.exists())
      assert(new java.io.File(current, "part").exists())
    } finally Seq(former, current).foreach(rm)
  }
}
