package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.KernelQ
import graft.sources.{Artifact, ArtifactStore}

/** The catalog's artifact declarations (`Q.needs`) against the store.
  *
  * Each test runs on a fresh copy of the sf0.001 smoke dataset
  * (TESTDATA.md): a new path and new mtimes give every store a new
  * dataset hash, so nothing is prebuilt and every build and GC the
  * store does is exercised. The copies and their store trees are
  * deleted afterwards.
  */
class NeedsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark
  private val smoke = new File(sys.props("user.home"), "testdata/sf0.001")
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val declared = SparkEntry.catalog.flatMap(_.needs).distinct

  private val copies = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def freshCopy(): String = {
    val dir = Files.createTempDirectory("needs_spec_")
    copies += dir
    smoke.listFiles().foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  /** `<tmp>/<kind>/<datasetHash>` of a resolved artifact directory. */
  private def storeRoot(dir: String): Path = {
    val rel = tmp.relativize(Paths.get(dir))
    tmp.resolve(rel.getName(0)).resolve(rel.getName(1))
  }

  private def resolve(a: Artifact, d: String): String = a.resolve(spark, d)

  private def rm(p: Path): Unit = {
    def go(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(go)); f.delete() }
    go(p.toFile)
  }

  override def afterAll(): Unit = copies.foreach { c =>
    // a kind root goes too once no dataset is left in it
    ArtifactStore.datasetDirsUnder(c.toFile).map(Paths.get(_))
      .foreach { p => rm(p); p.getParent.toFile.delete() }
    rm(c)
  }

  test("every declared artifact and two anchor frame counts coexist, built in either order") {
    val all = (declared ++ Seq(KernelQ.anchorStore(1000), KernelQ.anchorStore(10000))).distinct
    assert(all.size > 15, all.map(_.name))
    for (order <- Seq(all, all.reverse)) {
      val d = freshCopy()
      val dirs = order.map(a => a.name -> resolve(a, d))
      val lost = dirs.collect {
        case (name, dir) if !new File(dir, "_SUCCESS").exists() => name
      }
      assert(lost.isEmpty,
        s"building ${order.map(_.name).mkString(" -> ")} deleted ${lost.mkString(", ")}")
    }
  }

  test("no query builds an artifact in its run once its declared needs are resolved") {
    val d = freshCopy()
    // every store of this copy, so each query can run with ONLY its own
    // declared stores on disk: an undeclared read then has to build
    val roots = declared.map(a => a -> storeRoot(resolve(a, d))).toMap
    // grouped by needs, so a store is rebuilt about once per group
    val queries = SparkEntry.catalog.filter(_.needs.nonEmpty)
      .sortBy(q => (q.needs.map(_.name).sorted.mkString(","), q.name))
    val offenders = queries.flatMap { q =>
      roots.foreach { case (a, root) => if (!q.needs.contains(a)) rm(root) }
      q.needs.foreach(resolve(_, d))
      Bench.isolate(spark)
      val b0 = ArtifactStore.builds.get
      q.fn(spark, d).write.mode("overwrite").format("noop").save()
      val built = ArtifactStore.builds.get - b0
      if (built > 0) Some(s"${q.name} ($built)") else None
    }
    Bench.isolate(spark)
    assert(offenders.isEmpty,
      s"artifact builds inside query runs: ${offenders.mkString(", ")}")
  }

  test("the maintain commands resolve exactly the declared stores of their source table") {
    for ((table, reportKeys) <- Seq(
        "documents.parquet" -> Seq("band", "gram", "clusters", "simhash", "dsir", "clf", "decontam"),
        "embeddings.parquet" -> Seq("index", "sem", "corpus"))) {
      val maintained = Run.maintained(table)
      assert(maintained.map(_.name) == reportKeys, table)
      assert(maintained.toSet == declared.filter(_.sources == Seq(table)).toSet, table)
    }
  }

  test("a derived table's resolve deletes the legacy sub-keyed derived root") {
    val legacy = tmp.resolve("graft_derived_artifact")
    Files.createDirectories(legacy.resolve("0123456789ab").resolve("gt"))
    resolve(Derived.GtStore, freshCopy())
    assert(!Files.exists(legacy))
  }
}
