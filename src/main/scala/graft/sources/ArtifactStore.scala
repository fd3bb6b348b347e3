package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared resolver for persisted DERIVED-DATA artifacts (band
  * signatures, gram fingerprints, MOT input tables, the m11 anchor
  * base): deterministic functions of source data, computed once per
  * source-data GENERATION and FileScanned by every consumer thereafter
  * — the steady-state production posture (compute-once maintenance vs
  * per-query recompute). Each store is declared once as an [[Artifact]].
  *
  * Layout: `<tmp>/<kind>/<datasetHash>/<sub?>/<genTag>` where
  * `datasetHash` identifies WHICH dataset (md5 of the source paths —
  * sf0.01 and sf0.1 artifacts must coexist) and `genTag` identifies
  * the data generation (fold of each source file's length + mtime — a
  * regenerated file at the same path gets a new tag, so stale
  * signatures are never served). `_SUCCESS` gates readiness: a torn
  * write is rebuilt, never read.
  *
  * `sub` is the PARAMS/LAYOUT tag: callers fold the artifact's
  * algorithm parameters and on-disk layout version into it (e.g. the
  * band artifact's "h16b2p2" = 16 hashes / 2 bands / 2-hex-char
  * partition prefix), so a code-side parameter or layout change
  * invalidates the artifact exactly like a data change does — without
  * it, retuning a threshold would silently serve stale artifacts
  * until the source data happened to regenerate. Only one sub value
  * exists per kind at any code version (params are code constants),
  * so stale sibling subs are GC'd alongside stale generations.
  *
  * STAGED PUBLISH: a build never writes at the generation path. It
  * writes into `.<genTag>.staging` beside it; the store then compacts
  * the sub-path the artifact declares (`Compaction.compactInPlace`,
  * whose swap is only safe where no reader can look) and records the
  * result, writes `_SUCCESS` as the generation's last file, and
  * renames the staging directory onto the generation path. A reader
  * therefore sees either no generation or a complete, compacted one —
  * Spark's own `_SUCCESS` (written by a parquet commit at the build's
  * root, before any compaction) is never visible at the generation
  * path. A build that dies leaves only its staging directory, which
  * the next resolve's GC deletes as a stale sibling.
  *
  * STALE-GENERATION GC: when a new generation's artifact is built, the
  * SAME dataset's superseded generation directories are deleted — the
  * driver regenerates testdata between rounds, and without this every
  * generation's artifacts accumulate in the store forever. Other
  * datasets' artifacts (different `datasetHash`) are never touched, so
  * concurrent sessions on different SF dirs can't thrash each other.
  * On a real cluster this directory lives on shared storage and the
  * same writer-GCs-its-own-dataset rule applies.
  *
  * Mid-SESSION source regeneration (source file rewritten while a
  * session still holds memoized DataFrames over the old generation) is
  * deliberately a LOUD failure, not a silent one: the next resolve GCs
  * the old directory, so a later action on a stale memoized relation
  * fails with a missing-file error instead of serving rows from data
  * that no longer exists. Sessions are expected to be restarted across
  * data generations (Bench and Verify always are), or to drop their
  * memoized relations with `SessionMemo.reset` first (dedup-maintain
  * does).
  */
object ArtifactStore {

  /** Builds run by [[resolve]] in this JVM. Bench reads it around each
    * timed query: a build there means the query reads an artifact it
    * does not declare in its `needs`.
    */
  val builds = new java.util.concurrent.atomic.AtomicLong

  /** Delete the root of a retired artifact kind (a layout no current
    * code reads), if one is left in the store from an older version.
    */
  def retire(spark: SparkSession, kind: String): Unit = {
    val root = new Path(s"${System.getProperty("java.io.tmpdir")}/$kind")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
  }

  /** [[retire]] every `<tmp>` entry whose name starts with `prefix`: the
    * per-dataset directories of a naming that put the dataset into the
    * entry's own name.
    */
  def retirePrefixed(spark: SparkSession, prefix: String): Unit =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith(prefix)).foreach(retire(spark, _))

  /** `<tmp>/<kind>/<datasetHash>` of every store [[locate]]d in this
    * JVM, with the dataset's source files.
    */
  private val located =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[java.io.File]]()

  /** The `<tmp>/<kind>/<datasetHash>` directories located in this JVM
    * for datasets whose every source file lies under `root` — the
    * stores a throwaway dataset copy leaves behind, since no other
    * dataset's GC ever touches them.
    */
  def datasetDirsUnder(root: java.io.File): Seq[String] = {
    val r = root.toPath.toAbsolutePath.normalize
    located.asScala.collect {
      case (dir, srcs) if srcs.forall(_.toPath.toAbsolutePath.normalize.startsWith(r)) => dir
    }.toSeq
  }

  /** `<tmp>/<kind>/<datasetHash>` for a query's own output derived from
    * `sources`, recorded like a store's so [[datasetDirsUnder]] names it.
    */
  def datasetDir(kind: String, sources: Seq[java.io.File]): String =
    locate(kind, sources, "")._1

  /** The artifact directory this (kind, sources, sub) resolves to —
    * shared by [[resolve]] (build-if-missing) and [[resolveExisting]]
    * (fail-if-missing) so the two can never address different paths.
    */
  private def locate(kind: String, sources: Seq[java.io.File],
                     sub: String): (String, String, String) = {
    val dsHash = {
      val md = java.security.MessageDigest.getInstance("MD5")
      sources.foreach(f => md.update(f.getAbsolutePath.getBytes("UTF-8")))
      md.digest().take(6).map("%02x".format(_)).mkString
    }
    val genTag = java.lang.Long.toHexString(
      sources.map(f => f.length() * 1000003L + f.lastModified())
        .reduce(_ * 998244353L + _))
    val dsDir = s"${System.getProperty("java.io.tmpdir")}/$kind/$dsHash"
    located.putIfAbsent(dsDir, sources)
    val base = dsDir + (if (sub.nonEmpty) s"/$sub" else "")
    (dsDir, base, s"$base/$genTag")
  }

  /** [[resolve]]'s read-only twin for PROBE paths that must never own
    * a build — above all the per-trigger probes inside a streaming
    * micro-batch: an artifact missing there means the maintenance job
    * (dedup-maintain / ann-maintain, or the query's own pre-stream
    * resolve) didn't run for this generation, and silently rebuilding
    * a corpus-sized store inside a micro-batch trigger would bury a
    * maintenance outage as a mystery slow trigger. Fails loudly
    * instead (StreamBoundarySpec pins it).
    */
  def resolveExisting(spark: SparkSession, kind: String,
                      sources: Seq[java.io.File], sub: String = ""): String = {
    val (_, _, dir) = locate(kind, sources, sub)
    val p = new Path(dir, "_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new IllegalStateException(
      s"artifact $kind is not built for this data generation ($dir): " +
        "run the maintenance path (dedup-maintain/ann-maintain or the " +
        "query's pre-stream resolve) first — a streaming trigger never " +
        "builds stores inline")
    dir
  }

  /** Per-directory build monitors: two concurrent resolves of the SAME
    * (kind, dataset, sub, generation) inside one JVM must not both run
    * `build` — the second writer's `mode("overwrite")` deletes files
    * the first (already finished and being read) just committed, which
    * surfaces as FILE_NOT_EXIST on a reader mid-scan (hit by parallel
    * test suites the moment a sub bump invalidates a shared store).
    * In-JVM exclusion is the honest scope here: cross-process writers
    * (the driver vs a local shell) are serialized by the `_SUCCESS`
    * re-check under the lock in the common case, the publish keeps a
    * generation another writer renamed into place first, and a real
    * deployment puts the store on storage with atomic rename semantics.
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Returns the artifact directory, building it via `build(staging)`
    * if this generation has not been (fully) published yet, then
    * compacting the `compacts` sub-path ("" = the generation root) and
    * publishing (see the header's STAGED PUBLISH).
    *
    * The monitor is keyed by the SUB-LEVEL BASE path (stable across
    * data generations), not the per-generation dir: a long-lived
    * driver cycling many generations would otherwise grow one lock
    * object per generation forever (ADVICE r16). Two resolves of
    * DIFFERENT generations of one store serializing against each
    * other is correct anyway — the second would GC the first's tree
    * mid-build if they ran concurrently.
    */
  def resolve(spark: SparkSession, kind: String, sources: Seq[java.io.File],
              sub: String = "", compacts: Option[String] = None)(
              build: String => Unit): String =
    buildLocks.computeIfAbsent(locate(kind, sources, sub)._2, _ => new Object)
      .synchronized { resolveLocked(spark, kind, sources, sub, compacts)(build) }

  private def resolveLocked(spark: SparkSession, kind: String,
                            sources: Seq[java.io.File], sub: String,
                            compacts: Option[String])(
                            build: String => Unit): String = {
    val (dsDir, base, dir) = locate(kind, sources, sub)
    val basePath = new Path(base)
    val genPath = new Path(dir)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(genPath, "_SUCCESS"))) {
      // GC superseded generations of THIS dataset before building the
      // new one (never after: a concurrent reader of the old artifact
      // finishes its FileScan off already-open handles either way, but
      // deleting first keeps peak disk at ~one generation). A dead
      // build's staging directory is a stale sibling too.
      if (fs.exists(basePath))
        fs.listStatus(basePath).map(_.getPath)
          .filter(_.getName != genPath.getName)
          .foreach(p => fs.delete(p, true))
      // GC stale PARAM/LAYOUT subs (and pre-sub flat generations) of
      // this dataset: a params change retires the whole old sub tree
      if (sub.nonEmpty) {
        val dsPath = new Path(dsDir)
        if (fs.exists(dsPath))
          fs.listStatus(dsPath).map(_.getPath)
            .filter(_.getName != sub)
            .foreach(p => fs.delete(p, true))
      }
      // one-time migration sweep: the pre-store flat layout wrote
      // <kind>/<genTag> directly (no datasetHash level); those legacy
      // dirs are siblings of dsHash and would otherwise never be GC'd.
      // dsHash is always 12 hex chars, legacy tags almost never are —
      // a length-12 legacy tag survives, which is merely bounded waste.
      // (base may include a sub level, so derive the kind root from
      // the tmp dir + kind, not from basePath's parent.)
      val kindRoot = new Path(s"${System.getProperty("java.io.tmpdir")}/$kind")
      if (fs.exists(kindRoot))
        fs.listStatus(kindRoot).map(_.getPath)
          .filter(p => p.getName.length != 12)
          .foreach(p => fs.delete(p, true))
      builds.incrementAndGet()
      val staging = new Path(basePath, s".${genPath.getName}.staging")
      build(staging.toString)
      compacts.foreach { rel =>
        Compaction.recordCompaction(spark, staging.toString,
          Compaction.compactInPlace(spark,
            if (rel.isEmpty) staging.toString else s"$staging/$rel"))
      }
      // the generation's last file: overwrite the one a parquet commit
      // at the staging root may have written before the compaction
      fs.create(new Path(staging, "_SUCCESS"), true).close()
      if (fs.exists(new Path(genPath, "_SUCCESS")))
        fs.delete(staging, true)  // another writer published first: keep theirs
      else {
        fs.delete(genPath, true)  // a torn generation, if one is there
        if (!fs.rename(staging, genPath)) throw new java.io.IOException(
          s"could not publish $staging as $dir")
      }
    }
    dir
  }
}

/** One persisted store: its `name` (the key of the maintain commands'
  * reports and of Bench's build messages), its `kind`, the source
  * files it derives from (relative to the data dir), its params/layout
  * tag `sub`, the sub-path it compacts ("" = the generation root), and
  * its `build`, which writes the store into the directory it is given
  * and touches neither `_SUCCESS` nor compaction ([[ArtifactStore]]
  * publishes). Catalog queries declare the stores they read in
  * `Q.needs`; equal by name, so `distinct` over many declarations
  * resolves each store once.
  */
final case class Artifact(name: String)(
    val kind: String, val sources: Seq[String], val sub: String = "",
    val compacts: Option[String] = None)(
    build: (SparkSession, String, String) => Unit) {

  private def files(d: String) = sources.map(new java.io.File(d, _))

  /** The store's directory for data dir `d`, built first if this data
    * generation lacks it.
    */
  def resolve(s: SparkSession, d: String): String =
    ArtifactStore.resolve(s, kind, files(d), sub, compacts)(build(s, d, _))

  /** The store's directory for data dir `d`, failing loudly if this
    * generation was never built — for probes that must never own a
    * build ([[ArtifactStore.resolveExisting]]).
    */
  def existing(s: SparkSession, d: String): String =
    ArtifactStore.resolveExisting(s, kind, files(d), sub)
}
