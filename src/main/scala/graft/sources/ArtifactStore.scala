package graft.sources

import org.apache.spark.sql.SparkSession

/** Shared resolver for persisted DERIVED-DATA artifacts (band
  * signatures, gram fingerprints, MOT input tables, the m11 anchor
  * base): deterministic functions of source data, computed once per
  * source-data GENERATION and FileScanned by every consumer thereafter
  * — the steady-state production posture (compute-once maintenance vs
  * per-query recompute).
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
    val root = new org.apache.hadoop.fs.Path(
      s"${System.getProperty("java.io.tmpdir")}/$kind")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
  }

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
    val base = dsDir + (if (sub.nonEmpty) s"/$sub" else "")
    (dsDir, base, s"$base/$genTag")
  }

  /** [[resolve]]'s read-only twin for PROBE paths that must never own
    * a build — above all the per-trigger probes inside a streaming
    * foreachBatch: an artifact missing there means the maintenance job
    * (dedup-maintain / ann-maintain, or the query's own pre-stream
    * resolve) didn't run for this generation, and silently rebuilding
    * a corpus-sized store inside a micro-batch trigger would bury a
    * maintenance outage as a mystery slow trigger. Fails loudly
    * instead (StreamBoundarySpec pins it).
    */
  def resolveExisting(spark: SparkSession, kind: String,
                      sources: Seq[java.io.File], sub: String = ""): String = {
    val (_, _, dir) = locate(kind, sources, sub)
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
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
    * re-check under the lock in the common case, and a real deployment
    * puts the store on storage with atomic rename/commit semantics.
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Returns the artifact directory, building it via `build(dir)` if
    * this generation has not been (fully) written yet.
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
              sub: String = "")(build: String => Unit): String =
    buildLocks.computeIfAbsent(locate(kind, sources, sub)._2, _ => new Object)
      .synchronized { resolveLocked(spark, kind, sources, sub)(build) }

  private def resolveLocked(spark: SparkSession, kind: String,
                            sources: Seq[java.io.File], sub: String)(
                            build: String => Unit): String = {
    val (dsDir, base, dir) = locate(kind, sources, sub)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      // GC superseded generations of THIS dataset before building the
      // new one (never after: a concurrent reader of the old artifact
      // finishes its FileScan off already-open handles either way, but
      // deleting first keeps peak disk at ~one generation)
      if (fs.exists(basePath))
        fs.listStatus(basePath).map(_.getPath)
          .filter(_.getName != dir.substring(dir.lastIndexOf('/') + 1))
          .foreach(p => fs.delete(p, true))
      // GC stale PARAM/LAYOUT subs (and pre-sub flat generations) of
      // this dataset: a params change retires the whole old sub tree
      if (sub.nonEmpty) {
        val dsPath = new org.apache.hadoop.fs.Path(dsDir)
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
      val kindRoot = new org.apache.hadoop.fs.Path(
        s"${System.getProperty("java.io.tmpdir")}/$kind")
      if (fs.exists(kindRoot))
        fs.listStatus(kindRoot).map(_.getPath)
          .filter(p => p.getName.length != 12)
          .foreach(p => fs.delete(p, true))
      builds.incrementAndGet()
      build(dir)
    }
    dir
  }
}

/** A persisted input a catalog query reads (see `Q.needs`): `resolve`
  * returns its directory for a source dir, building it first if this
  * data generation lacks it. Equal by name, so `distinct` over the
  * declarations of many queries resolves each artifact once.
  */
final case class Artifact(name: String)(
    val resolve: (SparkSession, String) => String)
