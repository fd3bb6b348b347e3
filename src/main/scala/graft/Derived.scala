package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic MOT-shaped tables derived from the driver's synthetic
  * TPC-H tables (TESTDATA.md), used as inputs for the MOT-domain
  * operator queries so they can be DuckDB-oracle-checked.
  *
  * THE DERIVATION IS SHARED SQL TEXT: the same CTE body runs on Spark
  * (via `spark.sql` over temp views) and inside the oracle SQL strings —
  * so the inputs are bit-identical by construction and the comparison
  * exercises ONLY the operator under test (the Scala library vs the
  * hand-written DuckDB equivalent).
  *
  * Shape: 2 sequences × 120 frames, ~30 stable object identities per
  * sequence; tracks are ground truth with deterministic jitter, ~1/9 of
  * rows dropped (misses) and ~1/13 identity-switched — so every CLEAR /
  * Identity metric is exercised with non-trivial values.
  */
object Derived {

  /** gt CTE text from `lineitem`. Valid in both Spark SQL and DuckDB
    * (ANSI subset: %, ||, CASE, CAST, row_number). Spark-side it builds
    * the gt store once; tracks and gt_emb then derive from that store
    * instead of re-scanning lineitem — the CTE text is identical.
    */
  val gtCtes: String =
    """gt_raw AS (
      |  SELECT 's' || CAST(l_orderkey % 2 AS STRING) AS seq,
      |         CAST(l_orderkey % 120 AS INT) AS frameIdx,
      |         CAST(l_partkey % 30 AS INT) AS id,
      |         CAST((l_partkey * 37) % 800 AS DOUBLE) AS x,
      |         CAST((l_suppkey * 53) % 800 AS DOUBLE) AS y,
      |         CAST(20 + (l_partkey % 40) AS DOUBLE) AS w,
      |         CAST(20 + (l_suppkey % 40) AS DOUBLE) AS h,
      |         l_orderkey, l_linenumber, l_suppkey, l_partkey
      |  FROM lineitem
      |),
      |gt AS (
      |  SELECT seq, frameIdx, id, x, y, w, h, l_orderkey, l_linenumber, l_suppkey, l_partkey FROM (
      |    SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, id ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
      |    FROM gt_raw) t WHERE rn = 1
      |)""".stripMargin

  /** tracks, derived from gt (jitter + drops + id switches + dedup). */
  val trackCtes: String =
    """tr_raw AS (
      |  SELECT seq, frameIdx,
      |         CAST(CASE WHEN (l_orderkey + l_partkey) % 13 = 0 THEN (l_partkey % 30) + 100 ELSE l_partkey % 30 END AS INT) AS id,
      |         x + CAST(l_orderkey % 7 AS DOUBLE) - 3.0 AS x,
      |         y + CAST(l_suppkey % 7 AS DOUBLE) - 3.0 AS y,
      |         w, h,
      |         CAST(50 + l_orderkey % 50 AS DOUBLE) / 100.0 AS conf,
      |         l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM gt
      |  WHERE (l_orderkey + l_suppkey) % 9 <> 0
      |),
      |tracks AS (
      |  SELECT seq, frameIdx, id, x, y, w, h, conf FROM (
      |    SELECT *, row_number() OVER (PARTITION BY seq, frameIdx, id ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn2
      |    FROM tr_raw) t WHERE rn2 = 1
      |)""".stripMargin

  /** Full chain — the oracle-side text (DuckDB recomputes everything). */
  val motCtes: String = s"$gtCtes,\n$trackCtes"

  /** Embedding-carrying GT: joins a deterministic vec per object
    * identity (object k → embeddings.vec_id = k).
    */
  val motEmbCte: String =
    """gt_emb AS (
      |  SELECT g.*, e.embedding AS emb
      |  FROM gt g JOIN embeddings e ON e.vec_id = (g.id * 7 + g.frameIdx) % 500
      |)""".stripMargin

  /** Overlap-heavy detection boxes for the suppression kernels: several
    * detections per frame cluster around shared anchor points with
    * varied extents, so NMS/nested-removal decisions are non-trivial.
    */
  val detCte: String =
    """dets AS (
      |  SELECT 's' || CAST(l_orderkey % 2 AS STRING) AS seq,
      |         CAST(l_orderkey % 60 AS INT) AS frame,
      |         CAST(row_number() OVER (PARTITION BY l_orderkey % 2, l_orderkey % 60 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS INT) AS id,
      |         CAST((l_partkey % 12) * 60 + (l_suppkey % 9) AS DOUBLE) AS x1,
      |         CAST((l_suppkey % 12) * 60 + (l_partkey % 9) AS DOUBLE) AS y1,
      |         CAST((l_partkey % 12) * 60 + (l_suppkey % 9) + 30 + (l_linenumber * 9) AS DOUBLE) AS x2,
      |         CAST((l_suppkey % 12) * 60 + (l_partkey % 9) + 30 + ((l_partkey + l_linenumber) % 5) * 11 AS DOUBLE) AS y2,
      |         CAST(5 + l_orderkey % 97 AS DOUBLE) / 100.0 AS score
      |  FROM lineitem WHERE l_orderkey % 5 = 0
      |)""".stripMargin

  private def registerBase(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }

  /** On-disk store of a derived table — the same cross-session
    * posture as TextQ.BandStore: gt/tracks/gt_emb/dets
    * are DETERMINISTIC functions of the source data, and in production
    * they are the engine's INPUT tables, materialized once and read
    * from storage by every job (the reference reads its MOT gt/track
    * CSVs from disk — reference src/utils/io, SURVEY §2.1 S1) — not
    * re-derived by each query from a 600k-row fact scan. Keyed by the
    * source files' (length, mtime) so a regenerated testdata dir
    * invalidates the artifact instead of serving stale rows. Queries
    * declare the tables they read as [[GtStore]]/[[TracksStore]]/
    * [[GtEmbStore]]/[[DetsStore]], so Bench builds them untimed.
    *
    * One artifact KIND per table, NOT one kind with sub = name: `sub`
    * is ArtifactStore's params/layout tag, and its staleness GC
    * deletes sibling subs on every build (only one sub value may
    * exist per kind at a code version). The four derived tables are
    * COEXISTING datasets — under the sub layout, resolving any one of
    * them with a missing _SUCCESS deleted the other three, so every
    * bench query whose table had been GC'd re-derived a 600k-row
    * artifact inside its timed region (measured round 22: m06 cold
    * 7.3 s vs 0.7 s steady; f01 2.25 s vs 0.8 s — the r21 "first-touch
    * floor" was largely this churn, not JIT). The sub-keyed layout's
    * root is deleted by the builds of the kinds that replaced it.
    */
  private def store(name: String, query: String) =
    sources.Artifact(s"derived_$name")(s"graft_derived_$name",
        Seq("lineitem.parquet", "embeddings.parquet")) { (spark, dir, adir) =>
      sources.ArtifactStore.retire(spark, "graft_derived_artifact")
      registerBase(spark, dir)
      // tracks and gt_emb derive from the gt ARTIFACT read directly
      // from its path (never via the session memo: a live session whose
      // memo still holds a previous generation's gt must not persist
      // those stale rows under the NEW generation's tag)
      if (name != "gt")
        spark.read.parquet(GtStore.resolve(spark, dir)).createOrReplaceTempView("gt")
      spark.sql(query).write.mode("overwrite").parquet(adir)
    }

  // The derivation runs the oracles' own CTE text. Spark 4.1's
  // InlineCTE/DeduplicateRelations crashes only when a plan holding CTE
  // nodes is duplicated into a self-join; these plans are written to
  // parquet before any query reads (and self-joins) them.
  val GtStore: sources.Artifact = store("gt", s"WITH $gtCtes SELECT * FROM gt")
  val TracksStore: sources.Artifact =
    store("tracks", s"WITH $trackCtes SELECT * FROM tracks")
  val GtEmbStore: sources.Artifact =
    store("gt_emb", s"WITH $motEmbCte SELECT * FROM gt_emb")
  val DetsStore: sources.Artifact = store("dets", s"WITH $detCte SELECT * FROM dets")
  private val stores = Map("gt" -> GtStore, "tracks" -> TracksStore,
    "gt_emb" -> GtEmbStore, "dets" -> DetsStore)

  /** Session view of a derived table: a cached FileScan of its store
    * (building it first if this data generation was never derived).
    * The tables saturate at ~3.6k rows regardless of scale factor, so
    * every MOT-operator query starts from a tiny in-memory relation —
    * SURVEY §4 P6 (materialized intermediate). Memoized per (session,
    * dir, name) in [[SessionMemo]]; Bench's isolation resets it, so
    * each timed query pays the steady-state parquet probe — never the
    * lineitem re-derivation.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo.cached(spark, ("derived", dir, name))(
      spark.read.parquet(stores(name).resolve(spark, dir)))
}
