package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text
import graft.operators.TextAnalysis

/** One catalog entry: Spark implementation + (optional) DuckDB oracle
  * + the persisted artifacts the implementation reads (`needs`).
  *
  * The oracle is held as a thunk so a query MAY build its SQL lazily —
  * `Verify` dumps `oracle_sql.json` AFTER running every query, which
  * lets an oracle interpolate model artifacts the query collected
  * (e.g. t16's JVM-derived idf_q integers) so both engines consume
  * identical constants instead of each calling its own libm. The
  * common `Q(name, fn, Some(sql))` form stays eager — the string is
  * built once at catalog construction, exactly as before.
  *
  * `needs` lists exactly the artifacts `fn` resolves, so Bench builds
  * them before the timed region (a build inside it is data maintenance
  * billed to a query) and a query that reads an undeclared one shows
  * up as a build inside its timed run (NeedsSpec).
  */
final class Q(
    val name: String,
    val needs: Seq[graft.sources.Artifact],
    val fn: (SparkSession, String) => DataFrame,
    oracleThunk: Option[() => String]) {
  def oracle: Option[String] = oracleThunk.map(_())
}

object Q {
  def apply(name: String,
            fn: (SparkSession, String) => DataFrame,
            oracle: Option[String]): Q =
    new Q(name, Nil, fn, oracle.map(s => () => s))

  /** Catalog entry that reads persisted artifacts. */
  def apply(name: String, needs: Seq[graft.sources.Artifact],
            fn: (SparkSession, String) => DataFrame,
            oracle: Option[String]): Q =
    new Q(name, needs, fn, oracle.map(s => () => s))

  /** Catalog entry whose oracle SQL is (re)built at each `oracle` read. */
  def lazyOracle(name: String,
                 fn: (SparkSession, String) => DataFrame)
                (oracle: => String): Q =
    new Q(name, Nil, fn, Some(() => oracle))
}

/** Relational / events / text query catalog (driver-verified against
  * DuckDB at sf0.01 — SURVEY §5 "oracle correctness").
  *
  * FP-parity rules used throughout (and in every other catalog file):
  *   - Sums of data-dependent doubles are quantized per row
  *     (`round(x*100)` cents or 1e9 fixed-point) and summed as BIGINT —
  *     integer sums are shuffle-order-independent, so results are
  *     bit-identical on any engine, partitioning, or cluster size.
  *   - Derived ratios are written as the SAME explicit formula on both
  *     sides (`CAST(s AS DOUBLE)/n`), never via engine-internal avg.
  *   - Window orderings always carry a unique tie-break key.
  */
object Rel {

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  val defs: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // A-category: grouped aggregation (SURVEY §2.4 A1/A2) — TPC-H Q1 shape.
    Q("q01_pricing_summary",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        l.groupBy("l_returnflag", "l_linestatus").agg(
          sum("l_quantity").as("sum_qty"),
          (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double") / 100.0).as("revenue"),
          count(lit(1)).as("count_order"),
          (sum("l_quantity") / count(lit(1))).as("avg_qty"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
        | count(*) AS count_order,
        | sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // Top-k per group (SURVEY §2.5 argmax pattern): top-3 customers by
    // order revenue within each market segment.
    Q("q02_topk_customers",
      (s, d) => {
        val rev = Tables.orders(s, d).groupBy("o_custkey")
          .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        val c = Tables.customer(s, d)
        val joined = c.join(rev, c("c_custkey") === rev("o_custkey"))
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("rev_cents").desc, col("c_custkey").asc)
        joined.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("c_mktsegment"), col("rnk"), col("c_custkey"),
            (col("rev_cents").cast("double") / 100.0).as("revenue"))
      },
      Some("""SELECT c_mktsegment, rnk, c_custkey, CAST(rev_cents AS DOUBLE) / 100.0 AS revenue
        |FROM (
        |  SELECT c.c_mktsegment, c.c_custkey, r.rev_cents,
        |    row_number() OVER (PARTITION BY c.c_mktsegment ORDER BY r.rev_cents DESC, c.c_custkey ASC) AS rnk
        |  FROM customer c
        |  JOIN (SELECT o_custkey, CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |        FROM orders GROUP BY o_custkey) r
        |    ON c.c_custkey = r.o_custkey
        |) t WHERE rnk <= 3""".stripMargin)),

    // Star join with broadcast dims (SURVEY §2.3 join taxonomy): revenue
    // rolled up region → nation. Dims are explicitly broadcast.
    Q("q03_star_revenue",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = broadcast(Tables.nation(s, d))
        val r = broadcast(Tables.region(s, d))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_items"),
            (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .cast("double") / 100.0).as("revenue"))
      },
      Some("""SELECT r_name, n_name, count(*) AS n_items,
        | CAST(CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin)),

    // Semi join (F8/J9 shape): customers having a big order.
    Q("q04_semi_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).filter(col("o_totalprice") > 100000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0)
        |GROUP BY c_mktsegment""".stripMargin)),

    // Anti join (J9): customers with no large order, by nation.
    Q("q05_anti_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
        val n = broadcast(Tables.nation(s, d))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name").agg(count(lit(1)).as("n_customers"))
      },
      Some("""SELECT n_name, count(*) AS n_customers
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
        |GROUP BY n_name""".stripMargin)),

    // Sessionization (A12 gaps-and-islands shape on the events stream):
    // 30-minute-gap sessions per user.
    Q("q06_sessionize",
      (s, d) => {
        val e = Tables.eventsMs(s, d)
        val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
        val sess = e
          .withColumn("new_sess",
            when(col("ms") - lag("ms", 1).over(w) > 1800000L, 1)
              .when(lag("ms", 1).over(w).isNull, 1).otherwise(0))
          .withColumn("sess_id", sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val perSess = sess.groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"))
        perSess.groupBy("user_id").agg(
          count(lit(1)).as("n_sessions"),
          max("n_events").as("max_session_events"),
          sum("n_events").as("n_events"))
      },
      Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
        |), sess AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN ms - lag(ms) OVER w > 1800000 THEN 1
        |         WHEN lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
        |), sid AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM sess
        |), per_sess AS (
        |  SELECT user_id, sess_id, count(*) AS n_events FROM sid GROUP BY user_id, sess_id
        |)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
        |       CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM per_sess GROUP BY user_id""".stripMargin)),

    // Lead/lag adjacency (J7 shape): inter-event gap statistics per user.
    Q("q07_event_gaps",
      (s, d) => {
        val e = Tables.eventsMs(s, d)
        val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
        e.withColumn("gap", col("ms") - lag("ms", 1).over(w))
          .filter(col("gap").isNotNull)
          .groupBy("user_id").agg(
            count(lit(1)).as("n_gaps"),
            sum("gap").as("total_gap_ms"),
            (sum("gap").cast("double") / count(lit(1))).as("avg_gap_ms"),
            max("gap").as("max_gap_ms"))
      },
      Some("""WITH g AS (
        |  SELECT user_id, epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap
        |  FROM events
        |)
        |SELECT user_id, count(*) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS total_gap_ms,
        |  CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / count(*) AS avg_gap_ms,
        |  max(gap) AS max_gap_ms
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id""".stripMargin)),

    // Longest same-value run (A12 IDTP shape) per user over event_type.
    Q("q08_longest_run",
      (s, d) => {
        val e = Tables.events(s, d)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val runs = e
          .withColumn("chg", when(lag("event_type", 1).over(w).isNull ||
            lag("event_type", 1).over(w) =!= col("event_type"), 1).otherwise(0))
          .withColumn("run_id", sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        runs.groupBy("user_id", "event_type", "run_id")
          .agg(count(lit(1)).as("run_len"))
          .groupBy("user_id").agg(max("run_len").as("longest_run"))
      },
      Some("""WITH r AS (
        |  SELECT user_id, event_type, event_id, ts,
        |    CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), rid AS (
        |  SELECT user_id, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM r
        |), runs AS (
        |  SELECT user_id, event_type, run_id, count(*) AS run_len FROM rid GROUP BY user_id, event_type, run_id
        |)
        |SELECT user_id, max(run_len) AS longest_run FROM runs GROUP BY user_id""".stripMargin)),

    // Change counting (A10 IDSW shape): event_type switches per user.
    Q("q09_switch_count",
      (s, d) => {
        val e = Tables.events(s, d)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        e.withColumn("prev", lag("event_type", 1).over(w))
          .groupBy("user_id").agg(
            sum(when(col("prev").isNotNull && col("prev") =!= col("event_type"), 1)
              .otherwise(0)).as("switches"),
            count(lit(1)).as("n_events"))
      },
      Some("""WITH l AS (
        |  SELECT user_id, event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> event_type THEN 1 ELSE 0 END) AS BIGINT) AS switches,
        |  count(*) AS n_events
        |FROM l GROUP BY user_id""".stripMargin)),

    // Rollup (SURVEY §2.4 closing note): region → nation hierarchy.
    Q("q10_rollup",
      (s, d) => {
        // Spark SQL ROLLUP: the DataFrame `rollup` API trips the
        // ambiguous-self-join detector on joined inputs in Spark 4.1;
        // the SQL form lowers to the same Expand+Aggregate plan.
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.nation(s, d).createOrReplaceTempView("nation")
        Tables.region(s, d).createOrReplaceTempView("region")
        s.sql("""SELECT coalesce(r_name, 'ALL') AS r_name,
          | coalesce(n_name, 'ALL') AS n_name,
          | count(*) AS n_customers,
          | CAST(sum(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)
      },
      Some("""SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        | count(*) AS n_customers,
        | CAST(CAST(sum(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)),

    // Exact distinct aggregation (A2).
    Q("q11_distinct_counts",
      (s, d) => Tables.customer(s, d).groupBy("c_mktsegment").agg(
        count(lit(1)).as("n_customers"),
        countDistinct("c_nationkey").as("n_nations")),
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
        | count(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    // Weighted average (A6 LocA-combination shape).
    Q("q12_weighted_avg",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("wgt", (col("o_custkey") % 10 + 1).cast("long"))
          .withColumn("price_cents", cents(col("o_totalprice")))
        o.groupBy("o_orderpriority").agg(
          sum("wgt").as("total_weight"),
          (sum(col("wgt") * col("price_cents")).cast("double") /
            sum("wgt") / 100.0).as("weighted_avg_price"))
      },
      Some("""SELECT o_orderpriority,
        | CAST(sum(wgt) AS BIGINT) AS total_weight,
        | CAST(CAST(sum(wgt * price_cents) AS BIGINT) AS DOUBLE) / CAST(sum(wgt) AS BIGINT) / 100.0 AS weighted_avg_price
        |FROM (SELECT o_orderpriority, o_custkey % 10 + 1 AS wgt,
        |        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders) t
        |GROUP BY o_orderpriority""".stripMargin)),

    // Min-max normalization with a global two-pass (A5/E5): unclamped.
    Q("q13_minmax_norm",
      (s, d) => {
        val o = Tables.orders(s, d)
        // global min/max as a scalar aggregate broadcast back over the
        // rows (q20 pattern) — a partition-less window would sort every
        // row through ONE task; the agg is a map-side partial + 1-row
        // exchange, and the cross join broadcasts that single row.
        val mm = o.agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        o.filter(col("o_orderkey") < 500)
          .crossJoin(broadcast(mm))
          .select(col("o_orderkey"), col("o_orderpriority"),
            ((col("o_totalprice") - col("lo")) / (col("hi") - col("lo"))).as("price_norm"))
      },
      Some("""WITH m AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    min(o_totalprice) OVER () AS lo, max(o_totalprice) OVER () AS hi
        |  FROM orders
        |)
        |SELECT o_orderkey, o_orderpriority, (o_totalprice - lo) / (hi - lo) AS price_norm
        |FROM m WHERE o_orderkey < 500""".stripMargin)),

    // Coverage bucketing (A9 MT/PT/ML shape) on click ratio per user.
    Q("q14_coverage_buckets",
      (s, d) => {
        val e = Tables.events(s, d)
        val cov = e.groupBy("user_id").agg(
          (sum(when(col("event_type") === "click", 1).otherwise(0)).cast("double") /
            count(lit(1))).as("cov"))
        cov.select(col("user_id"),
            when(col("cov") >= 0.8, "MT").when(col("cov") >= 0.2, "PT")
              .otherwise("ML").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH cov AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS cov
        |  FROM events GROUP BY user_id
        |)
        |SELECT CASE WHEN cov >= 0.8 THEN 'MT' WHEN cov >= 0.2 THEN 'PT' ELSE 'ML' END AS bucket,
        |       count(*) AS n_users
        |FROM cov GROUP BY 1""".stripMargin)),

    // Union of heterogeneous sources (O7).
    Q("q15_union_stats",
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .select(lit("lineitem").as("src"), cents(col("l_extendedprice")).as("v_cents"))
        val o = Tables.orders(s, d)
          .select(lit("orders").as("src"), cents(col("o_totalprice")).as("v_cents"))
        l.unionByName(o).groupBy("src").agg(
          count(lit(1)).as("n_rows"),
          (sum("v_cents").cast("double") / 100.0).as("total_value"))
      },
      Some("""SELECT src, count(*) AS n_rows,
        | CAST(CAST(sum(v_cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_value
        |FROM (
        |  SELECT 'lineitem' AS src, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v_cents FROM lineitem
        |  UNION ALL
        |  SELECT 'orders' AS src, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_cents FROM orders
        |) t GROUP BY src""".stripMargin)),

    // Feature statistics (A3): exact median + population stddev from
    // integer-exact sums (np.std parity — see GtThresholds).
    Q("q16_quantity_stats",
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .withColumn("q", col("l_quantity").cast("long"))
        l.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          (sum("q").cast("double") / count(lit(1))).as("mean_qty"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          sqrt((sum(col("q") * col("q")).cast("double") / count(lit(1))) -
            (sum("q").cast("double") / count(lit(1))) *
              (sum("q").cast("double") / count(lit(1)))).as("stddev_pop_qty"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
        | CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*) AS mean_qty,
        | median(l_quantity) AS median_qty,
        | sqrt(CAST(CAST(sum(q * q) AS BIGINT) AS DOUBLE) / count(*)
        |   - (CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*)) * (CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*))) AS stddev_pop_qty
        |FROM (SELECT l_returnflag, l_quantity, CAST(l_quantity AS BIGINT) AS q FROM lineitem) t
        |GROUP BY l_returnflag""".stripMargin)),

    // Correlated EXISTS with a time predicate (TPC-H Q4 shape): orders
    // placed in 1996 that have a heavy line item.
    Q("q19_exists_timerange",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("oms", expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))"))
          .filter(col("oms") >= 820454400000L && col("oms") < 852076800000L)
        val l = Tables.lineitem(s, d).filter(col("l_quantity") >= 45.0)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE epoch_ms(o_orderdate) >= 820454400000 AND epoch_ms(o_orderdate) < 852076800000
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45.0)
        |GROUP BY o_orderpriority""".stripMargin)),

    // Scalar-subquery threshold: customers above the global mean balance
    // (mean from exact cents so the comparison is engine-identical).
    Q("q20_above_avg_balance",
      (s, d) => {
        val c = Tables.customer(s, d).withColumn("bal_cents", cents(col("c_acctbal")))
        val thr = c.agg((sum("bal_cents").cast("double") / count(lit(1)))
          .as("thr_cents"))
        c.crossJoin(broadcast(thr))
          .filter(col("bal_cents").cast("double") > col("thr_cents"))
          .groupBy("c_mktsegment").agg(
            count(lit(1)).as("n_above"),
            (sum("bal_cents").cast("double") / 100.0).as("total_above"))
      },
      Some("""WITH c AS (
        |  SELECT c_mktsegment, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer
        |), thr AS (
        |  SELECT CAST(CAST(sum(bal_cents) AS BIGINT) AS DOUBLE) / count(*) AS thr_cents FROM c
        |)
        |SELECT c_mktsegment, count(*) AS n_above,
        |  CAST(CAST(sum(bal_cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_above
        |FROM c, thr WHERE CAST(bal_cents AS DOUBLE) > thr_cents
        |GROUP BY c_mktsegment""".stripMargin)),

    // Salted skew join: results must equal the plain join (the oracle IS
    // the plain join) — the salt only re-routes shuffle traffic.
    Q("q18_salted_join",
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .withColumn("hot_key", (col("l_orderkey") % 5).cast("int"))
        val dim = Tables.region(s, d)
          .select((col("r_regionkey") % 5).cast("int").as("hot_key"),
            col("r_name"))
        graft.operators.Skew.saltedJoin(l, dim, "hot_key", n = 8,
            saltExpr = col("l_partkey") + col("l_suppkey"))
          .groupBy("r_name").agg(
            count(lit(1)).as("n_rows"),
            sum("l_quantity").as("sum_qty"))
      },
      Some("""SELECT r_name, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM (SELECT l_quantity, CAST(l_orderkey % 5 AS INT) AS hot_key FROM lineitem) l
        |JOIN (SELECT CAST(r_regionkey % 5 AS INT) AS hot_key, r_name FROM region) r
        |  USING (hot_key)
        |GROUP BY r_name""".stripMargin)),

    // Tumbling time window (streaming-shaped batch agg, SURVEY §2.8).
    Q("q17_hourly_window",
      (s, d) => Tables.eventsMs(s, d)
        .withColumn("hour_ms", expr("(ms div 3600000) * 3600000"))
        .groupBy("hour_ms").agg(
          count(lit(1)).as("n_events"),
          (sum(cents(col("value"))).cast("double") / 100.0).as("total_value")),
      Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, count(*) AS n_events,
        | CAST(CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS total_value
        |FROM events GROUP BY 1""".stripMargin)),

    // As-of join (time-series / feature-lookup shape): every click gets
    // the latest prior-or-equal purchase of the same user. Implemented
    // as the SCALABLE union-tag form — both sides in ONE window
    // partitioned by user, `last(ignoreNulls)` carries the right side
    // forward — a single hash shuffle on user_id, no range join, no
    // per-row probe. (ms, event_id) ordering pins tie-breaks; missing
    // matches surface as -1 (avoids nullable-int hashing differences).
    Q("q21_asof_join",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ms"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tagged = Tables.eventsMs(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("p_id",
            when(col("event_type") === "purchase", col("event_id")))
          .withColumn("p_ms",
            when(col("event_type") === "purchase", col("ms")))
        tagged
          .withColumn("last_p_id", last("p_id", ignoreNulls = true).over(w))
          .withColumn("last_p_ms", last("p_ms", ignoreNulls = true).over(w))
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ms"),
            coalesce(col("last_p_id"), lit(-1L)).as("last_p_id"),
            coalesce(col("last_p_ms"), lit(-1L)).as("last_p_ms"))
      },
      Some("""WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), t AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER w AS last_p_id,
        |    last_value(CASE WHEN event_type = 'purchase' THEN ms END IGNORE NULLS) OVER w AS last_p_ms
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, ms,
        |  coalesce(last_p_id, -1) AS last_p_id,
        |  coalesce(last_p_ms, -1) AS last_p_ms
        |FROM t WHERE event_type = 'click'""".stripMargin))
  )
}
