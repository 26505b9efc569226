package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's relational query surface over the TESTDATA tables.
  *
  * Conventions (required by the driver's DuckDB hash-compare):
  *  - every computed column is aliased identically here and in the oracle;
  *  - every query ends in a deterministic ORDER BY present in both (all
  *    window orderings are made total with a key tiebreak);
  *  - floating-point aggregates are rounded (2dp money, 4dp ratios) so
  *    summation-order differences between engines cannot flip the hash.
  *
  * Scale notes are per-query Scaladoc: broadcast for dimension joins,
  * partial aggregation before shuffles, pushdown-friendly filters.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private def ts(s: String): Column = to_timestamp(lit(s))

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1-style grouped aggregation. One shuffle on a 6-value key;
    * partial (map-side) agg does almost all the work — scales linearly. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------------- q2
  /** Selective filter + narrow projection — both must reach the parquet
    * scan (PushedFilters + 4-column ReadSchema), no shuffle at all. */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1995-09-01") &&
        col("l_shipdate") < ts("1995-10-01") && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  val q2Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'
         AND l_discount > 0.05
       ORDER BY l_orderkey, l_linenumber"""

  // ---------------------------------------------------------------- q3
  /** TPC-H Q3-style 3-way join + agg + top-k. customer scales with SF, so
    * no forced broadcast — AQE + autoBroadcastJoinThreshold pick the
    * strategy (still a broadcast at small SF, shuffle-hash at 100 TB);
    * orders⋈lineitem shuffles on orderkey once. */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < ts("1995-03-15"))
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > ts("1995-03-15"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT l_orderkey,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1995-03-15'
         AND l_shipdate > TIMESTAMP '1995-03-15'
       GROUP BY l_orderkey
       ORDER BY revenue DESC, l_orderkey LIMIT 10"""

  // ---------------------------------------------------------------- q4
  /** Global top-k: Spark's sort+limit compiles to TakeOrderedAndProject —
    * per-partition heaps, no full sort, driver merges k rows. */
  def q4SortLimit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  val q4Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
       FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""

  // ---------------------------------------------------------------- q5
  /** TPC-H Q5-style 6-table join. region/nation are true fixed-size
    * dimensions (5 / 25 rows at every SF) → broadcast those only;
    * customer/supplier scale with SF (several GB at sf100) so AQE decides
    * their join strategy — no forced broadcast that could OOM at 100 TB. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1997-01-01"))
    val l = t(spark, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(c,
        o("o_custkey") === c("c_custkey") &&
          s("s_nationkey") === c("c_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Oracle: String =
    """SELECT n_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name ORDER BY revenue DESC, n_name"""

  // ---------------------------------------------------------------- q6
  /** Window functions: per-customer order sequence + running revenue.
    * Window ordering is made TOTAL (orderdate, orderkey) so row_number
    * is deterministic across engines/partitionings. */
  def q6Window(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("running_total",
        round(sum("o_totalprice").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "running_total")
      .orderBy("o_custkey", "rn")
  }

  val q6Oracle: String =
    """SELECT o_custkey, rn, o_orderkey, running_total FROM (
         SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ) WHERE rn <= 3 ORDER BY o_custkey, rn"""

  // ---------------------------------------------------------------- q7
  /** Distinct aggregation: exact + approximate cardinality side by side.
    * (approx_count_distinct is the scale path — one pass, no expand;
    * it has no DuckDB equivalent so only exact columns are compared.) */
  def q7Distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val q7Oracle: String =
    """SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q8
  /** Set operations: UNION / INTERSECT / EXCEPT over customer-key sets
    * (buyers in two segments). Tagged counts keep one result schema. */
  def q8SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val b = t(spark, dir, "orders").select(col("o_custkey").as("c_custkey"))
    def tag(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    tag("union", a.union(b).distinct())
      .unionByName(tag("intersect", a.intersect(b)))
      .unionByName(tag("except", a.except(b)))
      .orderBy("op")
  }

  val q8Oracle: String =
    """SELECT 'union' AS op, count(*) AS n FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION SELECT o_custkey FROM orders)
       UNION ALL
       SELECT 'intersect' AS op, count(*) AS n FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT SELECT o_custkey FROM orders)
       UNION ALL
       SELECT 'except' AS op, count(*) AS n FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT SELECT o_custkey FROM orders)
       ORDER BY op"""

  // ---------------------------------------------------------------- q9
  /** Semi/anti joins (EXISTS / NOT EXISTS): customers with vs without
    * orders, per market segment. Broadcast the distinct key set. */
  def q9SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").select(col("o_custkey").as("c_custkey"))
    val withO = c.join(o, Seq("c_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("with_orders"))
    val withoutO = c.join(o, Seq("c_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("without_orders"))
    withO.join(withoutO, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("with_orders"), lit(0L)).as("with_orders"),
        coalesce(col("without_orders"), lit(0L)).as("without_orders"))
      .orderBy("c_mktsegment")
  }

  val q9Oracle: String =
    """SELECT c_mktsegment,
       count(*) FILTER (WHERE EXISTS
         (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS with_orders,
       count(*) FILTER (WHERE NOT EXISTS
         (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS without_orders
       FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // --------------------------------------------------------------- q10
  /** ROLLUP grouping sets; grouping keys coalesced to 'ALL' so the
    * subtotal rows hash identically in both engines. */
  def q10Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  val q10Oracle: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY l_returnflag, l_linestatus"""

  // --------------------------------------------------------------- q11
  /** Decorrelated "above group average" — window avg beats a self-join
    * (one shuffle on p_brand instead of two scans + broadcast). */
  def q11AboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
    t(spark, dir, "part")
      .withColumn("brand_avg", avg("p_retailprice").over(w))
      // the threshold is rounded before comparing (file convention):
      // an unrounded float threshold puts every 2dp price one ulp of
      // summation-order jitter away from flipping the filter
      .filter(col("p_retailprice") > round(col("brand_avg") * 1.03, 4))
      // the avg itself is NOT output: a 4dp round can sit exactly on a
      // .00005 boundary and flip between engines' summation orders
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .orderBy("p_partkey")
  }

  val q11Oracle: String =
    """SELECT p_partkey, p_brand, p_retailprice
       FROM (SELECT p_partkey, p_brand, p_retailprice,
               avg(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg
             FROM part)
       WHERE p_retailprice > round(brand_avg * 1.03, 4) ORDER BY p_partkey"""

  // --------------------------------------------------------------- q12
  /** Conditional aggregation (sum(CASE WHEN)) — the one-pass pivot. */
  def q12Conditional(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        count(when(col("o_orderpriority").startsWith("1"), 1)).as("p1"),
        count(when(col("o_orderpriority").startsWith("2"), 1)).as("p2"),
        count(when(!col("o_orderpriority").startsWith("1") &&
          !col("o_orderpriority").startsWith("2"), 1)).as("rest"),
        round(sum(when(col("o_totalprice") > 100000, col("o_totalprice"))
          .otherwise(0.0)), 2).as("big_total"))
      .orderBy("o_orderstatus")

  val q12Oracle: String =
    """SELECT o_orderstatus,
       count(CASE WHEN o_orderpriority LIKE '1%' THEN 1 END) AS p1,
       count(CASE WHEN o_orderpriority LIKE '2%' THEN 1 END) AS p2,
       count(CASE WHEN o_orderpriority NOT LIKE '1%'
                   AND o_orderpriority NOT LIKE '2%' THEN 1 END) AS rest,
       round(sum(CASE WHEN o_totalprice > 100000 THEN o_totalprice ELSE 0 END), 2)
         AS big_total
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // --------------------------------------------------------------- q13
  /** String functions over part: case, substring, length, regex extract,
    * concat — all codegen'd Catalyst expressions (no UDFs). */
  def q13Strings(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_name")).as("name_len"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
      .filter(col("p_size") <= 10)
      .orderBy("p_partkey")

  val q13Oracle: String =
    """SELECT p_partkey, upper(p_brand) AS brand_upper,
       substring(p_name, 1, 8) AS name_prefix,
       length(p_name) AS name_len,
       regexp_extract(p_type, '^(\w+)', 1) AS type_head,
       concat_ws('/', p_brand, p_type) AS brand_type
       FROM part WHERE p_size <= 10 ORDER BY p_partkey"""

  // --------------------------------------------------------------- q14
  /** Date/time functions: year/quarter extraction + month truncation. */
  def q14Dates(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).cast("long").as("o_year"),
        quarter(col("o_orderdate")).cast("long").as("o_quarter"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_year", "o_quarter")

  val q14Oracle: String =
    """SELECT year(o_orderdate) AS o_year, quarter(o_orderdate) AS o_quarter,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY 1, 2 ORDER BY o_year, o_quarter"""

  // --------------------------------------------------------------- q15
  /** Pivot (wide conditional agg): quantity by linestatus × returnflag. */
  def q15Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum("l_quantity"), 2))
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0.0)).as("A"),
        coalesce(col("N"), lit(0.0)).as("N"),
        coalesce(col("R"), lit(0.0)).as("R"))
      .orderBy("l_linestatus")

  val q15Oracle: String =
    """SELECT l_linestatus,
       coalesce(round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2), 0) AS A,
       coalesce(round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2), 0) AS N,
       coalesce(round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2), 0) AS R
       FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""

  // --------------------------------------------------------------- q16
  /** Ordered string aggregation per group (collect + sort + join —
    * deterministic equivalent of string_agg ORDER BY). */
  def q16GroupConcat(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
        .as("nations"))
      .orderBy("r_name")

  val q16Oracle: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
       FROM nation JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name ORDER BY r_name"""

  // --------------------------------------------------------------- q17
  /** Tumbling-window (hourly) event aggregation. The same shape runs
    * incrementally as a streaming query — see [[graft.streaming.EventStreams]]. */
  def q17EventsHourly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("hour", "event_type")

  val q17Oracle: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
       FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

  // --------------------------------------------------------------- q18
  /** Sessionization: 30-minute-gap sessions per user via lag + running
    * sum of session-start flags — single shuffle on user_id. */
  def q18Sessionize(spark: SparkSession, dir: String): DataFrame =
    ops.Relational.sessionize(t(spark, dir, "events"),
        key = "user_id", ts = "ts", gapUs = 30L * 60 * 1000 * 1000,
        order = Seq(col("event_id")))
      .groupBy("user_id")
      .agg(max("session_id").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  val q18Oracle: String =
    """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
       FROM (
         SELECT user_id,
           CASE WHEN prev_us IS NULL
                  OR epoch_us(ts) - prev_us > 30*60*1000*1000
                THEN 1 ELSE 0 END AS new_session
         FROM (SELECT user_id, ts,
                 lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
               FROM events))
       GROUP BY user_id ORDER BY user_id"""

  // --------------------------------------------------------------- q19
  /** Top-k per group (rank + filter): 3 priciest orders per customer for
    * one segment's customers. The customer-segment side scales with SF, so
    * no forced broadcast — AQE picks broadcast at small SF and a shuffle
    * join at scale (the semi-filter shares the window's o_custkey shuffle). */
  def q19TopKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
    ops.Relational.topKPerGroup(
        t(spark, dir, "orders").join(c, col("o_custkey") === col("c_custkey")),
        k = 3, keys = Seq("o_custkey"),
        order = Seq(col("o_totalprice").desc, col("o_orderkey")))
      .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rk")
  }

  val q19Oracle: String =
    """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'MACHINERY')
       WHERE rk <= 3 ORDER BY o_custkey, rk"""

  // --------------------------------------------------------------- q20
  /** Join over a derived aggregate (orders enriched with their item
    * stats) — tests agg-below-join planning + broadcast of the probe. */
  def q20AggJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("qty"))
    t(spark, dir, "orders")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .filter(col("n_items") >= 6)
      .select("o_orderkey", "o_orderstatus", "n_items", "qty")
      .orderBy("o_orderkey")
  }

  val q20Oracle: String =
    """SELECT o_orderkey, o_orderstatus, n_items, qty
       FROM orders JOIN (
         SELECT l_orderkey, count(*) AS n_items,
                round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY l_orderkey) ON o_orderkey = l_orderkey
       WHERE n_items >= 6 ORDER BY o_orderkey"""

  // --------------------------------------------------------------- q21
  /** AS-OF JOIN — each purchase matched to the user's most recent
    * strictly-earlier click, via the reusable
    * [[graft.ops.Relational.asofJoin]] operator (tagged UNION + one
    * range-frame window: ONE shuffle on user_id, no join node — see its
    * scaladoc for why this beats join-shaped encodings). The oracle uses
    * DuckDB's native `ASOF LEFT JOIN ... ON p.ts > c.ts`; the range
    * frame ending at -1 µs pins the same strict `>` independent of
    * same-timestamp tie order. */
  def q21Asof(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    // both sides live in the events table, so the single-frame asof core
    // keeps it to ONE scan (the two-frame asofJoin would read it twice)
    ops.Relational.asofTagged(e, col("event_type") === "purchase",
        "user_id", "ts_us", "click_us")
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_us"), col("click_us"),
        (col("ts_us") - col("click_us")).as("gap_us"))
      .orderBy("event_id")
  }

  val q21Oracle: String =
    """WITH e AS (
         SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
         FROM events WHERE event_type IN ('click', 'purchase')),
       p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
       c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click')
       SELECT p.event_id, p.user_id, p.ts_us AS purchase_us,
         c.ts_us AS click_us, p.ts_us - c.ts_us AS gap_us
       FROM p ASOF LEFT JOIN c
         ON p.user_id = c.user_id AND p.ts_us > c.ts_us
       ORDER BY p.event_id"""

  // --------------------------------------------------------------- q22
  /** Exact percentiles per group: median and p90 order value by
    * priority. Spark's `percentile` and DuckDB's `quantile_cont` share
    * the linear-interpolation definition at rank (n−1)·p; 2dp rounding
    * absorbs last-ulp noise. Exact percentiles sort within each group —
    * at 100 TB prefer `percentile_approx` (mergeable map-side
    * summaries) when ±ε is acceptable; that scale path is gated
    * separately as [[q23ApproxPercentiles]]. */
  def q22Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        round(percentile(col("o_totalprice"), lit(0.5)), 2).as("median_price"),
        round(percentile(col("o_totalprice"), lit(0.9)), 2).as("p90_price"))
      .orderBy("o_orderpriority")

  val q22Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
       round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --------------------------------------------------------------- q23
  /** q22's 100 TB scale path: `percentile_approx` (Greenwald-Khanna
    * summaries, merged map-side — no per-group sort, bounded memory
    * regardless of group size). At gate scale the accuracy parameter
    * (10^6) exceeds every group's row count, where the summary is
    * EXACT and returns the order statistic at rank ⌈p·N⌉ — verified to
    * be the same definition as DuckDB's `quantile_disc`, which is what
    * lets an "approximate" operator be hash-gated at all. At production
    * scale the answer is rank-error-bounded by design (ε = N/accuracy);
    * the gate pins the plan shape and the definitional alignment, not
    * production exactness. No rounding: both engines return the same
    * stored element, not a computed interpolation.
    *
    * Measured trade (10× stress, 1.5 M orders): the approx path costs
    * ~1.4× the exact sort at this scale — with accuracy ≥ group size
    * the GK summary holds more state than the sort it replaces. Its
    * value is bounded memory and map-side mergeability once a group no
    * longer fits a task, not small-scale speed; at small N use q22. */
  def q23ApproxPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000000))
          .as("median_price"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(1000000))
          .as("p90_price"))
      .orderBy("o_orderpriority")

  val q23Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
       quantile_disc(o_totalprice, 0.5) AS median_price,
       quantile_disc(o_totalprice, 0.9) AS p90_price
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --------------------------------------------------------------- q24
  /** CUBE aggregation — every subtotal combination of (status,
    * priority) in one pass: Spark expands the grouping sets BEFORE the
    * exchange (`Expand` feeding one hash aggregate), so the 4 grouping
    * combinations cost one shuffle, not four scans or a union of four
    * aggregates. Complements q10's ROLLUP (prefix hierarchy) with the
    * full lattice — the shape BI dashboards and mixture reports ask
    * for. Dimension columns are non-null in the data, so the 'ALL'
    * coalesce marker is unambiguous. */
  def q24Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"), col("total_price"))
      .orderBy("o_orderstatus", "o_orderpriority")

  val q24Oracle: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total_price
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       ORDER BY o_orderstatus, o_orderpriority"""

  // --------------------------------------------------------------- q25
  /** LAG + running total — the remaining window-family members (q6
    * covers rank/avg-over, q19 top-k, q21 range frames, q22 percentile
    * frames): per customer, each order's days-since-previous-order and
    * the running revenue up to it. One shuffle on the partition key
    * serves ALL THREE window functions, and all three share the SAME
    * (partition, order) spec — differing only in frame — so they plan
    * into ONE Window node and one sort. The per-customer count
    * deliberately uses the ordered spec with an unbounded frame rather
    * than the natural order-less `partitionBy("o_custkey")`: the
    * order-less spec is a SECOND Window node (specs don't merge across
    * orderings), which re-buffers every partition for a pass that
    * computes nothing the unbounded frame doesn't (the r10 q25 drift —
    * measured ~25% of the query walking rows twice). Limited to
    * 8-plus-order customers to keep the gated row count meaningful. */
  def q25LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(spark, dir, "orders")
      .withColumn("prev_date", lag("o_orderdate", 1).over(w))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), col("prev_date")))
      .withColumn("running_spend",
        round(sum("o_totalprice").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .withColumn("n_orders", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("n_orders") >= 8)
      .select(col("o_custkey"), col("o_orderkey"), col("gap_days"),
        col("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q25Oracle: String =
    """SELECT o_custkey, o_orderkey, gap_days, running_spend FROM (
         SELECT o_custkey, o_orderkey,
           date_diff('day',
             lag(o_orderdate, 1) OVER w, o_orderdate)::INT AS gap_days,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend,
           count(*) OVER (PARTITION BY o_custkey) AS n_orders
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
       WHERE n_orders >= 8
       ORDER BY o_custkey, o_orderkey"""

  // --------------------------------------------------------------- q26
  /** UNPIVOT (melt) — the inverse of q15's pivot: a wide per-flag
    * stats row becomes (flag, measure, value) long form, the shape
    * charting/BI tools and generic drift monitors consume. The unpivot
    * runs AFTER the aggregate, so its Expand multiplies a
    * flag-cardinality table (3 rows → 9), not the corpus-sized scan —
    * the cheap side of the q24/d60 Expand lesson. Measure values are
    * rounded before melting so one rounding rule covers all three
    * columns in both engines. */
  def q26Unpivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("avg_qty"), col("avg_price"), col("avg_disc")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")

  val q26Oracle: String =
    """WITH a AS (
         SELECT l_returnflag,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc
         FROM lineitem GROUP BY 1)
       SELECT l_returnflag, measure, value
       FROM a UNPIVOT (value FOR measure IN (avg_qty, avg_price, avg_disc))
       ORDER BY l_returnflag, measure"""

  // --------------------------------------------------------------- q27
  /** GROUPING SETS — the general form behind q10's ROLLUP and q24's
    * CUBE: two independent one-dimensional summaries (by event type, by
    * hour of day) plus the grand total, in ONE pass. Spark plans all
    * three sets through a single Expand over the scan — one corpus
    * read, one shuffle — where three separate GROUP BYs would scan
    * three times; the Expand multiplies rows by the number of SETS (3),
    * the q24/d60 lesson on keeping the set list, not the scan, small. */
  def q27GroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("hr", hour(col("ts")).cast("long"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("hr")), Seq()),
        col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("hr"), lit(-1L)).as("hr"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "hr")

  val q27Oracle: String =
    """WITH e AS (
         SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr, value
         FROM events)
       SELECT coalesce(event_type, 'ALL') AS event_type,
         coalesce(hr, -1) AS hr,
         count(*) AS n, round(sum(value), 2) AS sum_value
       FROM e GROUP BY GROUPING SETS ((event_type), (hr), ())
       ORDER BY event_type, hr"""

  // --------------------------------------------------------------- q28
  /** CORRELATED SCALAR SUBQUERY — parts priced above their own brand's
    * average, counted per brand. The subquery correlates on the outer
    * row's brand; Catalyst DECORRELATES it into an aggregate + join
    * (never a per-row re-execution — the plan shape that makes
    * correlated SQL viable at 100 TB), which is exactly the feature
    * under test: the analyst writes the per-row formulation, the
    * optimizer runs the set-based one. The SAME SQL text runs in both
    * engines (pure ANSI — no dialect translation to hide drift in). */
  val q28Sql: String =
    """SELECT p_brand, count(*) AS n_above,
         round(max(p_retailprice), 2) AS max_price
       FROM part o
       WHERE p_retailprice >
         (SELECT avg(p_retailprice) FROM part i WHERE i.p_brand = o.p_brand)
       GROUP BY p_brand ORDER BY p_brand"""

  def q28Correlated(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q28Sql)

  val q28Oracle: String = q28Sql

  // --------------------------------------------------------------- q29
  /** RECURSIVE CTE (Spark 4's UnionLoop) — a gap-filled daily revenue
    * report: the date spine is generated by recursion from the quarter
    * start, then LEFT-joined to orders so zero-order days appear as
    * explicit zero rows (the reporting shape a naive GROUP BY o_orderdate
    * silently drops). The recursion depth is the number of DAYS (90),
    * never the data size — each level adds one spine row while the
    * orders side stays one distributed join — so the default
    * 100-level recursion guard comfortably covers the quarter and the
    * query's cost at 100 TB is the join, not the loop. The oracle runs
    * the same recursion in DuckDB (dialect differs only in the
    * date-increment spelling). */
  private val SpineStart = "1995-01-01"
  private val SpineEnd = "1995-03-31"

  def q29Recursive(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir,
      s"""WITH RECURSIVE spine(d) AS (
           SELECT DATE'$SpineStart'
           UNION ALL
           SELECT date_add(d, 1) FROM spine WHERE d < DATE'$SpineEnd'
         )
         SELECT d AS order_day, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total
         FROM spine LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
         GROUP BY d ORDER BY d""")

  val q29Oracle: String =
    s"""WITH RECURSIVE spine(d) AS (
         SELECT DATE '$SpineStart'
         UNION ALL
         SELECT d + INTERVAL 1 DAY FROM spine WHERE d < DATE '$SpineEnd'
       )
       SELECT d AS order_day, count(o_orderkey) AS n_orders,
         round(coalesce(sum(o_totalprice), 0.0), 2) AS total
       FROM spine LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
       GROUP BY d ORDER BY d"""

  // --------------------------------------------------------------- q30
  /** 7-DAY TRAILING MOVING AVERAGE of daily order revenue — the sliding
    * time-RANGE window frame (`RANGE BETWEEN INTERVAL 6 DAY PRECEDING
    * AND CURRENT ROW`), the last common analytic frame shape the
    * surface lacked. The oracle runs DuckDB's native range frame; the
    * Spark side proves the scale-safe equivalent: a naive
    * `Window.orderBy(day)` is the banned single-partition walk, so the
    * frame is REWRITTEN as bounded fan-out — each day's total explodes
    * to the ≤7 target days it contributes to, a (target-day) re-
    * aggregation sums/counts contributions, and a join back to the
    * spine keeps exactly the days that exist (range-frame semantics:
    * the frame averages PRESENT rows only). Fan-out = frame width, so
    * the rewrite shuffles 7× the DAILY aggregate (calendar-sized,
    * never data-sized) and needs no global order at all — the gate
    * pins the rewrite value-equal to the native frame. */
  def q30MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum("o_totalprice").as("total"))
      .localCheckpoint() // both the fan-out and the spine read it
    val contrib = daily
      .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("d2"),
        col("total"))
      .groupBy("d2")
      .agg(sum("total").as("s"), count(lit(1)).as("k"))
    daily.join(contrib, daily("d") === contrib("d2"))
      .select(col("d").as("order_day"),
        round(col("total"), 2).as("total"),
        col("k").as("n_days"),
        // 4dp, NOT the money 2dp: an average of cent-exact sums can sit
        // EXACTLY on a half-cent (sum/6 = x.895 here at sf0.01), where
        // the engines' rounding rules legally diverge; at 4dp the exact
        // value of cents/(100·k), k ≤ 7, is provably ≥ 1.7e-5 from any
        // boundary while the float error is ~1e-9 — no coin flips
        round(col("s") / col("k"), 4).as("avg7"))
      .orderBy("order_day")
  }

  val q30Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS order_day,
           sum(o_totalprice) AS total
         FROM orders GROUP BY 1)
       SELECT order_day, round(total, 2) AS total,
         CAST(count(*) OVER w AS BIGINT) AS n_days,
         round(sum(total) OVER w / count(*) OVER w, 4) AS avg7
       FROM daily
       WINDOW w AS (ORDER BY order_day
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
       ORDER BY order_day"""

  // --------------------------------------------------------------- q31
  /** LATERAL JOIN — the correlated top-3 customers by account balance
    * per nation, written as the analyst writes it (a per-nation
    * `ORDER BY … LIMIT 3` subquery referencing the outer row). The
    * feature under test is the DECORRELATION: Catalyst rewrites the
    * per-row subquery into `WindowGroupLimit` — a per-key top-k that
    * runs PARTIALLY on the map side (each input partition keeps ≤3
    * rows per nation before the exchange) — plus one broadcast join
    * of the 25-row nation table; the naive reading (re-run the
    * subquery per outer row) never executes. Same plan family as the
    * hand-built [[graft.functions.TopKByScore]], reached from pure
    * SQL. Ties break on c_name, so the pick is deterministic; the
    * LIMIT compares the raw stored doubles (identical bytes in both
    * engines — no arithmetic before the comparison). The identical
    * ANSI text runs in DuckDB as the oracle. */
  val q31Sql: String =
    """SELECT n.n_name, t.c_name, round(t.c_acctbal, 2) AS acctbal
       FROM nation n, LATERAL (
         SELECT c_name, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 3) t
       ORDER BY n.n_name, acctbal DESC, c_name"""

  def q31Lateral(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q31Sql)

  val q31Oracle: String = q31Sql

  // --------------------------------------------------------------- q32
  /** SET OPERATIONS — INTERSECT / EXCEPT with their ANSI DISTINCT
    * semantics: customers active in BOTH halves of 1995, minus those
    * in arrears. Spark plans INTERSECT as a left-semi join and EXCEPT
    * as a left-anti join over distinct inputs — the same physical
    * shapes as q9's explicit semi/anti joins, reached from the set
    * algebra an analyst actually writes; at 100 TB each leg is one
    * key-only shuffle (the projection prunes to the key column before
    * any exchange). Identical ANSI text is the oracle. */
  val q32Sql: String =
    """SELECT o_custkey FROM orders
       WHERE o_orderdate >= DATE '1995-01-01'
         AND o_orderdate < DATE '1995-07-01'
       INTERSECT
       SELECT o_custkey FROM orders
       WHERE o_orderdate >= DATE '1995-07-01'
         AND o_orderdate < DATE '1996-01-01'
       EXCEPT
       SELECT c_custkey FROM customer WHERE c_acctbal < 0
       ORDER BY o_custkey"""

  def q32SetOps(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q32Sql)

  val q32Oracle: String = q32Sql

  // --------------------------------------------------------------- q33
  /** NUMERIC RANGE FRAME — the one window-frame flavor the surface
    * did not cover (q6/q19/q25 use row frames, q30 a time-interval
    * range): for every order, its PEER COUNT — orders of the same
    * priority priced within ±$100 — via `RANGE BETWEEN 10000
    * PRECEDING AND 10000 FOLLOWING` over EXACT CENTS (the frame
    * bounds compare order-key arithmetic, so the key is the integer
    * cents form of the price — never a double frame, where ±100.0 on
    * a binary double boundary is an engine coin-flip). The row-level
    * frame then collapses to a per-priority audit (avg/max peer
    * density). At 100 TB a value-range frame is one hash exchange on
    * the partition key + per-partition sort — same shape as any
    * window; the frame bound adds no extra pass (Spark keeps a
    * sliding aggregate over the sorted run). */
  def q33RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy("cents")
      .rangeBetween(-10000L, 10000L)
    Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("peers", count(lit(1)).over(w))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(avg(col("peers").cast("double")), 4).as("avg_peers"),
        max("peers").as("max_peers"))
      .orderBy("o_orderpriority")
  }

  val q33Oracle: String =
    """WITH c AS (
         SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders),
       p AS (
         SELECT o_orderpriority, count(*) OVER (
           PARTITION BY o_orderpriority ORDER BY cents
           RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS peers
         FROM c)
       SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         round(avg(CAST(peers AS DOUBLE)), 4) AS avg_peers,
         CAST(max(peers) AS BIGINT) AS max_peers
       FROM p GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --------------------------------------------------------------- q34
  /** DISTRIBUTION-RANK FUNCTIONS — `percent_rank` and `cume_dist`,
    * the two relative-standing window functions nothing else on the
    * surface exercises (q6 ranks, d163 ntiles; these emit the
    * CONTINUOUS standings): each nation's top-3 customers by account
    * balance with their exact standings within the nation. The
    * (acctbal DESC, name) ordering is total — no rank ties — so both
    * functions are the exact rationals (rank−1)/(n−1) and
    * rank/n, identical in both engines before the 4dp round. The
    * top-3 keep rides the same `WindowGroupLimit` map-side top-k as
    * q31's LATERAL (rank ≤ 3 prunes before the full sort output
    * materializes). */
  def q34DistRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_name"))
    Tables.load(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_name"), col("c_acctbal"))
      .withColumn("rk", row_number().over(w))
      .withColumn("pr", round(percent_rank().over(w), 4))
      .withColumn("cd", round(cume_dist().over(w), 4))
      .filter(col("rk") <= 3)
      .join(broadcast(Tables.load(spark, dir, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
      .select(col("n_name"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"),
        col("pr").as("pct_rank"), col("cd").as("cume_dist"))
      .orderBy("n_name", "pct_rank")
  }

  val q34Oracle: String =
    """WITH r AS (
         SELECT c_nationkey, c_name, c_acctbal,
           row_number() OVER w AS rk,
           round(percent_rank() OVER w, 4) AS pr,
           round(cume_dist() OVER w, 4) AS cd
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey
           ORDER BY c_acctbal DESC, c_name))
       SELECT n_name, c_name, round(c_acctbal, 2) AS acctbal,
         pr AS pct_rank, cd AS cume_dist
       FROM r JOIN nation ON n_nationkey = c_nationkey
       WHERE rk <= 3 ORDER BY n_name, pct_rank"""

  // --------------------------------------------------------------- q35
  /** NOT IN vs NOT EXISTS null semantics — the classic three-valued-
    * logic trap, pinned cross-engine: a single NULL in a NOT IN
    * subquery makes EVERY row's predicate UNKNOWN (x <> NULL is never
    * TRUE), so the naive variant returns 0 rows; the IS NOT NULL
    * guard restores the intended anti-join, and NOT EXISTS (which is
    * null-safe by construction) must agree with it exactly. One query
    * emits all three counts so the gate pins the full semantics
    * table, not one branch. The NULL is planted with `nullif` on the
    * probe's min key — deterministic at every SF.
    *
    * Scale note: Spark plans a single-column null-aware anti join for
    * NOT IN (broadcast when the probe is dim-sized, as here); NOT
    * EXISTS is an ordinary left-anti. Both sides of the comparison
    * stay one exchange. */
  val q35Sql: String =
    """WITH probe AS (
         SELECT nullif(c_custkey, (SELECT min(c_custkey) FROM customer
             WHERE c_mktsegment = 'BUILDING')) AS k
         FROM customer WHERE c_mktsegment = 'BUILDING'),
       naive AS (
         SELECT count(*) AS n FROM orders
         WHERE o_custkey NOT IN (SELECT k FROM probe)),
       guarded AS (
         SELECT count(*) AS n FROM orders
         WHERE o_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL)),
       nexists AS (
         SELECT count(*) AS n FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM probe p
           WHERE p.k = o.o_custkey))
       SELECT variant, n_orders FROM (
         SELECT 'not_in_nullable' AS variant, CAST(n AS BIGINT)
             AS n_orders FROM naive
         UNION ALL
         SELECT 'not_in_guarded', CAST(n AS BIGINT) FROM guarded
         UNION ALL
         SELECT 'not_exists', CAST(n AS BIGINT) FROM nexists) u
       ORDER BY variant"""

  def q35NotInNull(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q35Sql)

  val q35Oracle: String = q35Sql

  // --------------------------------------------------------------- q36
  /** KEYSET-STABLE PAGINATION with explicit NULL placement — LIMIT/
    * OFFSET over a total order whose leading key is NULLABLE. The two
    * cross-engine traps this pins: default NULL ordering DIFFERS
    * (Spark sorts NULLS FIRST on ASC, DuckDB NULLS LAST), so the
    * explicit `NULLS LAST` is what makes the page portable; and an
    * OFFSET page is only deterministic under a TOTAL order (the
    * unique key tiebreak) — without it engines may agree on row SETS
    * yet disagree on every page boundary.
    *
    * Scale note: ORDER BY + LIMIT/OFFSET plans as TakeOrdered with
    * limit = offset + page (map-side per-partition top-k, one
    * singleton exchange) — the offset never materializes a global
    * sort. Deep pagination (offset in the millions) should switch to
    * keyset predicates; a page-60 report is exactly this shape. */
  val q36Sql: String =
    """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal,
         nullif(c_mktsegment, 'BUILDING') AS seg
       FROM customer
       ORDER BY nullif(c_mktsegment, 'BUILDING') ASC NULLS LAST,
         c_acctbal DESC, c_custkey
       LIMIT 20 OFFSET 40"""

  def q36Pagination(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q36Sql)

  val q36Oracle: String = q36Sql

  // --------------------------------------------------------------- q37
  /** FILTERED AGGREGATES + boolean aggregates — the `FILTER (WHERE …)`
    * clause (one scan, many conditional aggregates — the standard
    * replacement for N self-joined sub-counts) and `bool_and`/
    * `bool_or` (universal/existential group predicates), the two
    * aggregate-surface features nothing else on the q-series touches
    * (q12 builds conditionals from CASE; FILTER is the declarative
    * form Catalyst rewrites to the same conditional aggregate — zero
    * extra passes). A FILTER'd sum over a group with no qualifying
    * rows is NULL (not 0) — part of the pinned contract. Booleans are
    * CAST to BIGINT at the output boundary: the gate hashes values
    * across engines, and an integer is the portable spelling of a
    * truth value. */
  val q37Sql: String =
    """SELECT o_orderpriority,
         count(*) AS n_orders,
         count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
           FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cents_f,
         CAST(bool_and(o_totalprice > 0) AS BIGINT) AS all_positive,
         CAST(bool_or(o_totalprice > 400000) AS BIGINT) AS any_huge
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  def q37FilteredAgg(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q37Sql)

  val q37Oracle: String = q37Sql

  // --------------------------------------------------------------- q38
  /** CORRELATED SCALAR SUBQUERIES IN THE SELECT LIST — the report
    * idiom "one row per dimension member, enriched by lookups" (q28's
    * correlation sits in WHERE; a SELECT-list scalar is a different
    * rewrite: Catalyst de-correlates each into a left outer join
    * against the pre-aggregated subquery, so N scalars cost N
    * dim-sized joins, never N probes per row). The pinned semantics:
    * a scalar `count(*)` over an empty correlation is 0, while a
    * scalar `max(...)` over the same empty set is NULL — the
    * asymmetry reports rely on and hand-rolled rewrites get wrong. */
  val q38Sql: String =
    """SELECT n_name,
         (SELECT CAST(count(*) AS BIGINT) FROM customer
          WHERE c_nationkey = n_nationkey) AS n_customers,
         (SELECT round(max(c_acctbal), 2) FROM customer
          WHERE c_nationkey = n_nationkey) AS max_bal,
         (SELECT CAST(count(*) AS BIGINT) FROM supplier
          WHERE s_nationkey = n_nationkey) AS n_suppliers
       FROM nation ORDER BY n_name"""

  def q38ScalarSubqueries(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q38Sql)

  val q38Oracle: String = q38Sql

  // --------------------------------------------------------------- q39
  /** GROUP BY ALL + ordinal ORDER BY — the two dialect-portability
    * features analysts actually type (group by every non-aggregate
    * select item without restating it; order by output position).
    * Both engines support both since Spark 3.4 / DuckDB's original
    * dialect — this gate pins that the RESOLUTION agrees: GROUP BY
    * ALL must bind exactly the two dimension columns (a resolver that
    * also grouped an aggregate's input would change every row), and
    * ordinals must bind to the projected output, not the underlying
    * table order. */
  val q39Sql: String =
    """SELECT o_orderpriority, o_orderstatus,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
       FROM orders GROUP BY ALL ORDER BY 1, 2"""

  def q39GroupByAll(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q39Sql)

  val q39Oracle: String = q39Sql

  // --------------------------------------------------------------- q40
  /** BAG-SEMANTICS SET OPERATIONS — `INTERSECT ALL` / `EXCEPT ALL`
    * beside their DISTINCT forms (q32 covers the set forms' row
    * CONTENT; this pins the multiplicity arithmetic): for bags with
    * m and n copies of a value, INTERSECT ALL keeps min(m,n) copies
    * and EXCEPT ALL keeps max(m−n, 0) — the identity
    * |A| = |A ∩ALL B| + |A −ALL B| holds by construction and the four
    * counts expose any engine that quietly deduplicates. One row of
    * four scalar counts over the same two order-status bags. */
  val q40Sql: String =
    """WITH a AS (SELECT o_custkey AS k FROM orders
         WHERE o_orderstatus = 'F'),
       b AS (SELECT o_custkey AS k FROM orders
         WHERE o_orderpriority = '1-URGENT')
       SELECT
         (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t)
           AS n_intersect_all,
         (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT k FROM a INTERSECT SELECT k FROM b) t)
           AS n_intersect,
         (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t)
           AS n_except_all,
         (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT k FROM a EXCEPT SELECT k FROM b) t)
           AS n_except"""

  def q40BagSetOps(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q40Sql)

  val q40Oracle: String = q40Sql

  // --------------------------------------------------------------- q41
  /** ORDERED-SET AGGREGATES — `percentile_disc` (inverse-distribution:
    * the smallest element whose cumulative distribution ≥ p, i.e. the
    * rank-⌈p·n⌉ order statistic) and deterministic `mode()`, both in
    * the ANSI `WITHIN GROUP (ORDER BY …)` form. Values are exact
    * integer cents, so the gate compares picked ELEMENTS, never float
    * interpolation (q22 covers the interpolating quantile_cont form).
    * The oracle computes the same statistics from DuckDB natives
    * (`quantile_disc` is the same ⌈p·n⌉ definition — the q23
    * precedent) and hand-rolls mode as a tie-broken argmax
    * (count DESC, value ASC — DuckDB's native mode leaves ties
    * unspecified; Spark's ordered-set mode resolves them by the
    * WITHIN GROUP order, and the gate pins that resolution).
    *
    * Scale: one shuffle on the group key; Spark's percentile/mode
    * aggregation buffers are value→count maps, bounded by the DISTINCT
    * cent values per group (price domain), not row count. For an
    * unbounded value domain the scale path is q23's mergeable
    * approx-percentile summaries. */
  def q41OrderedSet(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("p25_cents"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("p50_cents"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("p75_cents"),
        expr("mode() WITHIN GROUP (ORDER BY o_orderstatus)")
          .as("mode_status"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  val q41Oracle: String =
    """WITH o AS (
         SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           o_orderstatus
         FROM orders),
       q AS (
         SELECT o_orderpriority,
           CAST(quantile_disc(cents, 0.25) AS BIGINT) AS p25_cents,
           CAST(quantile_disc(cents, 0.50) AS BIGINT) AS p50_cents,
           CAST(quantile_disc(cents, 0.75) AS BIGINT) AS p75_cents,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM o GROUP BY o_orderpriority),
       m AS (
         SELECT o_orderpriority, o_orderstatus AS mode_status,
           row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY count(*) DESC, o_orderstatus) AS rn
         FROM o GROUP BY o_orderpriority, o_orderstatus)
       SELECT q.o_orderpriority, p25_cents, p50_cents, p75_cents,
         mode_status, n_orders
       FROM q JOIN m ON q.o_orderpriority = m.o_orderpriority AND m.rn = 1
       ORDER BY q.o_orderpriority"""

  // --------------------------------------------------------------- q42
  /** WINDOWED DISTINCT AGGREGATE — running `count(DISTINCT user_id)
    * OVER (PARTITION BY type ORDER BY day)`, the daily-cumulative-
    * uniques report every growth dashboard runs. Spark rejects
    * DISTINCT inside a window frame outright, so the Spark side IS the
    * scale-safe rewrite: a user is COUNTED on the day it first
    * appears (one groupBy on (type, user) — the only data-sized
    * shuffle), then a running sum of per-day first-appearance counts
    * over the calendar-sized daily rollup. The oracle runs DuckDB's
    * native windowed-DISTINCT form, pinning the rewrite exactly
    * equivalent (the default RANGE frame's peer handling included —
    * daily rows are unique per type, so ROWS ≡ RANGE).
    *
    * Scale: the window partitions by type over day-grain rows —
    * calendar-sized, never data-sized; everything below it is
    * map-side-combined aggregation. */
  def q42WindowDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val firsts = ev.groupBy("event_type", "user_id")
      .agg(min("day").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("new_users"))
    val daily = ev.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(firsts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("n_events"),
        sum(coalesce(col("new_users"), lit(0L))).over(w).as("cum_users"))
      .orderBy("event_type", "day")
  }

  val q42Oracle: String =
    """WITH e AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id
         FROM events),
       w AS (
         SELECT event_type, day,
           CAST(count(*) OVER (PARTITION BY event_type, day) AS BIGINT)
             AS n_events,
           CAST(count(DISTINCT user_id)
             OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
             AS cum_users
         FROM e)
       SELECT DISTINCT event_type, day, n_events, cum_users
       FROM w ORDER BY event_type, day"""

  // --------------------------------------------------------------- q43
  /** Sample rate (percent) for the hash-threshold row sample — ONE
    * constant interpolated into both engines. */
  private[graft] val SamplePct = 10

  /** REPRODUCIBLE ROW SAMPLE — the TABLESAMPLE shape done right for a
    * pipeline: `TABLESAMPLE BERNOULLI` draws from a seeded RNG whose
    * stream depends on scan order and partitioning, so two engines (or
    * two runs over different file splits) disagree row-by-row. The
    * hash-threshold idiom — keep rows whose 60-bit md5 of the key
    * falls under p% of the modulus — is gate-EXACT by construction:
    * deterministic per key, independent of partitioning, engine, or
    * scan order, and stable as the table grows (a row's membership
    * never flips when other rows arrive — the property incremental
    * eval sets depend on; d18's stratified mixture rides the same
    * keep-decision). Map-only: the predicate evaluates in the scan
    * stage; no shuffle until the gate's deterministic ORDER BY. */
  def q43HashSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(ops.TextOps.hash60(col("o_orderkey").cast("string")) % 100
        < SamplePct)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .orderBy("o_orderkey")

  val q43Oracle: String =
    s"""SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       FROM orders
       WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
         % 100 < $SamplePct
       ORDER BY o_orderkey"""

  // --------------------------------------------------------------- q44
  /** IGNORE NULLS window — LAST-OBSERVATION-CARRIED-FORWARD gap fill,
    * the canonical sparse-timeseries densification (sensor readings,
    * sparse fact snapshots, slowly-updating dimensions read at event
    * grain): a calendar spine per type LEFT-joins a deliberately
    * SPARSE daily aggregate (cents % 97 < 5 — a deterministic ~5%
    * slice, so real gaps exist at every sf), and
    * `last(x, ignoreNulls) OVER (… ROWS UNBOUNDED PRECEDING)` carries
    * the latest observation across the gaps; days before the first
    * observation stay NULL on both engines. DuckDB runs the ANSI
    * `IGNORE NULLS` spelling of the identical frame.
    *
    * Scale: the window partitions by type over the CALENDAR-sized
    * spine (the q30/d162 discipline — bounds from a 1-row broadcast
    * aggregate, never a data-sized window); the sparse aggregate is
    * map-side combined. */
  def q44Locf(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      round(col("value") * 100).cast("long").as("cents"))
    val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
    val types = ev.select("event_type").distinct()
    val spine = types.crossJoin(broadcast(bounds)) // 1-row scalar bounds
      .filter(col("d0").isNotNull)
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val sparse = ev.filter(col("cents") % 97 < 5)
      .groupBy("event_type", "day").agg(sum("cents").as("day_cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(sparse, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("day_cents"),
        last(col("day_cents"), ignoreNulls = true).over(w)
          .as("filled_cents"),
        col("day_cents").isNull.as("is_gap"))
      .orderBy("event_type", "day")
  }

  val q44Oracle: String =
    """WITH e AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           CAST(round(value * 100) AS BIGINT) AS cents
         FROM events),
       b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
       ty AS (SELECT DISTINCT event_type FROM e),
       spine AS (
         SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM ty, b),
       sparse AS (
         SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS day_cents
         FROM e WHERE cents % 97 < 5 GROUP BY 1, 2)
       SELECT s.event_type, s.day, day_cents,
         last_value(day_cents IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS filled_cents,
         day_cents IS NULL AS is_gap
       FROM spine s LEFT JOIN sparse USING (event_type, day)
       ORDER BY event_type, day"""

  // --------------------------------------------------------------- q45
  /** Correlated EXISTS / NOT EXISTS — the subquery spelling of
    * semi/anti join (q9 pins the Column-API form; this pins the SQL
    * DECORRELATION: Catalyst must rewrite both per-row probes into one
    * left-semi and one left-anti hash join for the plan to be viable
    * at scale, and the SAME pure-ANSI text runs in DuckDB, so there is
    * no dialect translation for drift to hide in — the q28
    * precedent). Customers who have ordered but never urgently. */
  val q45Sql: String =
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey)
         AND NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderpriority = '1-URGENT')
       ORDER BY c_custkey"""

  def q45Exists(spark: SparkSession, dir: String): DataFrame =
    ops.SqlSurface.run(spark, dir, q45Sql)

  val q45Oracle: String = q45Sql

  // --------------------------------------------------------------- q46
  /** TIME-ZONE-AWARE calendar rollup across DST transitions — every
    * other date/window gate in the registry buckets by UTC integer µs;
    * real reporting rolls up by CIVIL day in a named zone, and the
    * sharp edges live exactly at the tz-database transitions (a
    * 23-hour day at spring-forward, a 25-hour day at fall-back, where
    * naive `div 86400e6` bucketing silently misassigns up to an hour
    * of events). The fixture's January span contains no transition,
    * so the gate shifts it onto BOTH 2024 `America/New_York`
    * boundaries by pure interval arithmetic (+68 d → Mar 9 .. Apr 7
    * spans the Mar 10 spring-forward; +300 d → Oct 27 .. Nov 25 spans
    * the Nov 3 fall-back — the SAME shift on both engines, so the
    * only thing under test is the tz conversion itself), converts
    * with `from_utc_timestamp` vs DuckDB `AT TIME ZONE` (two
    * independent tz-database consumers), and rolls up per civil day.
    * `n_utc_hours` counts the distinct UTC hours feeding each civil
    * day: 23 on 2024-03-10 and 25 on 2024-11-03 in the output — the
    * short/long day pinned as data, not prose.
    *
    * Scale: one scan, two-way union, one hash aggregate on a
    * calendar-sized key space (≤64 groups) — map-side combined, no
    * window, no join. */
  def q46TzCalendar(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("ts"), col("value"))
    val shifted = ev.select(lit("spring").as("win"),
        (col("ts") + expr("INTERVAL 68 DAYS")).as("ts"), col("value"))
      .unionByName(ev.select(lit("fall").as("win"),
        (col("ts") + expr("INTERVAL 300 DAYS")).as("ts"), col("value")))
    shifted
      .groupBy(col("win"),
        to_date(from_utc_timestamp(col("ts"), "America/New_York"))
          .as("civil_day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        countDistinct(date_trunc("hour", col("ts"))).as("n_utc_hours"))
      .orderBy("win", "civil_day")
  }

  val q46Oracle: String =
    """WITH shifted AS (
         SELECT 'spring' AS win, ts + INTERVAL 68 DAY AS ts, value
         FROM events
         UNION ALL
         SELECT 'fall', ts + INTERVAL 300 DAY, value FROM events)
       SELECT win,
         CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'
           AS DATE) AS civil_day,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 2) AS sum_value,
         CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
           AS n_utc_hours
       FROM shifted
       GROUP BY 1, 2
       ORDER BY win, civil_day"""

  // --------------------------------------------------------------- q47
  /** ISO-8601 WEEK-YEAR rollup — the civil-calendar trap q46's zone
    * gate doesn't touch: the days around Jan 1 belong to the PREVIOUS
    * or NEXT ISO year (1995-01-01 is a Sunday → week 52 of 1994; 1998
    * has 53 weeks), so a report keyed (year, weekofyear) silently
    * splits one ISO week into two rows at every year boundary. Spark
    * has `weekofyear` (ISO) but NO iso-year function, so the gate
    * derives BOTH from the Thursday rule — the Thursday of a date's
    * week determines its ISO year and week (week = ⌊(doy(thu)−1)/7⌋+1)
    * — using the d189 engine-identical day arithmetic ((days+3) mod 7
    * is the Monday-based weekday; 1970-01-01 is a Thursday). The
    * oracle uses DuckDB's NATIVE `isoyear`/`week`/`date_trunc('week')`
    * — two independent ISO-8601 implementations must agree on every
    * week of a 6.5-year span (two leap years, one 53-week year), and
    * `week_start` pins the full week→Monday mapping as data.
    *
    * Scale: one scan, derived columns, one hash aggregate on a
    * calendar-sized key (~350 weeks) — map-side combined, no join. */
  def q47IsoWeeks(spark: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    val days = datediff(d, lit("1970-01-01").cast("date"))
    val thu = date_add(d, lit(3) - ((days + lit(3)) % 7))
    t(spark, dir, "orders")
      .select(
        year(thu).cast("long").as("iso_year"),
        (floor((dayofyear(thu) - 1) / 7) + 1).cast("long").as("iso_week"),
        date_add(thu, lit(-3)).as("week_start"),
        col("o_totalprice"))
      .groupBy("iso_year", "iso_week", "week_start")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("iso_year", "iso_week")
  }

  val q47Oracle: String =
    """SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
         CAST(week(o_orderdate) AS BIGINT) AS iso_week,
         CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
       FROM orders
       GROUP BY 1, 2, 3
       ORDER BY iso_year, iso_week"""

  // --------------------------------------------------------------- q48
  /** MONTH-END-ANCHORED billing periods — subscription/billing rollups
    * anchor on a civil day-of-month, and the sharp edge is month-END
    * clamping: a Jan-31 anchor's period starts land on Feb 28 (29 in
    * leap years), Mar 31, Apr 30 … — irregular lengths and a
    * day-of-month that CYCLES, where naive `date_trunc('month')`
    * misbills every order between the 28th and the 31st. Spark
    * `add_months` and DuckDB `+ INTERVAL n MONTH` implement the same
    * clamp; the gate assigns each order its period with NO JOIN — the
    * month index m = 12·Δyear + Δmonth overshoots by one exactly when
    * the date precedes that month's clamped anchor day, so a single
    * comparison corrects it — and pins the 28/29/30/31-day period
    * lengths as data (`period_days`).
    *
    * Scale: one scan, derived period key, one hash aggregate on a
    * calendar-sized key (~79 periods) — no spine join, no window, no
    * BroadcastNestedLoop range join. */
  def q48BillingPeriods(spark: SparkSession, dir: String): DataFrame = {
    val anchor = lit("1995-01-31").cast("date")
    val od = col("o_orderdate")
    val m = (year(od) - 1995) * 12 + (month(od) - 1)
    val pn = when(to_date(od) < add_months(anchor, m), m - 1).otherwise(m)
    t(spark, dir, "orders")
      .filter(od >= anchor)
      .select(pn.cast("long").as("period_n"), col("o_totalprice"))
      .groupBy("period_n")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .select(col("period_n"),
        add_months(anchor, col("period_n").cast("int")).as("period_start"),
        datediff(add_months(anchor, (col("period_n") + 1).cast("int")),
          add_months(anchor, col("period_n").cast("int")))
          .cast("long").as("period_days"),
        col("n_orders"), col("revenue"))
      .orderBy("period_n")
  }

  val q48Oracle: String =
    """WITH base AS (
         SELECT o_totalprice,
           (year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 1) AS m,
           CAST(o_orderdate AS DATE) AS od
         FROM orders
         WHERE o_orderdate >= DATE '1995-01-31'),
       assigned AS (
         SELECT o_totalprice,
           CASE WHEN od < DATE '1995-01-31' + to_months(CAST(m AS INT))
                THEN m - 1 ELSE m END AS period_n
         FROM base)
       SELECT CAST(period_n AS BIGINT) AS period_n,
         CAST(DATE '1995-01-31' + to_months(CAST(period_n AS INT))
           AS DATE) AS period_start,
         CAST(date_diff('day',
           DATE '1995-01-31' + to_months(CAST(period_n AS INT)),
           DATE '1995-01-31' + to_months(CAST(period_n + 1 AS INT)))
           AS BIGINT) AS period_days,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
       FROM assigned
       GROUP BY period_n
       ORDER BY period_n"""

  // --------------------------------------------------------------- q49
  /** NULL-SAFE JOIN (`<=>` / IS NOT DISTINCT FROM) — the join-key trap
    * plain equality cannot express: under `=`, NULL matches nothing,
    * so a FULL OUTER join of two keyed aggregates leaves each side's
    * NULL bucket as its OWN unmatched row (two rows, both half-empty);
    * under null-safe equality NULL is a VALUE and the two NULL buckets
    * pair up — the semantics every dimension-reconciliation report
    * over incomplete keys actually wants. The fixture derives nullable
    * bucket keys from the two nation keys with DIFFERENT moduli, so
    * the output exercises all three row kinds at once: matched
    * buckets, right-only buckets (supplier mod 9 reaches 7..8, which
    * customer mod 7 cannot), and the null-safe-matched NULL pair.
    * Spark's `<=>` compiles to EqualNullSafe — still an EQUI-join key
    * (sort-merge/hash, no nested loop), which is the point: null
    * tolerance costs nothing in the plan.
    *
    * Scale: two keyed aggregates (map-side combined) then a ≤16-row
    * join — the pattern holds at any scale because the join runs on
    * the aggregated key space, never the raw tables. */
  def q49NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ck = when((col("c_nationkey") % 7) === 3, lit(null).cast("long"))
      .otherwise(col("c_nationkey") % 7)
    val sk = when((col("s_nationkey") % 9) === 4, lit(null).cast("long"))
      .otherwise(col("s_nationkey") % 9)
    val c = t(spark, dir, "customer")
      .select(ck.as("ck")).groupBy("ck")
      .agg(count(lit(1)).as("n_cust"))
    val s = t(spark, dir, "supplier")
      .select(sk.as("sk")).groupBy("sk")
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("ck") <=> col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("k"),
        col("n_cust"), col("n_supp"))
      .orderBy(asc_nulls_first("k"))
  }

  val q49Oracle: String =
    """WITH c AS (
         SELECT CASE WHEN c_nationkey % 7 = 3 THEN NULL
                     ELSE c_nationkey % 7 END AS ck,
           CAST(count(*) AS BIGINT) AS n_cust
         FROM customer GROUP BY 1),
       s AS (
         SELECT CASE WHEN s_nationkey % 9 = 4 THEN NULL
                     ELSE s_nationkey % 9 END AS sk,
           CAST(count(*) AS BIGINT) AS n_supp
         FROM supplier GROUP BY 1)
       SELECT coalesce(ck, sk) AS k, n_cust, n_supp
       FROM c FULL JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
       ORDER BY k NULLS FIRST"""

  // --------------------------------------------------------------- q50
  /** Whale-order monthly report threshold — only orders above this
    * populate the report, so months WITHOUT one exist at gate scale
    * (3 empty months at sf0.01) and the spine must surface them. */
  private val WhaleThreshold = 490000.0

  /** RECURSIVE CTE month spine (`WITH RECURSIVE` — Spark 4's
    * UnionLoop execution, a surface nothing else exercises): the
    * monthly whale-order report every finance team ships, written the
    * SQL-standard way — the spine recurses one month at a time from
    * the corpus's first order month to its last (bounds computed once
    * in the anchor and CARRIED through the recursion, so the step
    * needs no correlated subquery), the whale aggregate LEFT-joins
    * onto it, and empty months appear as explicit zero rows (the trap:
    * a GROUP BY alone silently drops them, understating a cumulative
    * chart's flat segments). Money is exact integer cents (the q33
    * convention) so the running total is drift-free BIGINT addition in
    * both engines; DuckDB runs its own native recursion as the oracle,
    * so the two recursion engines must agree on the spine exactly.
    *
    * Scale: the recursion is CALENDAR-sized (80 iterations of a 1-row
    * frame — driver-trivial forever); the data-sized side is one
    * filtered scan + a month-key hash aggregate; the running-total
    * window orders calendar rows, never data rows. */
  def q50RecursiveSpine(spark: SparkSession, dir: String): DataFrame = {
    val spine = ops.SqlSurface.run(spark, dir,
      s"""WITH RECURSIVE months(m, hi) AS (
           SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS DATE),
                  CAST(date_trunc('MONTH', max(o_orderdate)) AS DATE)
           FROM orders
           UNION ALL
           SELECT CAST(add_months(m, 1) AS DATE), hi FROM months
           WHERE m < hi),
         mo AS (
           SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mon,
             CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
           FROM orders WHERE o_totalprice > $WhaleThreshold
           GROUP BY 1)
         SELECT m AS month,
           coalesce(n, CAST(0 AS BIGINT)) AS n_whales,
           coalesce(cents, CAST(0 AS BIGINT)) AS whale_cents
         FROM months LEFT JOIN mo ON mon = m""")
    // the running total rides the engine's distributed prefix-sum
    // primitive, NOT an unpartitioned ORDER BY window — the frame is
    // calendar-sized today, but the surface bans empty window
    // partition specs outright (OpsSpec registry guard) and the
    // primitive costs the same one range exchange
    ops.GlobalOrder.runningTotal(spine, Seq(col("month")),
        col("whale_cents"))
      .select(col("month"), col("n_whales"), col("whale_cents"),
        col("running").as("cum_cents"))
      .orderBy("month")
  }

  // --------------------------------------------------------------- q51
  /** PER-KEY `RANGE BETWEEN INTERVAL` date frame — each customer's
    * 90-day trailing spend over the customer's OWN sparse order dates
    * (q30 covers the global-calendar form of the interval frame; this
    * is the per-key form a warehouse user hits monthly, r16 VERDICT
    * next #2). The frame is a REAL per-key range window — one hash
    * exchange on `o_custkey` + a per-key sort, never a global walk —
    * but the scale trap lives one level down: a skewed key (one
    * customer with 10⁸ orders) would still single-TASK its partition
    * if the window ran over raw orders. So the window's input is the
    * per-(customer, day) DAILY pre-aggregate — after it, a key's
    * partition holds at most its ACTIVE-DAY count (calendar-bounded,
    * data-size-independent), and the pre-aggregate itself is a
    * map-side-combining groupBy that absorbs the skew. The order key
    * is integer epoch-days with a numeric `rangeBetween(-89, 0)` —
    * exactly `INTERVAL 89 DAY PRECEDING` over dates, with no interval
    * arithmetic left to diverge between engines; money is exact cents
    * until the final 2dp division. */
  def q51KeyedRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("order_day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .withColumn("epoch_day",
        datediff(col("order_day"), lit("1970-01-01")).cast("long"))
    val w = Window.partitionBy("o_custkey").orderBy("epoch_day")
      .rangeBetween(-89, Window.currentRow)
    daily
      .withColumn("cents90", sum("cents").over(w))
      .withColumn("n_days90", count(lit(1)).over(w))
      .select(col("o_custkey"), col("order_day"),
        round(col("cents") / 100.0, 2).as("day_total"),
        round(col("cents90") / 100.0, 2).as("total90"),
        col("n_days90"))
      .orderBy("o_custkey", "order_day")
  }

  val q51Oracle: String =
    """WITH daily AS (
         SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
         FROM orders GROUP BY 1, 2)
       SELECT o_custkey, order_day,
         round(cents / 100.0, 2) AS day_total,
         round(CAST(sum(cents) OVER w AS BIGINT) / 100.0, 2) AS total90,
         CAST(count(*) OVER w AS BIGINT) AS n_days90
       FROM daily
       WINDOW w AS (PARTITION BY o_custkey ORDER BY order_day
         RANGE BETWEEN INTERVAL 89 DAY PRECEDING AND CURRENT ROW)
       ORDER BY o_custkey, order_day"""

  // --------------------------------------------------------------- q52
  /** Grouped QUALIFY with TIES — "each customer's latest-day order(s)",
    * the warehouse idiom `QUALIFY rank() OVER (...) = 1` (r16 VERDICT
    * next #7). The semantic under test is rank() vs row_number(): a
    * customer with TWO orders on their max day keeps BOTH under rank
    * (7 such customers at sf0.01 — the tie path runs on real data),
    * where a row_number()=1 formulation would keep an arbitrary one —
    * not just different but NONDETERMINISTIC, since the date tie
    * leaves the order within the frame to partition luck; the planted
    * spec pins the divergence. Scale shape: Catalyst compiles the
    * rank-filter into `WindowGroupLimit` — a map-side per-key limit
    * heap BEFORE the exchange, so the shuffle carries each customer's
    * top run, not their history (plan-pinned in the spec alongside
    * q31's row_number form). */
  def q52QualifyTies(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("order_day").desc)
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("order_day"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))
      .withColumn("rk", rank().over(w))
      .filter(col("rk") === 1).drop("rk")
      .orderBy("o_custkey", "o_orderkey")
  }

  val q52Oracle: String =
    """SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day,
         o_orderkey, round(o_totalprice, 2) AS total
       FROM orders
       QUALIFY rank() OVER (PARTITION BY o_custkey
         ORDER BY CAST(o_orderdate AS DATE) DESC) = 1
       ORDER BY o_custkey, o_orderkey"""

  val q50Oracle: String =
    s"""WITH RECURSIVE months(m, hi) AS (
         SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE),
                CAST(date_trunc('month', max(o_orderdate)) AS DATE)
         FROM orders
         UNION ALL
         SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months
         WHERE m < hi),
       mo AS (
         SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
         FROM orders WHERE o_totalprice > $WhaleThreshold
         GROUP BY 1)
       SELECT m AS month,
         CAST(coalesce(n, 0) AS BIGINT) AS n_whales,
         CAST(coalesce(cents, 0) AS BIGINT) AS whale_cents,
         CAST(sum(coalesce(cents, 0)) OVER (ORDER BY m) AS BIGINT)
           AS cum_cents
       FROM months LEFT JOIN mo ON mon = m
       ORDER BY month"""

  // ------------------------------------------------------------ registry
  val gates: Seq[Gate] = Seq(
    Gate("q1_agg", q1Agg, q1Oracle),
    Gate("q2_filter_project", q2FilterProject, q2Oracle),
    Gate("q3_join_agg", q3JoinAgg, q3Oracle),
    Gate("q4_sort_limit", q4SortLimit, q4Oracle),
    Gate("q5_multi_join", q5MultiJoin, q5Oracle),
    Gate("q6_window", q6Window, q6Oracle),
    Gate("q7_distinct", q7Distinct, q7Oracle),
    Gate("q8_setops", q8SetOps, q8Oracle),
    Gate("q9_semi_anti", q9SemiAnti, q9Oracle),
    Gate("q10_rollup", q10Rollup, q10Oracle),
    Gate("q11_above_avg", q11AboveAvg, q11Oracle),
    Gate("q12_conditional", q12Conditional, q12Oracle),
    Gate("q13_strings", q13Strings, q13Oracle),
    Gate("q14_dates", q14Dates, q14Oracle),
    Gate("q15_pivot", q15Pivot, q15Oracle),
    Gate("q16_group_concat", q16GroupConcat, q16Oracle),
    Gate("q17_events_hourly", q17EventsHourly, q17Oracle),
    Gate("q18_sessionize", q18Sessionize, q18Oracle),
    Gate("q19_topk_per_group", q19TopKPerGroup, q19Oracle),
    Gate("q20_agg_join", q20AggJoin, q20Oracle),
    Gate("q21_asof", q21Asof, q21Oracle),
    Gate("q22_percentiles", q22Percentiles, q22Oracle),
    Gate("q23_approx_percentiles", q23ApproxPercentiles, q23Oracle),
    Gate("q24_cube", q24Cube, q24Oracle),
    Gate("q25_lead_lag", q25LeadLag, q25Oracle),
    Gate("q26_unpivot", q26Unpivot, q26Oracle),
    Gate("q27_grouping_sets", q27GroupingSets, q27Oracle),
    Gate("q28_correlated", q28Correlated, q28Oracle),
    Gate("q29_recursive", q29Recursive, q29Oracle),
    Gate("q30_moving_avg", q30MovingAvg, q30Oracle),
    Gate("q31_lateral_topk", q31Lateral, q31Oracle),
    Gate("q32_set_ops", q32SetOps, q32Oracle),
    Gate("q33_range_frame", q33RangeFrame, q33Oracle),
    Gate("q34_dist_rank", q34DistRank, q34Oracle),
    Gate("q35_not_in_null", q35NotInNull, q35Oracle),
    Gate("q36_pagination", q36Pagination, q36Oracle),
    Gate("q37_filtered_agg", q37FilteredAgg, q37Oracle),
    Gate("q38_scalar_subqueries", q38ScalarSubqueries, q38Oracle),
    Gate("q39_group_by_all", q39GroupByAll, q39Oracle),
    Gate("q40_bag_set_ops", q40BagSetOps, q40Oracle),
    Gate("q41_ordered_set", q41OrderedSet, q41Oracle),
    Gate("q42_window_distinct", q42WindowDistinct, q42Oracle),
    Gate("q43_hash_sample", q43HashSample, q43Oracle),
    Gate("q44_locf", q44Locf, q44Oracle),
    Gate("q45_exists", q45Exists, q45Oracle),
    Gate("q46_tz_calendar", q46TzCalendar, q46Oracle),
    Gate("q47_iso_weeks", q47IsoWeeks, q47Oracle),
    Gate("q48_billing_periods", q48BillingPeriods, q48Oracle),
    Gate("q49_null_safe_join", q49NullSafeJoin, q49Oracle),
    Gate("q50_recursive_spine", q50RecursiveSpine, q50Oracle),
    Gate("q51_keyed_range_frame", q51KeyedRangeFrame, q51Oracle),
    Gate("q52_qualify_ties", q52QualifyTies, q52Oracle))
}
