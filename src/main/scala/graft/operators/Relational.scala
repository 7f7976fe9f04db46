package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** General analytics over the TPC-H-ish tables: multi-way joins, exact
  * decimal aggregation, top-k windows, grouping sets, and gap-based
  * sessionization of the events stream table.
  *
  * Determinism notes: double sums are order-dependent, so every money/value
  * sum goes through DECIMAL (exact, associative) and is cast to DOUBLE only
  * at the very end — hash-identical across Spark partial aggregation and
  * DuckDB.
  *
  * Scale notes: dimension tables (region, nation, and at 100 TB still
  * customer vs lineitem) are broadcast; fact-fact joins shuffle on the join
  * key; aggregations are partial+final (Spark default). AQE handles skew.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(spark, dir, n)

  // -------------------------------------------------------------------------
  // Pricing summary (TPC-H Q1 shape: scan + filter + hash agg)
  // -------------------------------------------------------------------------

  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty_d"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_base_d"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).as("sum_disc_d"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("sum_qty_d").cast("double").as("sum_qty"),
        col("sum_base_d").cast("double").as("sum_base_price"),
        col("sum_disc_d").cast("double").as("sum_disc_price"),
        (col("sum_qty_d").cast("double") / col("count_order")).as("avg_qty"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummaryOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------------
  // Multi-way join revenue rollup (broadcast dims + shuffle fact join)
  // -------------------------------------------------------------------------

  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    // n_orders must stay a countDistinct over the joined fact: ~0.2% of
    // orders have no lineitems in this generator, so an orders-side count
    // (the cheaper plan) would overcount — measured before optimizing
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).as("revenue_d"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .select(col("r_name"), col("n_name"),
        col("revenue_d").cast("double").as("revenue"), col("n_orders"))
      .orderBy("r_name", "n_name")
  }

  val revenueByNationOracle: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
      |  count(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // -------------------------------------------------------------------------
  // Top-k per group (window + filter; the sort/limit family)
  // -------------------------------------------------------------------------

  def topCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val totals = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "c_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("total_d"),
        count(lit(1)).as("n_orders"))
    totals
      .withColumn("rank", row_number().over(
        Window.partitionBy("c_mktsegment").orderBy(col("total_d").desc, col("c_custkey"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("c_mktsegment"), col("rank"), col("c_custkey"),
        col("total_d").cast("double").as("total_spend"), col("n_orders"))
      .orderBy("c_mktsegment", "rank")
  }

  val topCustomersOracle: String =
    """SELECT c_mktsegment, rank, c_custkey, CAST(total_d AS DOUBLE) AS total_spend, n_orders
      |FROM (
      |  SELECT c_mktsegment, c_custkey, total_d, n_orders,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY total_d DESC, c_custkey) AS rank
      |  FROM (
      |    SELECT c_mktsegment, c_custkey,
      |      sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_d, count(*) AS n_orders
      |    FROM orders JOIN customer ON o_custkey = c_custkey
      |    GROUP BY c_mktsegment, c_custkey
      |  )
      |)
      |WHERE rank <= 5
      |ORDER BY c_mktsegment, rank""".stripMargin

  // -------------------------------------------------------------------------
  // Grouping sets (multi-level rollup in one pass)
  // -------------------------------------------------------------------------

  def segmentNationRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(CAST(c_nationkey AS INT), -1) AS nationkey,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY segment, nationkey""".stripMargin)
  }

  val segmentNationRollupOracle: String =
    """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
      |  coalesce(CAST(c_nationkey AS INT), -1) AS nationkey,
      |  count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      |ORDER BY segment, nationkey""".stripMargin

  // -------------------------------------------------------------------------
  // Semi-structured extraction (JSON props column)
  // -------------------------------------------------------------------------

  /** Extracts the JSON `props.k` field from every event and aggregates per
    * event type — the semi-structured projection path (get_json_object is
    * codegen'd; at scale this is scan + project + one hash agg, and the
    * JSON never leaves the executor).
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        // from_json with a fixed schema beats get_json_object ~1.6x here
        // (schema reused across rows instead of per-row path evaluation)
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(when(col("k") % 2 === 0, 1)).as("n_even_k"))
      .orderBy("event_type")

  val jsonExtractOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
      |  count(CASE WHEN k % 2 = 0 THEN 1 END) AS n_even_k
      |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------------
  // Global top-N (sort + limit; TPC-H Q3 shipping-priority shape)
  // -------------------------------------------------------------------------

  /** Highest-revenue urgent orders: join + filter + agg + global ORDER BY +
    * LIMIT. Spark plans the limit as TakeOrderedAndProject (per-partition
    * top-N then a tiny driver merge — no global sort materializes).
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(28,4)")).as("revenue_d"))
      .select(col("o_orderkey").as("orderkey"),
        // orders carries TIMESTAMP_NTZ; cast to LTZ under the UTC session so
        // unix_millis matches DuckDB's naive-as-UTC epoch_ms
        unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
        col("revenue_d").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("orderkey"))
      .limit(10)
  }

  val shippingPriorityOracle: String =
    """SELECT o_orderkey AS orderkey, epoch_ms(o_orderdate) AS orderdate_ms,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, orderkey
      |LIMIT 10""".stripMargin

  // -------------------------------------------------------------------------
  // Set operations (UNION / INTERSECT / EXCEPT)
  // -------------------------------------------------------------------------

  /** Nation-key sets across market segments combined with all three set
    * operators (INTERSECT / EXCEPT both ways), tagged into one result.
    *
    * Deliberately NOT written as intersect/except: that formulation feeds
    * each of `a`/`b` into three set operators, and Catalyst plans six
    * separate customer scans + exchanges (the branches' aggregate shapes
    * differ, so ReuseExchange never fires — the same trap documented for
    * dedup_substring). The linearized form is one scan, one shuffle: a
    * conditional aggregate per nationkey, then a 3-way CASE.
    */
  def segmentSetOps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(bool_or(col("c_mktsegment") === "AUTOMOBILE").as("in_a"),
        bool_or(col("c_mktsegment") === "BUILDING").as("in_b"))
      .select(col("nationkey"),
        when(col("in_a") && col("in_b"), "both")
          .when(col("in_a"), "auto_only")
          .otherwise("building_only").as("op"))
      .orderBy("op", "nationkey")

  val segmentSetOpsOracle: String =
    """WITH a AS (SELECT DISTINCT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
      |b AS (SELECT DISTINCT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT nationkey, op FROM (
      |  SELECT nationkey, 'both' AS op FROM (SELECT nationkey FROM a INTERSECT SELECT nationkey FROM b)
      |  UNION ALL
      |  SELECT nationkey, 'auto_only' AS op FROM (SELECT nationkey FROM a EXCEPT SELECT nationkey FROM b)
      |  UNION ALL
      |  SELECT nationkey, 'building_only' AS op FROM (SELECT nationkey FROM b EXCEPT SELECT nationkey FROM a)
      |)
      |ORDER BY op, nationkey""".stripMargin

  // -------------------------------------------------------------------------
  // As-of join (composed from builtins: union + last_value window)
  // -------------------------------------------------------------------------

  /** As-of join without a join operator: attribute every `error` event to
    * the same user's most recent preceding-or-simultaneous `click` (at
    * millisecond resolution — sub-ms ordering within one truncated
    * millisecond is not observable). Both sides come from one filtered
    * scan here; with two separate tables the same pattern starts with a
    * tagged union. The last_value(IGNORE NULLS) running window is the
    * scalable as-of shape (one shuffle on the key, one sort per
    * partition — no range cross-join; preference (a) of the
    * custom-operator ladder: compose built-ins before reaching for a
    * custom SparkPlan).
    */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
      .filter(col("event_type").isin("click", "error"))
    // clicks sort before errors at identical timestamps (is_click DESC) so a
    // simultaneous click is visible to the error row; NULLS LAST explicitly
    // on both engines (Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc_nulls_last, col("is_click").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("is_click", (col("event_type") === "click").cast("int"))
      .withColumn("last_click_id",
        last(when(col("is_click") === 1, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("is_click") === 1, col("ts_ms")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("last_click_id").isNotNull)
      .select(col("event_id").as("error_id"), col("user_id"),
        col("last_click_id"), (col("ts_ms") - col("last_click_ts")).as("gap_ms"))
      .orderBy("error_id")
  }

  val asofAttributionOracle: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
      |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      |  FROM events WHERE event_type IN ('click', 'error')
      |),
      |attributed AS (
      |  SELECT *,
      |    last_value(CASE WHEN is_click = 1 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_ms NULLS LAST, is_click DESC, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
      |    last_value(CASE WHEN is_click = 1 THEN ts_ms END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_ms NULLS LAST, is_click DESC, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      |  FROM ev
      |)
      |SELECT event_id AS error_id, user_id, last_click_id,
      |  ts_ms - last_click_ts AS gap_ms
      |FROM attributed
      |WHERE event_type = 'error' AND last_click_id IS NOT NULL
      |ORDER BY error_id""".stripMargin

  // -------------------------------------------------------------------------
  // Sketch aggregates (HLL distinct, approximate quantiles)
  // -------------------------------------------------------------------------

  /** HyperLogLog++ distinct counts and approximate quantiles per segment —
    * the sketch family a 100 TB profiler runs instead of exact
    * distinct/sort — restated so the OUTPUT is deterministic and
    * hash-checkable: sketch values themselves differ across engines, so the
    * entry emits the EXACT counts/order-statistics (DuckDB computes those
    * identically) plus one boolean per sketch asserting its 5% relative
    * error bound; the oracle emits literal TRUE for the booleans, making
    * the error bound itself the hash-gated claim. The raw sketch-next-to-
    * exact columns stay visible via [[approxStatsAudit]], gated by
    * OperatorsSpec at sf0.001 AND sf0.1.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame =
    approxStatsRaw(spark, dir).select(
      col("c_mktsegment"), col("n_orders"), col("exact_customers"),
      col("exact_median_price"),
      (abs(col("approx_customers") - col("exact_customers")) <=
        col("exact_customers") * lit(0.05)).as("hll_ok"),
      (abs(col("approx_median_price") - col("exact_median_price")) <=
        col("exact_median_price") * lit(0.05)).as("quantile_ok"))
      .orderBy("c_mktsegment")

  /** Sketches and their exact counterparts side by side. The exact lower
    * median (value at rank (n+1) DIV 2 ordered by price — deterministic
    * even under price ties, since rank-k VALUE doesn't depend on tie
    * order) is the audit cost the sketch exists to avoid at 100 TB; here
    * it doubles as the oracle-matchable half of the gated entry. Its
    * window partitions by the 5-value segment key, but carries only the
    * price column, so the sort stays narrow.
    */
  private def approxStatsRaw(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select("o_custkey", "o_totalprice")
    val c = t(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    val joined = o.join(c, col("o_custkey") === col("c_custkey"))
      .select("c_mktsegment", "o_custkey", "o_totalprice")
    // The sketches and the exact distinct count run in SEPARATE aggregations
    // joined on the (5-row) group key. In one Aggregate, Spark's distinct
    // rewrite re-keys the partial phase by (group, distinct-key), so every
    // non-distinct aggregate's buffer is instantiated per (segment, custkey)
    // — with the 1%-rsd HLL's ~12 KB register array that is ~15k sketch
    // buffers through the shuffle: measured 26 s vs 3 s for this shape at
    // sf0.1. Two narrow aggregations + a tiny join keep each buffer
    // per-SEGMENT only.
    val sketches = joined.groupBy("c_mktsegment")
      .agg(
        // rsd 1%, not the 5% default: the spec gates at 5% relative error,
        // and a sketch whose own standard deviation IS the gate fails it
        // one run in three (observed 6.5% at sf0.1). 1% rsd puts the gate
        // at 5 sigma for ~10k int registers per group — a few KB.
        approx_count_distinct(col("o_custkey"), 0.01).as("approx_customers"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("approx_median_price"),
        count(lit(1)).as("n_orders"))
    val exact = joined.groupBy("c_mktsegment")
      .agg(countDistinct(col("o_custkey")).as("exact_customers"))
    val bySeg = Window.partitionBy("c_mktsegment")
    val median = joined
      .select(col("c_mktsegment"), col("o_totalprice"),
        row_number().over(bySeg.orderBy("o_totalprice")).as("rn"),
        count(lit(1)).over(bySeg).as("n"))
      .where(expr("rn = (n + 1) DIV 2"))
      .select(col("c_mktsegment"), col("o_totalprice").as("exact_median_price"))
    sketches.join(exact, Seq("c_mktsegment"))
      .join(median, Seq("c_mktsegment"))
  }

  /** [[approxStatsRaw]] for the spec: raw sketch values next to their
    * exact counterparts, so OperatorsSpec can assert the 5% relative
    * error at sf0.001 AND sf0.1 numerically (the gated entry only carries
    * the boolean verdicts).
    */
  def approxStatsAudit(spark: SparkSession, dir: String): DataFrame =
    approxStatsRaw(spark, dir).orderBy("c_mktsegment")

  /** DuckDB computes the exact half identically and asserts the sketch
    * booleans as literal TRUE — so a sketch drifting past its 5% bound
    * hash-fails the row instead of being invisible to the gate.
    */
  val approxStatsOracle: String =
    """WITH j AS (
      |  SELECT c_mktsegment, o_custkey, o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |),
      |med AS (
      |  SELECT c_mktsegment, o_totalprice AS exact_median_price
      |  FROM (
      |    SELECT c_mktsegment, o_totalprice,
      |      row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice) AS rn,
      |      count(*) OVER (PARTITION BY c_mktsegment) AS n
      |    FROM j)
      |  WHERE rn = (n + 1) // 2
      |)
      |SELECT j.c_mktsegment, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  med.exact_median_price,
      |  TRUE AS hll_ok, TRUE AS quantile_ok
      |FROM j JOIN med USING (c_mktsegment)
      |GROUP BY j.c_mktsegment, med.exact_median_price
      |ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------------
  // Semi/anti join coverage
  // -------------------------------------------------------------------------

  /** Customers partitioned by order activity: left-semi (has orders) and
    * left-anti (never ordered) joins per market segment.
    */
  def orderCoverage(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").select("o_custkey").distinct()
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
    withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy("c_mktsegment")
  }

  val orderCoverageOracle: String =
    """WITH w AS (
      |  SELECT c_mktsegment, count(*) AS n_with_orders FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY c_mktsegment
      |),
      |wo AS (
      |  SELECT c_mktsegment, count(*) AS n_without_orders FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY c_mktsegment
      |)
      |SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
      |  coalesce(n_with_orders, 0) AS n_with_orders,
      |  coalesce(n_without_orders, 0) AS n_without_orders
      |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------------
  // Gap-based sessionization of the events table
  // -------------------------------------------------------------------------

  val SessionGapMs = 30L * 60 * 1000

  /** Classic lag + cumulative-sum sessionization: a >30-min silence starts a
    * new session per user; emits per-session stats. The batch analogue of a
    * session window (streaming form: flatMapGroupsWithState).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("value").cast("decimal(18,2)").as("value_d"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > SessionGapMs, 1).otherwise(0))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        sum(col("value_d")).as("value_d"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_ms"), col("end_ms"),
        (col("end_ms") - col("start_ms")).as("duration_ms"),
        col("value_d").cast("double").as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  val sessionizeOracle: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
       |    CAST(value AS DECIMAL(18,2)) AS value_d
       |  FROM events
       |),
       |marked AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > $SessionGapMs
       |      THEN 1 ELSE 0 END AS is_new
       |  FROM (
       |    SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ts
       |    FROM ev
       |  )
       |),
       |sessions AS (
       |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM marked
       |)
       |SELECT user_id, session_seq, count(*) AS n_events,
       |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       |  max(ts_ms) - min(ts_ms) AS duration_ms,
       |  CAST(sum(value_d) AS DOUBLE) AS total_value
       |FROM sessions
       |GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // -------------------------------------------------------------------------
  // Interval (range) join — bucketized
  // -------------------------------------------------------------------------

  val IntervalMs = 5L * 60 * 1000

  /** Per error event: how many clicks the same user made in the preceding
    * 5 minutes. The naive plan for a range predicate is a nested-loop join
    * (quadratic); instead both sides are bucketized to the interval width
    * and equi-joined on (user, bucket) — each click lands in its own bucket
    * and the next (the only two buckets a 5-min lookback can reach), the
    * exact range predicate then filters within the ~2x candidate set. One
    * hash shuffle, broadcast-eligible, AQE-skew-splittable: the shape that
    * survives 100 TB where a BroadcastNestedLoopJoin dies.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ets"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_millis(col("ts")).as("cts"))
      .withColumn("bucket", explode(array(
        expr(s"cts div $IntervalMs"), expr(s"cts div $IntervalMs + 1"))))
    val hits = errors.join(clicks,
        col("user_id") === col("c_user") &&
          expr(s"ets div $IntervalMs") === col("bucket") &&
          col("cts") >= col("ets") - IntervalMs && col("cts") < col("ets"))
      .groupBy("event_id").agg(count(lit(1)).as("n_recent_clicks"))
    errors.join(hits, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("ets"),
        coalesce(col("n_recent_clicks"), lit(0L)).as("n_recent_clicks"))
      .orderBy("event_id")
  }

  val intervalJoinOracle: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_ms(ts) AS ets FROM events WHERE event_type = 'error'
       |),
       |c AS (
       |  SELECT user_id, epoch_ms(ts) AS cts FROM events WHERE event_type = 'click'
       |)
       |SELECT e.event_id, e.user_id, e.ets,
       |  count(c.cts) AS n_recent_clicks
       |FROM e LEFT JOIN c ON c.user_id = e.user_id
       |  AND c.cts >= e.ets - $IntervalMs AND c.cts < e.ets
       |GROUP BY e.event_id, e.user_id, e.ets
       |ORDER BY e.event_id""".stripMargin

  // -------------------------------------------------------------------------
  // Analytic window-function suite
  // -------------------------------------------------------------------------

  /** The ranking/offset analytic functions over orders, partitioned by
    * customer and ordered by price: rank, dense_rank, row_number, ntile,
    * percent_rank (exact rational -> one IEEE division), and lag/lead of
    * the order key. Covers the OVER-function surface the reference's
    * Flink engine exposes but its demo queries never touch (SURVEY §2.5
    * "not present" list).
    */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("prev_ok", lag(col("o_orderkey"), 1).over(w))
      .withColumn("next_ok", lead(col("o_orderkey"), 1).over(w))
      .drop("o_totalprice") // ordering column only; keep the output int-typed
      .orderBy("o_orderkey")
  }

  val windowSuiteOracle: String =
    """SELECT o_orderkey, o_custkey,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  row_number() OVER w AS rn,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  lag(o_orderkey) OVER w AS prev_ok,
      |  lead(o_orderkey) OVER w AS next_ok
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------------
  // Salted aggregation (skew mitigation), oracle-checked
  // -------------------------------------------------------------------------

  /** Two-stage salted count of events per type — proves [[Skew.saltedCount]]
    * is EXACTLY a groupBy count (integer partials are associative), while
    * spreading any hot key over 32 reducers.
    */
  def saltedEventCount(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedCount(t(spark, dir, "events"), col("event_type"), 32)
      .withColumnRenamed("k", "event_type")
      .orderBy("event_type")

  val saltedEventCountOracle: String =
    """SELECT event_type, count(*) AS cnt
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Salted JOIN over the same skew: events carry only 5 distinct
    * event_type values, so an unsalted shuffle join lands the whole fact
    * table on 5 reducers — [[Skew.saltedJoin]] spreads each type over 16
    * (key, salt) partitions and the result must still equal the plain
    * join (the oracle is the unsalted join + aggregation). The dimension
    * is a deterministic per-type weight table; the shuffle_hash hint pins
    * the demonstration to a SHUFFLED join — AQE would otherwise
    * broadcast the tiny dim and make the salting unobservable (at real
    * scale the dim×salts side may exceed broadcast and this is the plan
    * that survives). Per-user weighted totals keep the join row-level:
    * every fact row must meet exactly its one dim row or the sums drift.
    */
  def saltedEventJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")).cast("long") * 7 + 3)
    Skew.saltedJoin(ev, dim.hint("shuffle_hash"), "event_type", 16)
      .groupBy("user_id")
      .agg(sum("weight").as("w_sum"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val saltedEventJoinOracle: String =
    """WITH dim AS (
      |  SELECT event_type, CAST(length(event_type) AS BIGINT) * 7 + 3 AS weight
      |  FROM (SELECT DISTINCT event_type FROM events)
      |)
      |SELECT user_id, CAST(sum(weight) AS BIGINT) AS w_sum, count(*) AS n_events
      |FROM events JOIN dim USING (event_type)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------------
  // Exact discrete percentiles
  // -------------------------------------------------------------------------

  /** Exact p50/p90/p99 of event value per type, discrete flavor (the
    * ceil(p*n)-th order statistic — an element of the data, selected by an
    * integer formula, so no interpolation arithmetic can diverge between
    * engines). One window pass for ranks + one aggregation; at scale the
    * per-key sort is the unavoidable cost of exact percentiles — the
    * approximate companion is rel_approx_stats' approx sketches.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy("event_type")
    def pick(p: Int) = // ceil(n*p/100)-th smallest value
      max(when(col("r") === expr(s"(n * $p + 99) div 100"), col("value"))).as(s"p$p")
    t(spark, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_events"), pick(50), pick(90), pick(99))
      .orderBy("event_type")
  }

  val percentilesOracle: String =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |)
      |SELECT event_type, max(n) AS n_events,
      |  max(CASE WHEN r = (n * 50 + 99) // 100 THEN value END) AS p50,
      |  max(CASE WHEN r = (n * 90 + 99) // 100 THEN value END) AS p90,
      |  max(CASE WHEN r = (n * 99 + 99) // 100 THEN value END) AS p99
      |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------------
  // Pivot
  // -------------------------------------------------------------------------

  /** Event-type counts pivoted to columns per user decile. Spark plans the
    * explicit-values pivot as a single conditional aggregation — one
    * shuffle, no per-column scans (the same shape as the oracle's FILTER
    * aggregates).
    */
  def pivotEventCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("user_bucket", col("user_id") % 10)
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L) // empty cells: count-of-nothing is 0, matching the oracle
      .orderBy("user_bucket")

  val pivotEventCountsOracle: String =
    """SELECT user_id % 10 AS user_bucket,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin

  /** Full CUBE over (mktsegment, nation-of-customer): all four grouping
    * combinations in one Expand-based aggregate pass. grouping_id
    * disambiguates real NULLs from subtotal rows (the standard CUBE trap).
    */
  def segmentNationCube(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .cube(col("c_mktsegment"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        grouping_id(col("c_mktsegment"), col("n_name")).as("gid"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("gid"), col("n_customers"))
      .orderBy("gid", "segment", "nation")
  }

  val segmentNationCubeOracle: String =
    """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
      |  coalesce(n_name, 'ALL') AS nation,
      |  grouping(c_mktsegment) * 2 + grouping(n_name) AS gid,
      |  count(*) AS n_customers
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE (c_mktsegment, n_name)
      |ORDER BY gid, segment, nation""".stripMargin

  /** Per-user click vs purchase counts via FULL OUTER join of two
    * aggregates — users appearing on either side survive with zeros on the
    * missing side (the join type the semi/anti coverage query leaves out).
    */
  def fullOuterActivity(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    def cnt(kind: String, as: String) =
      ev.filter(col("event_type") === kind)
        .groupBy("user_id").agg(count(lit(1)).as(as))
    cnt("click", "n_clicks")
      .join(cnt("purchase", "n_purchases"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy("user_id")
  }

  val fullOuterActivityOracle: String =
    """WITH c AS (SELECT user_id, count(*) AS n_clicks FROM events
      |  WHERE event_type = 'click' GROUP BY user_id),
      |p AS (SELECT user_id, count(*) AS n_purchases FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id)
      |SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |  coalesce(n_clicks, 0) AS n_clicks,
      |  coalesce(n_purchases, 0) AS n_purchases
      |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
      |ORDER BY user_id""".stripMargin

  /** Orders priced above their customer's average — correlated scalar
    * subqueries, which Catalyst de-correlates into aggregates + joins (no
    * per-row re-execution). The predicate is the cross-multiplied form
    * `price * n > sum` in DECIMAL: sums of scaled integers are exact and
    * associative, so the row set cannot flip with partial-aggregation
    * order the way a double `avg` could (order-dependent IEEE accumulation
    * is banished from every hash-compared surface in this repo).
    */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_custkey,
        |  CAST(o_totalprice AS DOUBLE) AS totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (
        |    SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |  > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders i
        |     WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val scalarSubqueryOracle: String =
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS totalprice
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (
      |    SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      |  > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders i
      |     WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Unpivot (melt): the pivoted matrix back to (bucket, event_type, cnt)
    * long form via Dataset.unpivot — the Expand-based inverse of
    * [[pivotEventCounts]], round-tripping to the plain groupBy counts.
    */
  def unpivotEventCounts(spark: SparkSession, dir: String): DataFrame =
    pivotEventCounts(spark, dir)
      .unpivot(Array(col("user_bucket")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "cnt")
      .filter(col("cnt") > 0) // drop pivot-filled empty cells: melt back to observed combos
      .orderBy("user_bucket", "event_type")

  val unpivotEventCountsOracle: String =
    """SELECT user_id % 10 AS user_bucket, event_type, count(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY user_bucket, event_type""".stripMargin

  /** Max event-time gap between consecutive funnel steps (24 h): a later
    * step only counts within this window of the previous one — without a
    * window, any sufficiently long event stream completes every funnel
    * and the depth column is vacuously 3.
    */
  val FunnelStepGapMs = 86400000L

  /** FUNNEL ANALYSIS — ordered step completion per user: the earliest
    * view, the earliest click within [[FunnelStepGapMs]] strictly after
    * that view, the earliest purchase within the window after that click
    * (the product-analytics "did the user progress view -> click ->
    * purchase, and when" query; MATCH_RECOGNIZE's first-match semantics
    * expressed relationally). Steps are chained conditional minima, not a
    * 3-way self-join of raw events: each stage joins the per-user
    * single-row result of the previous stage (at most |users| rows) back
    * to that user's events, so stage K costs one co-partitioned shuffle
    * on user_id and the intermediate never exceeds one row per user.
    * funnel_depth counts completed steps; later-step columns are NULL
    * once a step is missed.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("event_type"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ms").as("t_view"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts_ms") > col("t_view") && col("ts_ms") <= col("t_view") + FunnelStepGapMs)
      .groupBy("user_id").agg(min("ts_ms").as("t_click"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts_ms") > col("t_click") && col("ts_ms") <= col("t_click") + FunnelStepGapMs)
      .groupBy("user_id").agg(min("ts_ms").as("t_purchase"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .selectExpr("user_id", "t_view", "t_click", "t_purchase",
        """CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
          |     WHEN t_click IS NOT NULL THEN 2
          |     ELSE 1 END AS INTEGER) AS funnel_depth""".stripMargin)
      .orderBy("user_id")
  }

  val funnelOracle: String =
    s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
      |s1 AS (SELECT user_id, min(ts_ms) AS t_view FROM ev WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts_ms) AS t_click
      |  FROM ev e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts_ms > s1.t_view
      |    AND e.ts_ms <= s1.t_view + $FunnelStepGapMs GROUP BY 1
      |),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts_ms) AS t_purchase
      |  FROM ev e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts_ms > s2.t_click
      |    AND e.ts_ms <= s2.t_click + $FunnelStepGapMs GROUP BY 1
      |)
      |SELECT s1.user_id, t_view, t_click, t_purchase,
      |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
      |       WHEN t_click IS NOT NULL THEN 2
      |       ELSE 1 END AS INTEGER) AS funnel_depth
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** TIME-BUCKET GAP-FILL — densify a sparse event series: hourly counts
    * per event type INCLUDING empty hours as explicit zero rows over the
    * observed global range (downstream window/trend math breaks on
    * missing buckets). The dense grid is generated, not stored: one
    * 1-row min/max aggregate cross-joined with the distinct type list
    * and exploded via sequence() — grid size is |types| × hours, a
    * metadata-scale frame regardless of event volume; the only
    * data-proportional work is the counting aggregate itself. Integer
    * epoch-hour buckets via DIV (exact on both engines).
    */
  def gapfill(spark: SparkSession, dir: String): DataFrame = {
    val hourMs = 3600000L
    val ev = t(spark, dir, "events")
      .select(col("event_type"), expr(s"unix_millis(ts) DIV ${hourMs}L").as("hour_bucket"))
    val counts = ev.groupBy("event_type", "hour_bucket").agg(count(lit(1)).as("n_events"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(ev.agg(min("hour_bucket").as("h0"), max("hour_bucket").as("h1"))))
      .selectExpr("event_type", "explode(sequence(h0, h1)) AS hour_bucket")
    grid.join(counts, Seq("event_type", "hour_bucket"), "left")
      .selectExpr("event_type", "hour_bucket", "coalesce(n_events, 0L) AS n_events")
      .orderBy("event_type", "hour_bucket")
  }

  val gapfillOracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_bucket FROM events
      |),
      |counts AS (
      |  SELECT event_type, hour_bucket, CAST(count(*) AS BIGINT) AS n_events
      |  FROM ev GROUP BY 1, 2
      |),
      |bounds AS (SELECT min(hour_bucket) AS h0, max(hour_bucket) AS h1 FROM ev),
      |grid AS (
      |  SELECT t.event_type, g.hour_bucket
      |  FROM (SELECT DISTINCT event_type FROM ev) t
      |  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS hour_bucket FROM bounds) g
      |)
      |SELECT g.event_type, g.hour_bucket, coalesce(c.n_events, 0) AS n_events
      |FROM grid g LEFT JOIN counts c USING (event_type, hour_bucket)
      |ORDER BY g.event_type, g.hour_bucket""".stripMargin

  /** COHORT RETENTION — the other half of product analytics next to
    * [[funnel]]: users are grouped into weekly cohorts by their first
    * event, and each cohort's surviving distinct-user count is reported
    * per week offset (the "week 0 / week 1 / week N retention" triangle).
    * All integer arithmetic (epoch-week buckets), so cross-engine exact.
    * Two key-shuffles: first-event per user, then (cohort, offset)
    * distinct-user counts — both partial-aggregated map-side.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 7L * 86400000L
    val ev = t(spark, dir, "events")
      .select(col("user_id"),
        // integer DIV, not double `/`+cast: double division can land a
        // hair above an integer boundary and truncate to the wrong week
        expr(s"unix_millis(ts) DIV ${weekMs}L").as("wk"))
    val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .distinct()
      .groupBy("cohort_wk", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  val retentionOracle: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(epoch_ms(ts) // 604800000 AS BIGINT) AS wk FROM events
      |),
      |first AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
      |SELECT cohort_wk, week_offset, CAST(count(*) AS BIGINT) AS n_users
      |FROM (
      |  SELECT DISTINCT e.user_id, f.cohort_wk, e.wk - f.cohort_wk AS week_offset
      |  FROM ev e JOIN first f USING (user_id)
      |)
      |GROUP BY cohort_wk, week_offset
      |ORDER BY cohort_wk, week_offset""".stripMargin

  // -------------------------------------------------------------------------
  // Co-located fact-fact join over BUCKETED tables (the 100 TB join layout)
  // -------------------------------------------------------------------------

  /** Bucket count for the persisted layout. Small here because the verify
    * SF is small; at 100 TB you size this so one bucket's lineitem slice
    * fits an executor's sort buffer (thousands of buckets), and the ratio
    * between the two tables' counts must stay 1:1 (or an exact multiple)
    * for the co-located read to kick in.
    */
  val JoinBuckets = 8

  /** Persist orders and lineitem BUCKETED (and sorted) by the join key —
    * the write-side half of the co-located join: both tables hash-land
    * rows of one orderkey in the same bucket file, so the join below
    * never shuffles either fact table. This is the layout decision that
    * dominates fact-fact join cost at 100 TB — the shuffle it deletes is
    * the full lineitem table's worth of network — and it is exactly the
    * discipline [[graft.operators.Similarity.persistIvfIndex]] applies to
    * the ANN corpus (reference has no analogue; it delegates all joins to
    * flink-table's shuffle).
    */
  def persistBucketedFacts(spark: SparkSession, dir: String): Unit = {
    def bucketed(src: String, key: String) = s"graft_bkt_$src" -> (() =>
      t(spark, dir, src).write.mode("overwrite")
        .bucketBy(JoinBuckets, key).sortBy(key).saveAsTable(s"graft_bkt_$src"))
    // built once per source content and amortized over every join against
    // it — that amortization is the entire point at 100 TB
    graft.core.ModelTables.persistGroupIfStale(spark, dir)(
      bucketed("orders", "o_orderkey"), bucketed("lineitem", "l_orderkey"))
  }

  /** Revenue-by-priority over the bucketed layout: the orders⋈lineitem
    * join is a sort-merge join with ZERO exchanges below it (PlanSpec
    * pins this) — each task reads bucket i of both tables and merges in
    * place. The MERGE hint keeps the demonstration honest at verify SF,
    * where the default planner would broadcast the small side (a choice
    * that does not exist for two 100 TB facts). The only shuffle in the
    * whole query is the final 5-group rollup — which carries 5 rows per
    * partition after partial aggregation.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    persistBucketedFacts(spark, dir)
    val o = spark.table("graft_bkt_orders")
    val li = spark.table("graft_bkt_lineitem")
    o.hint("merge").join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).as("rev_d"))
      .select(col("o_orderpriority"), col("n_orders"), col("n_items"),
        col("rev_d").cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinOracle: String =
    """SELECT o_orderpriority,
      |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------------
  // Slowly-changing dimension (SCD type 2) build + temporal (as-of) table join
  // -------------------------------------------------------------------------

  /** "Open interval" sentinel for the newest version of each key — kept a
    * literal long (not NULL) so the version table has no nullable columns
    * and the containment predicate needs no null branch.
    */
  val Scd2OpenUs: Long = Long.MaxValue

  /** SCD type-2 version table of each user's activity segment (their
    * latest non-purchase event type), built from the events changelog:
    * consecutive runs of the same segment collapse to one version row
    * `(user_id, seg, valid_from_us, valid_to_us, version_no)` with
    * contiguous `[valid_from, valid_to)` intervals per user and the open
    * tail at [[Scd2OpenUs]]. This is the dimension-side half of Flink's
    * temporal table join (the reference's framework models it as a
    * versioned table function over a changelog; here the changelog IS a
    * table and the build is two window passes).
    *
    * Determinism: run boundaries order by (ts_us, event_id); same-
    * microsecond changes collapse to the LAST event so valid_from is
    * strictly increasing per user — no empty intervals, and an as-of
    * lookup is uniquely defined at every instant.
    *
    * Scale: both window passes partition by user_id — one shuffle of the
    * (bounded) change rows, no cross-key sort; version count is bounded by
    * the changelog's change count, not the fact volume.
    */
  def scd2Versions(events: DataFrame): DataFrame = {
    val ev = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("seg"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val ord = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val changes = ev
      .withColumn("prev_seg", lag(col("seg"), 1).over(ord))
      .filter(col("prev_seg").isNull || col("prev_seg") =!= col("seg"))
    val tsW = Window.partitionBy("user_id", "ts_us").orderBy(col("event_id").desc)
    val uniq = changes.withColumn("rn", row_number().over(tsW)).filter(col("rn") === 1)
    val vw = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    uniq
      .withColumn("version_no", row_number().over(vw))
      .withColumn("valid_to_us", coalesce(lead(col("ts_us"), 1).over(vw), lit(Scd2OpenUs)))
      .select(col("user_id"), col("seg"), col("ts_us").as("valid_from_us"),
        col("valid_to_us"), col("version_no"))
  }

  def scd2Build(spark: SparkSession, dir: String): DataFrame =
    scd2Versions(t(spark, dir, "events")).orderBy("user_id", "version_no")

  /** Shared CTE text: the oracle-side replica of [[scd2Versions]]. */
  private val scd2Cte: String =
    """ev AS (
      |  SELECT user_id, event_type AS seg, epoch_us(ts) AS ts_us, event_id
      |  FROM events WHERE event_type <> 'purchase'
      |), changes AS (
      |  SELECT * FROM (
      |    SELECT *, lag(seg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_seg
      |    FROM ev) WHERE prev_seg IS NULL OR prev_seg <> seg
      |), uniq AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
      |    FROM changes) WHERE rn = 1
      |), dim AS (
      |  SELECT user_id, seg, ts_us AS valid_from_us,
      |    coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
      |             9223372036854775807) AS valid_to_us,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS INT) AS version_no
      |  FROM uniq
      |)""".stripMargin

  val scd2BuildOracle: String =
    s"""WITH $scd2Cte
       |SELECT user_id, seg, valid_from_us, valid_to_us, version_no
       |FROM dim ORDER BY user_id, version_no""".stripMargin

  /** The purchase facts a temporal join enriches: one row per purchase
    * event with its exact event-time microsecond.
    */
  def purchaseFacts(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** Temporal (event-time as-of) table join: each fact row joins the
    * dimension version valid AT ITS EVENT TIME — Flink's
    * `FOR SYSTEM_TIME AS OF` temporal join, the version-aware upgrade of
    * the reference's enrichment joins. Spark has no native as-of join;
    * the scalable composition is a hash EQUI-join on the key with the
    * interval containment as a post-join filter: versions of one key are
    * bounded by its change count, so the equi-join's fan-out is bounded
    * and there is no range cross-join or per-row sort. The dimension side
    * is broadcast here (a version table is change-bounded, orders of
    * magnitude smaller than the fact stream); at dimension volumes past
    * broadcast size the same plan shuffles both sides on user_id —
    * nothing in the shape changes.
    *
    * Facts with no version yet valid (before the key's first change) drop,
    * matching ASOF JOIN inner semantics — the oracle states the same join
    * through DuckDB's NATIVE `ASOF JOIN`, an independent formulation.
    */
  def temporalJoinOn(facts: DataFrame, dim: DataFrame): DataFrame =
    facts.join(broadcast(dim),
        facts("user_id") === dim("user_id") &&
          dim("valid_from_us") <= facts("ts_us") &&
          facts("ts_us") < dim("valid_to_us"))
      .select(facts("event_id"), facts("user_id"), dim("seg"),
        dim("version_no").as("seg_version"), facts("ts_us"), facts("value"))

  def temporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    temporalJoinOn(purchaseFacts(events), scd2Versions(events))
      .orderBy("event_id")
  }

  val temporalJoinOracle: String =
    s"""WITH $scd2Cte, facts AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
       |  FROM events WHERE event_type = 'purchase'
       |)
       |SELECT f.event_id, f.user_id, d.seg, d.version_no AS seg_version, f.ts_us, f.value
       |FROM facts f ASOF JOIN dim d
       |  ON f.user_id = d.user_id AND f.ts_us >= d.valid_from_us
       |ORDER BY f.event_id""".stripMargin

  /** The SAME logical as-of join as [[temporalJoinOn]], planned for the
    * regime where the equi-join form degrades: a dimension too big to
    * broadcast AND hot keys with huge version counts (the equi-join
    * fan-out is facts × versions per key before the interval filter).
    * This form is the sort-merge as-of: union the tagged version and fact
    * rows, ONE shuffle on the key, one per-partition sort, and a
    * running `last(..., ignoreNulls)` carries each key's current version
    * onto every fact row — zero joins, zero fan-out, cost O(facts +
    * versions) regardless of per-key version counts (the
    * [[asofAttribution]] pattern generalized to two tables). Versions
    * sort BEFORE facts at equal timestamps (`is_dim` DESC) so a version
    * opening at the fact's exact microsecond is visible, matching the
    * equi-join form's `valid_from <= ts`.
    *
    * Same output, same ASOF oracle — an equality spec pins the two plans
    * to each other, and PlanSpec pins this one to exactly one exchange
    * and no join operator.
    */
  def temporalJoinSorted(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val dim = scd2Versions(events).select(
      col("user_id"), col("seg"), col("valid_from_us").as("ts_us"),
      col("version_no"),
      lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
      lit(1).as("is_dim"))
    val facts = purchaseFacts(events).select(
      col("user_id"), lit(null).cast("string").as("seg"), col("ts_us"),
      lit(null).cast("int").as("version_no"),
      col("event_id"), col("value"), lit(0).as("is_dim"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc_nulls_last, col("is_dim").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("cur_seg",
        last(when(col("is_dim") === 1, col("seg")), ignoreNulls = true).over(w))
      .withColumn("cur_ver",
        last(when(col("is_dim") === 1, col("version_no")), ignoreNulls = true).over(w))
      .filter(col("is_dim") === 0 && col("cur_seg").isNotNull)
      .select(col("event_id"), col("user_id"), col("cur_seg").as("seg"),
        col("cur_ver").as("seg_version"), col("ts_us"), col("value"))
      .orderBy("event_id")
  }
}
