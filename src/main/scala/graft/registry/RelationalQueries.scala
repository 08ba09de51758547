package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.schema.ExportSchema
import graft.transform.{ExportTransform, ValueFormat}

import SparkHelpers._
import SqlHelpers._

/** The suite's the star-schema and event-table analytics built from Spark's
  * own relational operators (joins, windows, grouping sets, set operations)
  * and the small layout/skew/range-join operators. */
private[graft] object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q01_pricing_summary", ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q02_top_customers", ((s, dir) => {
      // customer is SF-LINEAR (entity-scale at 100 TB): the join stays
      // unhinted so AQE broadcasts only when the side is genuinely
      // small — a forced hint would bypass the size check and OOM
      val c = t(s, dir, "customer")
      t(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 10""".stripMargin),

    QuerySpec("q03_shipping_priority", ((s, dir) => {
      // the segment filter trims customer ~5x but it stays SF-linear —
      // unhinted, AQE picks broadcast only when actually small
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(20)
    }),
      """SELECT o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin),

    QuerySpec("q05_region_revenue", ((s, dir) => {
      // nation (25) and region (5) are FIXED-cardinality — broadcast by
      // construction; supplier is SF-linear, so its join stays unhinted
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      val supplier = t(s, dir, "supplier")
      val customer = t(s, dir, "customer")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    QuerySpec("q04_order_priority", ((s, dir) => {
      // TPC-H Q4 shape: conditional semi-join + count per priority
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey")
            && col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    QuerySpec("q06_forecast_revenue", ((s, dir) => {
      // TPC-H Q6 shape: tight filter + single global aggregate
      t(s, dir, "lineitem")
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))
    }),
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),

    QuerySpec("q10_semi_join", ((s, dir) => {
      // semi/anti joins only need key EXISTENCE: distinct the fact-side
      // key first so the exchange carries one row per key (map-side
      // partial dedup) instead of every order, and the collapsed side
      // broadcasts again at scale — semantics unchanged
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
            .distinct(),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("q11_anti_join", ((s, dir) => {
      // anti-join against URGENT orders only: every customer has SOME
      // order in the synthetic data, so the unfiltered variant returned 0
      // rows at verify scale and the oracle match was vacuous. The
      // filtered probe side exercises the anti-join positively (203 rows
      // at sf0.01) and still collapses to distinct keys before the join.
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("c_custkey"))
            .distinct(),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("q12_window_topn", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy(col("o_custkey"), col("rk"))
    }),
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) sub
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin),

    QuerySpec("q13_running_sum", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"),
          sum(col("l_extendedprice").cast("decimal(38,6)")).over(w)
            .cast("double").as("running_rev"))
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
    }),
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin),

    QuerySpec("q14_distinct_agg", ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_suppkey"))
    }),
      """SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),

    QuerySpec("q15_set_except", ((s, dir) => {
      // nations with customers but no negative-balance supplier: the
      // unfiltered except (customer nations \ supplier nations) is empty
      // at every scale — all 25 nations carry both — so the gate never
      // saw EXCEPT produce a row. Filtered, it returns 21 rows at sf0.01.
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
        .except(t(s, dir, "supplier").filter(col("s_acctbal") < 0)
          .select(col("s_nationkey").as("nationkey"))
          .distinct())
        .orderBy(col("nationkey"))
    }),
      """SELECT nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        |  WHERE s_acctbal < 0) sub
        |ORDER BY nationkey""".stripMargin),

    QuerySpec("q16_rollup", ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    QuerySpec("q18_cube", ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    QuerySpec("q17_highwater", ((s, dir) => {
      // A2 high-water mark parity (reference: warehouse/redshift.go:342)
      t(s, dir, "orders")
        .agg(max(col("o_orderdate")).as("max_orderdate"),
          min(col("o_orderdate")).as("min_orderdate"),
          count(lit(1)).as("n"))
    }),
      """SELECT max(o_orderdate) AS max_orderdate,
        |  min(o_orderdate) AS min_orderdate, COUNT(*) AS n
        |FROM orders""".stripMargin),

    QuerySpec("q21_evt_json", ((s, dir) => {
      // CustomVars JSON extraction (reference: README.md:113-120)
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))
    }),
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    QuerySpec("q23_evt_highwater", ((s, dir) => {
      t(s, dir, "events").agg(max(col("ts")).as("high_water"),
        count(lit(1)).as("n"))
    }),
      "SELECT max(ts) AS high_water, COUNT(*) AS n FROM events"),

    QuerySpec("q24_evt_gofmt", ((s, dir) => {
      // P6 Go RFC3339Micro trailing-zero trim (warehouse/warehouse.go:59-65)
      t(s, dir, "events")
        .select(col("event_id"),
          ValueFormat.goRfc3339Micro(col("ts")).as("event_start_str"))
        .orderBy(col("event_id"))
    }),
      """SELECT event_id,
        |  regexp_replace(regexp_replace(
        |    strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ'),
        |    '(\.\d*?)0+Z$', '\1Z'), '\.Z$', 'Z') AS event_start_str
        |FROM events ORDER BY event_id""".stripMargin),

    QuerySpec("q25_evt_export", ((s, dir) => {
      // The hauser record transform end-to-end on the events table:
      // case-insensitive schema match, custom-var spillover, live-order
      // staged strings (reference: internal/service.go:72-119).
      val renamed = t(s, dir, "events").select(
        col("event_id").as("IndvId"), col("user_id").as("UserId"),
        col("ts").as("EventStart"), col("event_type").as("EventType"),
        col("value").as("evt_value_real"), col("props").as("evt_props_str"))
      val schema = ExportSchema.reconcileWithExisting(
        Seq("IndvId", "UserId", "EventStart", "EventType", "CustomVars"))
      ExportTransform.toStagedStrings(renamed, schema)
        .select(col("IndvId"), col("UserId"), col("EventStart"),
          col("EventType"), col("CustomVars"))
        .orderBy(col("IndvId").cast("long"))
    }),
      """SELECT CAST(event_id AS VARCHAR) AS IndvId,
        |  CAST(user_id AS VARCHAR) AS UserId,
        |  regexp_replace(regexp_replace(
        |    strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ'),
        |    '(\.\d*?)0+Z$', '\1Z'), '\.Z$', 'Z') AS EventStart,
        |  event_type AS EventType,
        |  '{"evt_value_real":"' || CAST(value AS VARCHAR)
        |    || '","evt_props_str":"'
        |    || replace(replace(props, '\', '\\'), '"', '\"')
        |    || '"}' AS CustomVars
        |FROM events ORDER BY event_id""".stripMargin),

    QuerySpec("q19_approx_distinct", ((s, dir) => {
      // HLL++ estimates are engine-specific, but the documented error
      // bound is not: emit exact distinct counts (engine-portable) plus
      // booleans asserting each sketch landed within 3*rsd of exact. The
      // oracle emits TRUE for the booleans, so a sketch drifting out of
      // bound hash-mismatches instead of hiding behind `no_oracle`.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count_distinct(col("l_partkey")).as("exact_parts"),
          count_distinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_partkey"), 0.05).as("ap"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts"))
            <= col("exact_parts") * lit(3 * 0.05)).as("parts_within_tol"),
          (abs(col("ao") - col("exact_orders"))
            <= col("exact_orders") * lit(3 * 0.01)).as("orders_within_tol"))
        .orderBy(col("l_returnflag"))
    }),
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_within_tol,
        |  TRUE AS orders_within_tol
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    QuerySpec("q26_evt_props_agg", ((s, dir) => {
      // aggregate over a JSON-extracted custom-var key; from_json parses
      // the document once (get_json_object re-parses per path — q21 keeps
      // it as the JSON_EXTRACT_PATH_TEXT parity form)
      t(s, dir, "events")
        .groupBy((from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType)))).getField("k") % 10)
          .as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
        .orderBy(col("k_bucket"))
    }),
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    QuerySpec("q27_evt_minmax_by", ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("event_id"), col("ts")).as("last_event_id"),
          min_by(col("event_id"), col("ts")).as("first_event_id"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }),
      """SELECT user_id, max_by(event_id, ts) AS last_event_id,
        |  min_by(event_id, ts) AS first_event_id, COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    QuerySpec("q28_evt_moving_avg", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (sum(col("value").cast("decimal(38,6)")).over(w).cast("double")
            / count(lit(1)).over(w)).as("moving_avg"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),
      """SELECT user_id, ts, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS moving_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),

    QuerySpec("q51_percentiles", ((s, dir) => {
      // exact interpolated percentiles (Spark percentile == DuckDB
      // quantile_cont); the sketch-based approx path is q19
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("med_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS med_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    QuerySpec("q49_union_all", ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"),
          lit("customer").as("side"))
        .unionByName(t(s, dir, "supplier")
          .select(col("s_nationkey").as("nationkey"),
            lit("supplier").as("side")))
        .groupBy(col("nationkey"), col("side"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"), col("side"))
    }),
      """SELECT nationkey, side, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
        |) u GROUP BY nationkey, side ORDER BY nationkey, side""".stripMargin),

    QuerySpec("q50_set_intersect", ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .distinct()
        .intersect(t(s, dir, "supplier")
          .select(col("s_nationkey").as("nationkey")).distinct())
        .orderBy(col("nationkey"))
    }),
      """SELECT nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier) s
        |ORDER BY nationkey""".stripMargin),

    // q52 runs on a bucketed-by-orderkey persisted copy of both fact
    // tables: the sort-merge join consumes bucket layout directly, no
    // Exchange below the join. q53 is the identical query on the raw
    // parquet (SMJ forced, both sides shuffle) — the bench delta IS the
    // per-query cost of the shuffle that bucketing amortizes to write
    // time. Results are bit-identical; both share one oracle query.

    QuerySpec("q52_join_bucketed", ((s, dir) => {
      val (li, o) = bucketedFacts(s, dir)
      factJoinAgg(li, o)
    }),
      // q52/q53 are the same logical query (bucketed vs shuffled physical
      // plan) — one oracle text, two entries
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      warmIndex = true),

    QuerySpec("q53_join_shuffled", ((s, dir) =>
      factJoinAgg(t(s, dir, "lineitem"), t(s, dir, "orders"))),
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    QuerySpec("q63_hash_split", ((s, dir) => {
      // reproducible train/val/test assignment by content-independent id
      // hash — the large-pipeline idiom for deterministic, engine-portable
      // splits (no rand(), no sampleBy: a retry or a different engine
      // produces the identical split). 16 buckets on the first md5 hex
      // char: 12/2/2 = 75%/12.5%/12.5%
      val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
      val split = when(bucket < lit("c"), lit("train"))
        .when(bucket < lit("e"), lit("val"))
        .otherwise(lit("test"))
      t(s, dir, "documents")
        .select(col("doc_id"), split.as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    }),
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train'
        |    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
        |      THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, COUNT(*) AS n, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin),

    QuerySpec("q59_evt_pivot", ((s, dir) => {
      // pivot with an explicit value list (deterministic schema — an
      // inferred list would need an extra distinct pass over the corpus)
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .orderBy(col("day"))
    }),
      // conditional aggregation == pivot with an explicit value list (both
      // yield NULL for absent (day, type) combinations)
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
        |    AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
        |    AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
        |    AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT)
        |    AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
        |    AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin),

    QuerySpec("q60_grouping_sets", ((s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin),

    QuerySpec("q61_unpivot", ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    }),
      """SELECT l_orderkey, l_linenumber, metric, val
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity,
        |        l_extendedprice, l_discount, l_tax
        |      FROM lineitem WHERE l_orderkey < 1000)
        |UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice,
        |  l_discount, l_tax))
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),

    QuerySpec("q93_temperature_mix", ((s, dir) => {
      // temperature-flattened language mixture (the multilingual
      // pretraining idiom, mT5/XLM-R τ-sampling): sampling weight
      // w_i ∝ n_i^τ with τ = 0.5 flattens the Zipf head and boosts tail
      // languages; target size M = half the corpus; per-language keep
      // probability p_i = M·w_i/n_i realized by the same deterministic
      // md5-hash threshold as q67 (no rand(); retry/engine-stable).
      // τ = 0.5 deliberately uses sqrt (IEEE-exact in both engines, no
      // pow() libm drift) and the weight denominator accumulates in
      // DECIMAL(38,6) so partial-agg order can't flip a bit.
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      val tot = counts.agg(sum(col("n_total")).as("n_corpus"),
        sum(sqrt(col("n_total").cast("double")).cast("decimal(38,6)"))
          .cast("double").as("sw"))
      val thr = counts.crossJoin(tot)
        .withColumn("p",
          floor(col("n_corpus") / 2).cast("double")
            * sqrt(col("n_total").cast("double")) / col("sw")
            / col("n_total").cast("double"))
        .withColumn("thr", lower(lpad(hex(least(
          floor(col("p") * lit(4294967296L)).cast("long"),
          lit(4294967295L))), 8, "0")))
        .withColumn("w",
          round(sqrt(col("n_total").cast("double")) / col("sw"), 6))
        .select(col("lang"), col("n_total"), col("w"), col("thr"))
      docs.join(operators.Hints.boundedBroadcast(thr, "lang_domain"),
          Seq("lang"))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 8)
          < col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"))
        .join(thr.select(col("lang"), col("n_total"), col("w")), Seq("lang"))
        .select(col("lang"), col("n_total"), col("w"), col("n_kept"))
        .orderBy(col("lang"))
    }),
      """WITH counts AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT SUM(n_total) AS n_corpus,
        |    CAST(SUM(CAST(sqrt(CAST(n_total AS DOUBLE)) AS DECIMAL(38,6)))
        |      AS DOUBLE) AS sw
        |  FROM counts
        |), thr AS (
        |  SELECT lang, n_total,
        |    round(sqrt(CAST(n_total AS DOUBLE)) / sw, 6) AS w,
        |    lower(lpad(hex(LEAST(CAST(FLOOR(
        |      (CAST(FLOOR(n_corpus / 2) AS DOUBLE)
        |        * sqrt(CAST(n_total AS DOUBLE)) / sw
        |        / CAST(n_total AS DOUBLE)) * 4294967296) AS BIGINT),
        |      4294967295)), 8, '0')) AS t
        |  FROM counts, tot
        |), kept AS (
        |  SELECT d.lang FROM documents d JOIN thr USING (lang)
        |  WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.t)
        |SELECT k.lang, t.n_total, t.w, CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM kept k JOIN thr t USING (lang)
        |GROUP BY k.lang, t.n_total, t.w ORDER BY k.lang""".stripMargin),

    QuerySpec("q67_doc_mix", ((s, dir) => {
      // deterministic mixture rebalancing: downsample every language to
      // the smallest language's share (the pretraining "uniform mixture"
      // resample) by hash threshold, not rand()/sampleBy — a retry or a
      // different engine keeps the identical document set. Keep rule:
      // first 8 md5 hex chars of doc_id < lpad(hex(floor(p*2^32)))
      // (lexicographic == numeric for fixed-width lowercase hex); p
      // clamped to (2^32-1)/2^32 so the 8-digit pad never truncates.
      // Threshold derivation is a tiny two-level aggregate broadcast back
      // — no window, no shuffle of the corpus beyond the final group-by.
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      val thr = counts.crossJoin(counts.agg(min(col("n_total")).as("minc")))
        .withColumn("thr", lower(lpad(hex(least(
          floor((col("minc").cast("double") / col("n_total").cast("double"))
            * lit(4294967296L)).cast("long"),
          lit(4294967295L))), 8, "0")))
        .select(col("lang"), col("n_total"), col("thr"))
      docs.join(operators.Hints.boundedBroadcast(thr, "lang_domain"),
          Seq("lang"))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 8)
          < col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .join(thr.select(col("lang"), col("n_total")), Seq("lang"))
        .select(col("lang"), col("n_total"), col("n_kept"), col("min_id"),
          col("max_id"))
        .orderBy(col("lang"))
    }),
      """WITH counts AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total
        |  FROM documents GROUP BY lang
        |), m AS (SELECT MIN(n_total) AS minc FROM counts),
        |thr AS (
        |  SELECT lang, n_total,
        |    lower(lpad(hex(LEAST(
        |      CAST(FLOOR((CAST(minc AS DOUBLE) / CAST(n_total AS DOUBLE))
        |        * 4294967296) AS BIGINT),
        |      4294967295)), 8, '0')) AS t
        |  FROM counts, m
        |), kept AS (
        |  SELECT d.lang, d.doc_id FROM documents d JOIN thr USING (lang)
        |  WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.t)
        |SELECT lang, thr.n_total,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM kept JOIN thr USING (lang)
        |GROUP BY lang, thr.n_total ORDER BY lang""".stripMargin),

    QuerySpec("q45_emb_centroid", ((s, dir) => {
      // per-label mean embedding: vector aggregation via posexplode
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          col("v").cast("double").cast("decimal(38,20)").as("vd"))
        .groupBy(col("label"), col("pos"))
        // round(9) absorbs the 1-ulp divergence of decimal->double
        // conversion between engines
        .agg(round(sum(col("vd")).cast("double") / count(lit(1)), 9)
          .as("mean_val"), count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("pos"))
    }),
      """SELECT label, CAST(pos AS BIGINT) AS pos,
        |  round(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE)
        |    / COUNT(*), 9) AS mean_val,
        |  COUNT(*) AS n_vecs
        |FROM (SELECT label, unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings) u
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin),

    QuerySpec("q95_shard_plan", ((s, dir) => {
      // the training-data writer's manifest: deterministic md5 shard
      // assignment (the q63 idiom — no rand(), identical shards on retry
      // or on another engine) + per-shard row/byte/source totals and the
      // key range each sorted shard file will span. One partial-combined
      // aggregation; the actual file write is Sharding.writeShards (spec
      // covers the round trip — a manifest row per written directory).
      operators.Sharding.shardStats(t(s, dir, "documents"))
        .orderBy(col("shard"))
    }),
      """WITH k AS (
        |  SELECT doc_id, n_chars, source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS shard_key,
        |    CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1)
        |      for i in range(0, 8)]) AS BIGINT) % 16 AS shard
        |  FROM documents)
        |SELECT CAST(shard AS INT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  MIN(shard_key) AS first_key, MAX(shard_key) AS last_key
        |FROM k GROUP BY shard ORDER BY shard""".stripMargin),

    QuerySpec("q96_quantile_sketch", ((s, dir) => {
      // the sketch family at 100 TB: per-type KLL quantile sketch
      // (approx_percentile) alongside q19's HLL distinct. Sketch outputs
      // are engine-private, so the q19 gate pattern applies: emit exact,
      // portable values plus booleans asserting each sketch landed inside
      // its documented error bound — the oracle emits TRUE, and a sketch
      // drifting out of bound hash-mismatches instead of hiding. The
      // quantile gate checks RANK (share of values <= the sketch's p50 /
      // p95) — the only thing a KLL sketch actually promises; tolerance
      // = 0.02 + 2/n for the value-at-rank discretization of small types.
      val ev = t(s, dir, "events")
      val sk = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), 0.02).as("au"),
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)),
          lit(10000)).as("ap"))
      val ranks = ev
        .join(operators.Hints.boundedBroadcast(
            sk.select(col("event_type"), col("ap")), "event_type_domain"),
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(avg((col("value") <= col("ap")(0)).cast("double")).as("r50"),
          avg((col("value") <= col("ap")(1)).cast("double")).as("r95"))
      val tol = lit(0.02) + lit(2.0) / col("n_events").cast("double")
      sk.join(ranks, Seq("event_type"))
        .select(col("event_type"), col("n_events"), col("n_users"),
          (abs(col("au") - col("n_users"))
            <= col("n_users") * lit(3 * 0.02)).as("users_within_tol"),
          (abs(col("r50") - lit(0.5)) <= tol).as("p50_rank_ok"),
          (abs(col("r95") - lit(0.95)) <= tol).as("p95_rank_ok"))
        .orderBy(col("event_type"))
    }),
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  TRUE AS users_within_tol,
        |  TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("q100_event_context", ((s, dir) => {
      // sequence-model training examples from the event log: per-user
      // time-ordered (3-event context -> next event) windows, aggregated
      // to the context->next distribution a behavioral-cloning /
      // next-event model trains on. The lag window partitions by
      // user_id — per-user state is bounded and users are many, so the
      // exchange spreads evenly (the per-entity window that IS the right
      // shape at 100 TB, unlike a corpus-global window); the trigram
      // distribution then partial-combines.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("p1", lag(col("event_type"), 1).over(w))
        .withColumn("p2", lag(col("event_type"), 2).over(w))
        .withColumn("p3", lag(col("event_type"), 3).over(w))
        .filter(col("p3").isNotNull)
        .groupBy(col("p3"), col("p2"), col("p1"),
          col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("p3"), col("p2"), col("p1"), col("next_type"))
    }),
      """WITH lagged AS (
        |  SELECT event_type AS next_type,
        |    lag(event_type, 1) OVER w AS p1,
        |    lag(event_type, 2) OVER w AS p2,
        |    lag(event_type, 3) OVER w AS p3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT p3, p2, p1, next_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lagged WHERE p3 IS NOT NULL
        |GROUP BY p3, p2, p1, next_type
        |ORDER BY p3, p2, p1, next_type""".stripMargin),

    QuerySpec("q101_funnel", ((s, dir) => {
      // ordered funnel over the behavioral event log (the reference's
      // export feeds exactly this class of warehouse query): users who
      // viewed, then clicked strictly after their first view, then
      // purchased strictly after that click. Each stage is one
      // aggregation + an equi-join on user_id — every exchange keys on
      // the same column so the shuffles line up (and AQE can reuse the
      // exchange); no per-user window, no event-sequence explosion.
      val ev = t(s, dir, "events")
      def stage(typ: String, prev: DataFrame, prevTs: String,
                out: String): DataFrame =
        ev.filter(col("event_type") === typ)
          .join(prev, Seq("user_id"))
          .filter(col("ts") > col(prevTs))
          .groupBy(col("user_id")).agg(min(col("ts")).as(out))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = stage("click", s1, "t1", "t2")
      val s3 = stage("purchase", s2, "t2", "t3")
      def cnt(df: DataFrame, idx: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
            col("n_users"))
      cnt(s1, 1, "view").unionByName(cnt(s2, 2, "click"))
        .unionByName(cnt(s3, 3, "purchase"))
        .orderBy(col("stage_idx"))
    }),
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |  GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |  GROUP BY e.user_id
        |)
        |SELECT stage_idx, stage, n_users FROM (
        |  SELECT 1 AS stage_idx, 'view' AS stage,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'click',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
        |  UNION ALL SELECT 3, 'purchase',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
        |ORDER BY stage_idx""".stripMargin),

    QuerySpec("q102_retention", ((s, dir) => {
      // cohort retention matrix: users bucketed by first-active day,
      // counted on each later active day within the first week. Two
      // aggregations + one join, all keyed on user_id; the matrix
      // partial-combines. The (user, day) distinct is the only extra
      // exchange — exactly the dedup a retention query must pay.
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
        .filter(col("day_offset") <= 7)
        .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd")
          .as("cohort_day"), col("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), f AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
        |)
        |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(datediff('day', f.cohort_day, d.day) AS INT) AS day_offset,
        |  CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_users
        |FROM d JOIN f USING (user_id)
        |WHERE datediff('day', f.cohort_day, d.day) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("q104_error_spikes", ((s, dir) => {
      // operational anomaly detection on the event stream: days whose
      // error rate exceeds 2x the trailing-7-day mean rate. The corpus
      // collapses to one row per day FIRST (partial-combined counts —
      // the only full-data pass), so the trailing window runs over a
      // driver-scale day series; rates compare through DECIMAL(38,18)
      // cross-products (rate > 2*mean <=> errs*prior_events >
      // 2*events*prior_errs) — no double division on either engine.
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
      val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
      daily
        .withColumn("prior_events", sum(col("n_events")).over(w))
        .withColumn("prior_errors", sum(col("n_errors")).over(w))
        .filter(col("prior_events").isNotNull)
        .select(col("day"), col("n_events"), col("n_errors"),
          (col("n_errors").cast("decimal(38,18)") * col("prior_events")
            > col("n_events").cast("decimal(38,18)") * col("prior_errors")
              * lit(2)).as("spike"))
        .orderBy(col("day"))
    }),
      """WITH daily AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_errors
        |  FROM events GROUP BY 1
        |), trail AS (
        |  SELECT day, n_events, n_errors,
        |    SUM(n_events) OVER w AS prior_events,
        |    SUM(n_errors) OVER w AS prior_errors
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT day, n_events, n_errors,
        |  (CAST(n_errors AS DECIMAL(38,18)) * prior_events
        |    > CAST(n_events AS DECIMAL(38,18)) * prior_errors * 2) AS spike
        |FROM trail WHERE prior_events IS NOT NULL
        |ORDER BY day""".stripMargin),

    QuerySpec("q109_interval_join", ((s, dir) => {
      // interval join via bin bucketing: every event within ±10 min of an
      // error by the same user (incident-context extraction). A raw
      // ts-BETWEEN join plans as a per-key cross product — a power user's
      // events × errors — so RangeJoin routes candidates through a
      // (user_id, time-bin) equi-join (bin 1200 s = the window span, so an
      // interval spans ≤ 2 bins) and the exact containment is a residual
      // filter. Pairs-per-bin bound the work, not pairs-per-user.
      val ev = t(s, dir, "events")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts").as("err_ts"),
          (col("ts") - expr("INTERVAL 600 SECONDS")).as("w_start"),
          (col("ts") + expr("INTERVAL 600 SECONDS")).as("w_end"))
      operators.RangeJoin.intervalJoin(
          ev.select(col("user_id"), col("event_id"), col("ts")),
          errs, binSeconds = 1200)
        .filter(col("event_id") =!= col("err_id"))
        .select(col("user_id"), col("event_id"), col("err_id"),
          abs(unix_micros(col("ts")) - unix_micros(col("err_ts")))
            .as("gap_us"))
        .orderBy(col("user_id"), col("event_id"), col("err_id"))
    }),
      """SELECT e.user_id, e.event_id, r.event_id AS err_id,
        |  abs(epoch_us(e.ts) - epoch_us(r.ts)) AS gap_us
        |FROM events e JOIN events r
        |  ON e.user_id = r.user_id AND r.event_type = 'error'
        | AND e.ts BETWEEN r.ts - INTERVAL 600 SECOND
        |              AND r.ts + INTERVAL 600 SECOND
        | AND e.event_id <> r.event_id
        |ORDER BY 1, 2, 3""".stripMargin),

    QuerySpec("q111_range_window", ((s, dir) => {
      // trailing 1-hour per-user activity via a RANGE window frame (frame
      // bounds in event-time units, not row counts — the time-based
      // sibling of q28's rows frame). The sum accumulates in
      // DECIMAL(38,6) so partial order can't flip a bit.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-3600, 0)
      t(s, dir, "events")
        .withColumn("ts_s", col("ts").cast("long"))
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(38,6)")).over(w)
            .cast("double").as("sum_1h"))
        .orderBy(col("user_id"), col("event_id"))
    }),
      """SELECT user_id, event_id, ts,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM (SELECT user_id, event_id, ts, value,
        |        CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    QuerySpec("q115_snapshot_diff", ((s, dir) => {
      // corpus version diff: snapshot OLD (doc_id % 7 <> 3) vs snapshot
      // NEW (doc_id % 11 <> 5, every doc_id % 5 == 0 body edited) —
      // added/removed/modified/unchanged by content md5. Hashes form
      // map-side; the full-outer join shuffles (id, hash) only, never
      // document bodies.
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 11 =!= 5)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      operators.SnapshotDiff.diff(oldSnap, newSnap)
        .orderBy(col("doc_id"))
    }),
      """WITH old_snap AS (
        |  SELECT doc_id, md5(text) AS old_hash FROM documents
        |  WHERE doc_id % 7 <> 3
        |), new_snap AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |        ELSE text END) AS new_hash
        |  FROM documents WHERE doc_id % 11 <> 5
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.old_hash IS NULL THEN 'added'
        |       WHEN n.new_hash IS NULL THEN 'removed'
        |       WHEN o.old_hash = n.new_hash THEN 'unchanged'
        |       ELSE 'modified' END AS status,
        |  o.old_hash, n.new_hash
        |FROM old_snap o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("q119_salted_join", ((s, dir) => {
      // explicit skew salting with EXACT join semantics: the event fact
      // side takes a deterministic row-hash salt, the user dimension
      // explodes `salts` ways, and the join key becomes (key, salt) —
      // each hot key spreads over 8 reducers. The oracle is the PLAIN
      // join aggregate: salting must change the shuffle layout and
      // nothing else.
      val ev = t(s, dir, "events")
      val dim = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      operators.Skew.saltedJoin(
          ev.select(col("user_id"), col("event_id"), col("value")),
          dim)
        .groupBy(col("user_id"), col("n_events"))
        .agg(count(lit(1)).as("n_joined"),
          sum(col("value").cast("decimal(38,6)")).cast("double")
            .as("sum_value"))
        .orderBy(col("user_id"))
    }),
      """WITH dim AS (
        |  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
        |)
        |SELECT e.user_id, d.n_events, COUNT(*) AS n_joined,
        |  CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY e.user_id, d.n_events
        |ORDER BY e.user_id""".stripMargin),

    QuerySpec("q121_winsorized_mean", ((s, dir) => {
      // robust per-type value statistics: exact p05/p95 (one tiny per-type
      // percentile aggregate, broadcast back), values clipped to the
      // fences map-side, mean in DECIMAL(38,6) — outlier-robust metric
      // aggregation without a UDF or a second full sort.
      val ev = t(s, dir, "events")
      val fences = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
      ev.join(operators.Hints.boundedBroadcast(fences, "event_type_domain"),
        Seq("event_type"))
        .select(col("event_type"),
          least(greatest(col("value"), col("lo")), col("hi")).as("w"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("w").cast("decimal(38,6)")).cast("double")
            / count(lit(1)), 9).as("winsorized_mean"))
        .orderBy(col("event_type"))
    }),
      """WITH fences AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(
        |      least(greatest(e.value, f.lo), f.hi) AS DECIMAL(38,6)))
        |    AS DOUBLE) / COUNT(*), 9) AS winsorized_mean
        |FROM events e JOIN fences f USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin),

    QuerySpec("q122_temporal_split", ((s, dir) => {
      // temporal train/test split with a leakage guard — eval hygiene
      // for behavioral models: events split at a time cutoff, then each
      // split reports how much of it comes from users who ALSO appear on
      // the other side (the leaked population a user-disjoint protocol
      // must exclude). JOIN-FREE at any scale: the presence table is
      // user-cardinality (entity-scale at 100 TB — round 8 force-
      // broadcast it back over the corpus, the one plan class that OOMs
      // a 100x scale-up), but the verdict never needed the re-join. The
      // ONLY corpus exchange is one partial-combined (user, split)
      // count; per-user presence and both splits' event/user/clean
      // tallies all derive from that bounded table.
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-22 00:00:00"))
      val uc = t(s, dir, "events")
        .withColumn("split",
          when(col("ts") < cutoff, lit("train")).otherwise(lit("test")))
        .groupBy(col("user_id"), col("split"))
        .agg(count(lit(1)).as("c"))
      val u = uc.groupBy(col("user_id")).agg(
        sum(when(col("split") === "train", col("c")).otherwise(0L))
          .as("ct"),
        sum(when(col("split") === "test", col("c")).otherwise(0L))
          .as("cte"))
      // each user emits its (split, own-count, other-side-count) rows;
      // a user absent from a split contributes nothing to it (n = 0)
      u.select(explode(array(
          struct(lit("train").as("split"), col("ct").as("n"),
            col("cte").as("other")),
          struct(lit("test").as("split"), col("cte").as("n"),
            col("ct").as("other")))).as("e"))
        .select(col("e.split").as("split"), col("e.n").as("n"),
          col("e.other").as("other"))
        .filter(col("n") > 0)
        .groupBy(col("split"))
        .agg(sum(col("n")).as("n_events"),
          count(lit(1)).as("n_users"),
          sum(when(col("other") === 0, col("n")).otherwise(0L))
            .as("n_clean_events"))
        .orderBy(col("split"))
    }),
      """WITH tagged AS (
        |  SELECT user_id,
        |    CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00'
        |      THEN 'train' ELSE 'test' END AS split
        |  FROM events
        |), us AS (
        |  SELECT user_id,
        |    bool_or(split = 'train') AS in_tr,
        |    bool_or(split = 'test') AS in_te
        |  FROM tagged GROUP BY user_id
        |)
        |SELECT t.split, COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN NOT (u.in_tr AND u.in_te) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean_events
        |FROM tagged t JOIN us u USING (user_id)
        |GROUP BY t.split ORDER BY t.split""".stripMargin),

    QuerySpec("q123_kmv_overlap", ((s, dir) => {
      // corpus-overlap monitoring without a corpus join: one bounded KMV
      // sketch (k smallest distinct md5 shingle hashes, partial-combined
      // KMinStringsAgg — the shuffle moves p*k strings, never the shingle
      // stream) per language slice, pairwise Jaccard estimated from the
      // sketches alone. The oracle replicates the sketch algebra exactly
      // (same md5, same lexicographic k-min, same merged-k intersection
      // count), so the estimate is hash-checked, not tolerance-gated.
      operators.Overlap.sliceOverlap(t(s, dir, "documents"), k = 256)
        .orderBy(col("slice_a"), col("slice_b"))
    }),
      """WITH tk AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), sh AS (
        |  SELECT lang, CASE WHEN len(raw) < 3 THEN [array_to_string(raw, ' ')]
        |    ELSE [array_to_string(raw[i+1:i+3], ' ')
        |          for i in range(0, len(raw) - 2)] END AS shingles
        |  FROM tk
        |), hs AS (
        |  SELECT DISTINCT lang, md5(s) AS h
        |  FROM (SELECT lang, unnest(shingles) AS s FROM sh)
        |), rk AS (
        |  SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        |  FROM hs
        |), sk AS (
        |  SELECT lang, list(h ORDER BY h) AS hs
        |  FROM rk WHERE rn <= 256 GROUP BY lang
        |), pairs AS (
        |  SELECT a.lang AS slice_a, b.lang AS slice_b,
        |    a.hs AS a_hs, b.hs AS b_hs
        |  FROM sk a JOIN sk b ON a.lang < b.lang
        |), m AS (
        |  SELECT slice_a, slice_b, a_hs, b_hs,
        |    list_sort(list_distinct(a_hs || b_hs))[1:256] AS merged
        |  FROM pairs
        |), c AS (
        |  SELECT slice_a, slice_b, len(merged) AS l_used,
        |    len([x for x in merged
        |         if list_contains(a_hs, x) AND list_contains(b_hs, x)])
        |      AS n_shared
        |  FROM m
        |)
        |SELECT slice_a, slice_b,
        |  CAST(l_used AS BIGINT) AS l_used,
        |  CAST(n_shared AS BIGINT) AS n_shared,
        |  round(CAST(n_shared AS DOUBLE) / l_used, 6) AS jaccard_est
        |FROM c ORDER BY slice_a, slice_b""".stripMargin),

    QuerySpec("q124_markov_chain", ((s, dir) => {
      // first-order behavioral Markov chain over the event log: per-user
      // streams ordered by (ts, event_id), adjacent prev->next transition
      // counts, row-normalized into probabilities. The lag window
      // partitions on user_id (entity-bounded state — the scalable window
      // shape); after the partial-combined count the table is |types|^2
      // rows, so the normalizing row-total window is over a tiny frame.
      // Probability is an exact small-int division, rounded — the count
      // columns, not the float, carry the hash check's weight.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev_type"))
      pairs
        .select(col("prev_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / sum(col("n")).over(wp), 6)
            .as("p"))
        .orderBy(col("prev_type"), col("next_type"))
    }),
      """WITH seq AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lead(event_type)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events
        |), c AS (
        |  SELECT event_type AS prev_type, next_type, COUNT(*) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6)
        |    AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin),

    QuerySpec("q127_zorder_layout", ((s, dir) => {
      // Z-order layout planning (the OPTIMIZE ZORDER BY analog): events
      // clustered on the Morton curve of (user bucket, hour-of-day), 16
      // equal-width Z-range shards, per-shard min/max of BOTH dims — the
      // file statistics a layout writer persists for scan pruning. The
      // interleave is one codegen'd shift/mask projection riding the
      // scan; the only exchange is the shard-stats aggregate. Each shard
      // pins both dims to a <=64-cell span, which is the pruning story a
      // single-column sort cannot give.
      val ev = t(s, dir, "events")
        .select((col("user_id") % 256).as("ub"), hour(col("ts")).as("hb"))
      operators.Layout.zorderShardStats(ev)
        .orderBy(col("shard"))
    }),
      s"""WITH d AS (
        |  SELECT user_id % 256 AS x, hour(ts) AS y FROM events
        |), z AS (
        |  SELECT x, y, ${operators.Layout.zorderSql} AS z
        |  FROM d
        |)
        |SELECT z >> 12 AS shard, COUNT(*) AS n_rows,
        |  MIN(x) AS x_min, MAX(x) AS x_max,
        |  MIN(y) AS y_min, MAX(y) AS y_max
        |FROM z GROUP BY 1 ORDER BY shard""".stripMargin),

    QuerySpec("q129_integrity_audit", ((s, dir) => {
      // referential-integrity audit across the star schema — the
      // data-quality gate an ingest pipeline runs before publishing a
      // snapshot: orphan counts per FK edge via left_anti joins. Small
      // parents (nation) broadcast; the lineitem->orders edge is a
      // keyed shuffle anti-join (the scale path). Each edge is one
      // aggregate; the verdict unions four 1-row frames.
      def audit(name: String, idx: Int, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String,
                bcast: Boolean): DataFrame = {
        val p = parent.select(col(parentKey).as(childKey)).distinct()
        val orphans = child
          .join(if (bcast) broadcast(p) else p, Seq(childKey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        child.agg(count(lit(1)).as("n_child_rows"))
          .crossJoin(orphans)
          .select(lit(idx).as("check_idx"), lit(name).as("fk_edge"),
            col("n_child_rows"), col("n_orphans"),
            (col("n_orphans") === 0L).as("ok"))
      }
      audit("lineitem.l_orderkey->orders", 1,
          t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", bcast = false)
        .unionByName(audit("orders.o_custkey->customer", 2,
          t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"),
          "c_custkey", t(s, dir, "customer"), "c_custkey", bcast = false))
        .unionByName(audit("customer.c_nationkey->nation", 3,
          t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey"),
          "c_nationkey", bcast = true))
        .unionByName(audit("supplier.s_nationkey->nation", 4,
          t(s, dir, "supplier"), "s_nationkey",
          t(s, dir, "nation").withColumnRenamed("n_nationkey", "s_nationkey"),
          "s_nationkey", bcast = true))
        .orderBy(col("check_idx"))
    }),
      """SELECT * FROM (
        |  SELECT 1 AS check_idx, 'lineitem.l_orderkey->orders' AS fk_edge,
        |    COUNT(*) AS n_child_rows,
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans,
        |    SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS ok
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 2, 'orders.o_custkey->customer', COUNT(*),
        |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 3, 'customer.c_nationkey->nation', COUNT(*),
        |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  UNION ALL
        |  SELECT 4, 'supplier.s_nationkey->nation', COUNT(*),
        |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        |) ORDER BY check_idx""".stripMargin),

    QuerySpec("q130_k_anonymity", ((s, dir) => {
      // k-anonymity audit over quasi-identifiers — the privacy gate for
      // releasing behavioral data: rows whose (event_type, hour,
      // value-bucket) tuple occurs fewer than k=5 times are
      // re-identifiable and must be suppressed or generalized. One
      // partial-combined tuple count, then a per-type rollup of risky
      // tuples/rows — the corpus shuffles once on the tuple key.
      val k = 5L
      t(s, dir, "events")
        .select(col("event_type"), hour(col("ts")).as("hb"),
          floor(col("value") / 10.0).cast("long").as("vb"))
        .groupBy(col("event_type"), col("hb"), col("vb"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_tuples"),
          sum(when(col("n") < k, 1L).otherwise(0L)).as("n_risky_tuples"),
          sum(when(col("n") < k, col("n")).otherwise(0L))
            .as("n_risky_rows"))
        .orderBy(col("event_type"))
    }),
      """WITH tuples AS (
        |  SELECT event_type, hour(ts) AS hb,
        |    CAST(floor(value / 10.0) AS BIGINT) AS vb, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT event_type, COUNT(*) AS n_tuples,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_tuples,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_risky_rows
        |FROM tuples GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("q131_mad_outliers", ((s, dir) => {
      // robust anomaly detection: per-type median/MAD (the
      // outlier-resistant spread measure) and the count of |x - med| >
      // 3.5*MAD rows — the metric-drift monitor q121's winsorizing
      // complements. Exact medians mean a deliberate multi-pass over the
      // stream (median -> MAD -> count; the whiten/heavyHitters
      // precedent): each pass is one tiny per-type aggregate broadcast
      // back, the corpus never shuffles.
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(operators.Hints.boundedBroadcast(med, "event_type_domain"),
        Seq("event_type"))
        .select(col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(operators.Hints.boundedBroadcast(mad, "event_type_domain"),
        Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 9).as("med"),
          round(max(col("mad")), 9).as("mad"),
          sum(when(abs(col("value") - col("med"))
            > lit(3.5) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("event_type"))
    }),
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type
        |)
        |SELECT d.event_type, COUNT(*) AS n,
        |  round(MAX(d.med), 9) AS med, round(MAX(a.mad), 9) AS mad,
        |  CAST(SUM(CASE WHEN abs(d.value - d.med) > 3.5 * a.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad a USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),

    QuerySpec("q132_event_paths", ((s, dir) => {
      // order-2 user-journey mining: the most frequent 3-step
      // event-type paths (the funnel-discovery complement of q124's
      // transition matrix). Two leads over the same user-partitioned
      // window (one sort, entity-bounded state), then a partial-combined
      // path count with an INTEGER support gate — no float ordering.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 10)
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
    }),
      """WITH seq AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events
        |)
        |SELECT e1, e2, e3, COUNT(*) AS n
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 10
        |ORDER BY n DESC, e1, e2, e3""".stripMargin),

    QuerySpec("q135_group_topk", ((s, dir) => {
      // group-wise top-k WITHOUT a window: the 3 longest documents per
      // source via the bounded TopKAgg heap — each partition ships <=3
      // candidates per source instead of sorting every row of every
      // group (the per-group window cliff when a hot group holds a
      // million rows). Heap order (score desc, doc_id asc) makes ranks
      // deterministic.
      operators.TopK.groupTopK(
          t(s, dir, "documents")
            .select(col("source"), col("doc_id"), col("n_chars")),
          "source", col("n_chars").cast("double"), k = 3)
        .orderBy(col("source"), col("rk"))
    }),
      """SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents
        |)
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin),

    QuerySpec("q136_window_zoo", ((s, dir) => {
      // the ranking/distribution window-function surface in one
      // oracle-checked query: ntile, percent_rank, cume_dist, lag with
      // a default, first/last value over an explicit running frame —
      // all on ONE user-partitioned total order (ts, event_id), so one
      // sort serves every function and state stays entity-bounded.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 9).as("prank"),
          round(cume_dist().over(w), 9).as("cdist"),
          lag(col("value"), 1, -1.0).over(w).as("prev_value"),
          first(col("event_id")).over(wr).as("first_id"),
          last(col("event_id")).over(wr).as("last_id_so_far"))
        .orderBy(col("user_id"), col("event_id"))
    }),
      """SELECT user_id, event_id,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 9) AS prank,
        |  round(cume_dist() OVER w, 9) AS cdist,
        |  lag(value, 1, -1.0) OVER w AS prev_value,
        |  first_value(event_id) OVER wr AS first_id,
        |  last_value(event_id) OVER wr AS last_id_so_far
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    QuerySpec("q137_setops_all", ((s, dir) => {
      // multiset set-ops (ALL variants — q15 covers the distinct forms):
      // the event-type multiset of even event_ids INTERSECT ALL / EXCEPT
      // ALL the odd ones, summarized per type. Spark plans both as keyed
      // count-compare aggregates — no sort, no window.
      val ev = t(s, dir, "events")
      val a = ev.filter(col("event_id") % 2 === 0).select(col("event_type"))
      val b = ev.filter(col("event_id") % 2 === 1).select(col("event_type"))
      a.intersectAll(b).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("event_type"), col("n"))
        .unionByName(
          a.exceptAll(b).groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(lit("except_all").as("op"), col("event_type"),
              col("n")))
        .orderBy(col("op"), col("event_type"))
    }),
      """WITH a AS (
        |  SELECT event_type FROM events WHERE event_id % 2 = 0
        |), b AS (
        |  SELECT event_type FROM events WHERE event_id % 2 = 1
        |)
        |SELECT * FROM (
        |  SELECT 'intersect_all' AS op, event_type, COUNT(*) AS n
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'except_all', event_type, COUNT(*)
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |  GROUP BY 2
        |) ORDER BY op, event_type""".stripMargin),

    QuerySpec("q172_bloom_join", ((s, dir) => {
      // bloom-pruned selective join: part filtered to p_size = 1 (~2%
      // of the dim) builds a distributed bloom over its keys; lineitem
      // rows drop MAP-SIDE before the join shuffle. Result == the plain
      // join (no false negatives; the join kills false positives) —
      // the oracle is the unpruned join.
      val li = t(s, dir, "lineitem")
      val dim = t(s, dir, "part").filter(col("p_size") === 1)
      operators.Skew.bloomPrunedJoin(li, dim)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double"), 6).as("revenue"))
        .orderBy(col("p_brand"))
    }),
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
        |    AS DOUBLE), 6) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY 1 ORDER BY p_brand""".stripMargin),

    QuerySpec("q173_merge_upsert", ((s, dir) => {
      // changelog compaction (batch MERGE): the customer snapshot folded
      // with an order-derived change stream — latest (date, orderkey)
      // event per customer wins, orderkey % 97 events are deletes. One
      // key exchange, partial-combined max_by, no per-key window sort.
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        concat(lit("upd#"), col("o_orderkey").cast("string"))
          .as("c_name"),
        col("o_totalprice").as("c_acctbal"),
        // NTZ -> session-UTC timestamp -> epoch seconds (= DuckDB epoch)
        col("o_orderdate").cast("timestamp").cast("long").as("ts"),
        col("o_orderkey").as("tie"),
        when(col("o_orderkey") % 97 === 0, "D").otherwise("U").as("op"))
      operators.SnapshotDiff.applyChangelog(cust, ch, Seq("c_name", "c_acctbal"))
        .orderBy(col("c_custkey"))
    }),
      """WITH ch AS (
        |  SELECT o_custkey AS k,
        |    concat('upd#', CAST(o_orderkey AS VARCHAR)) AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CAST(epoch(o_orderdate) AS BIGINT) AS o_ts,
        |    o_orderkey AS o_tie,
        |    CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders
        |), u AS (
        |  SELECT c_custkey AS k, c_name, c_acctbal,
        |    CAST(-9223372036854775807 - 1 AS BIGINT) AS o_ts,
        |    CAST(-9223372036854775807 - 1 AS BIGINT) AS o_tie,
        |    'U' AS op
        |  FROM customer
        |  UNION ALL SELECT * FROM ch
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY o_ts DESC, o_tie DESC) AS rk
        |  FROM u
        |)
        |SELECT k AS c_custkey, c_name, c_acctbal
        |FROM r WHERE rk = 1 AND op = 'U'
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("q192_nb_langid", ((s, dir) => {
      // multinomial Naive Bayes language classifier trained IN-QUERY on
      // the q63 md5 train split and evaluated on the held-out 25% — the
      // fastText-class categorizer step of a curation pipeline (q189
      // evaluates a FIXED heuristic; this trains the model first).
      // Training is one vocab-bounded (token, per-class count)
      // aggregate; scoring is a token-keyed join + per-doc decimal ln
      // sums; argmax via an explicit smallest-label-tie CASE chain.
      operators.NaiveBayes.confusionMatrix(t(s, dir, "documents"))
    }),
      // DuckDB re-trains the multinomial NB through the identical count/ln
      // algebra (labels hardcoded to the fixture's langs in ascending order
      // — the Spark side discovers the same set from the train slice).
      s"""${nbChainSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'")}
         |, cm AS MATERIALIZED (
         |  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2
         |), tot AS (
         |  SELECT actual, CAST(sum(n) AS BIGINT) AS n_actual
         |  FROM cm GROUP BY 1
         |)
         |SELECT cm.actual, cm.predicted, cm.n,
         |  round(CAST(cm.n AS DOUBLE) / CAST(tot.n_actual AS DOUBLE), 6)
         |    AS share
         |FROM cm JOIN tot USING (actual)
         |ORDER BY actual, predicted""".stripMargin),

    QuerySpec("q203_nb_crossval", ((s, dir) => {
      // 4-fold cross-validated accuracy of the q192 NB classifier (md5
      // hex-quartile folds): whether the single-split accuracy is split
      // luck. Four one-aggregate trainings; output is fold-sized.
      operators.NaiveBayes.crossValAccuracy(t(s, dir, "documents"))
    }),
      {
      val bounds = Seq(("0", "3"), ("4", "7"), ("8", "b"), ("c", "f"))
      bounds.zipWithIndex.map { case ((lo, hi), f) =>
        val h = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)"
        val chain = nbChainSql(s"NOT ($h >= '$lo' AND $h <= '$hi')")
        s"""SELECT * FROM (
           |$chain
           |SELECT CAST($f AS INTEGER) AS fold,
           |  CAST(count(*) AS BIGINT) AS n_test,
           |  CAST(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_correct,
           |  round(CAST(sum(CASE WHEN actual = predicted THEN 1 ELSE 0
           |      END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           |    AS accuracy
           |FROM pred
           |)""".stripMargin
      }.mkString("", "\nUNION ALL ", "\nORDER BY fold")
    }),

    QuerySpec("q212_multitouch_attribution", ((s, dir) => {
      // time-decay multi-touch attribution: every purchase credits ALL
      // touches in its trailing hour with hyperbolic decay
      // w = 1800/(1800+Δt) (rational — no libm pow), shares normalized
      // per purchase by the decimal-exact weight mass; credit rolls up
      // per touch type. The pair stream rides the q109 (key, time-bin)
      // interval join — never a raw BETWEEN cross product.
      val ev = t(s, dir, "events")
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"),
          col("ts").as("w_end"))
      val pairs = operators.RangeJoin.intervalJoin(touches, purchases, binSeconds = 3600L)
        .select(col("event_type"), col("pid"),
          round(lit(1800.0) / (lit(1800.0)
            + (unix_timestamp(col("w_end")) - unix_timestamp(col("ts")))
              .cast("double")), 6).as("w"))
      val pairsM = operators.Materializer.Local(pairs)
      val pw = pairsM.groupBy(col("pid"))
        .agg(sum(col("w").cast("decimal(38,6)")).as("wsum"))
      pairsM.join(pw, Seq("pid"))
        .select(col("event_type"),
          round(col("w") / col("wsum").cast("double"), 6).as("share"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          round(sum(col("share").cast("decimal(38,6)")).cast("double"), 6)
            .as("credit"))
        .orderBy(col("event_type"))
    }),
      """WITH tch AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE event_type <> 'purchase'
        |), pur AS (
        |  SELECT user_id, event_id AS pid, ts AS pts FROM events
        |  WHERE event_type = 'purchase'
        |), pairs AS MATERIALIZED (
        |  SELECT t.event_type, p.pid,
        |    round(CAST(1800.0 AS DOUBLE) / (CAST(1800.0 AS DOUBLE)
        |      + CAST(epoch_us(p.pts) // 1000000
        |          - epoch_us(t.ts) // 1000000 AS DOUBLE)), 6) AS w
        |  FROM tch t JOIN pur p ON t.user_id = p.user_id
        |    AND t.ts >= p.pts - INTERVAL 1 HOUR AND t.ts <= p.pts
        |), pw AS (
        |  SELECT pid, sum(CAST(w AS DECIMAL(38,6))) AS wsum
        |  FROM pairs GROUP BY 1
        |), sh AS (
        |  SELECT event_type, round(w / CAST(wsum AS DOUBLE), 6) AS share
        |  FROM pairs JOIN pw USING (pid)
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
        |  round(CAST(sum(CAST(share AS DECIMAL(38,6))) AS DOUBLE), 6)
        |    AS credit
        |FROM sh GROUP BY 1 ORDER BY event_type""".stripMargin),

    QuerySpec("q219_partition_audit", ((s, dir) =>
      // partition-load audit before committing a shuffle/bucket layout:
      // hash-simulate user_id into 8 partitions and report per-partition
      // row/key mass + load ratio vs uniform — the "how bad is the worst
      // task" scout (q119 salts what this flags). One key-keyed
      // partial-combined count; assignment rides the bounded key table.
      operators.Skew.partitionSkewAudit(t(s, dir, "events"), nParts = 8)),
      """WITH kc AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS n
        |  FROM events GROUP BY 1
        |), pk AS (
        |  SELECT n, list_sum([CAST(round(pow(16, 7 - j)) AS BIGINT) *
        |    (strpos('0123456789abcdef', substr(md5(k), j + 1, 1)) - 1)
        |    for j in range(0, 8)]) % 8 AS part
        |  FROM kc
        |), parts AS (
        |  SELECT part, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys
        |  FROM pk GROUP BY 1
        |), tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM parts)
        |SELECT r.part, COALESCE(p.n_rows, 0) AS n_rows,
        |  COALESCE(p.n_keys, 0) AS n_keys,
        |  round(CAST(COALESCE(p.n_rows, 0) AS DOUBLE)
        |    / (CAST(n_total AS DOUBLE) / 8.0), 6) AS load_ratio
        |FROM range(0, 8) r(part) LEFT JOIN parts p ON p.part = r.part, tot
        |ORDER BY r.part""".stripMargin),

    QuerySpec("q222_embedding_drift", ((s, dir) => {
      // embedding-distribution drift between ingest batches — the third
      // modality in the drift family (tokens: q117 KL; values:
      // q156/q217/q221; embeddings: HERE): per-batch mean vector from
      // ONE (batch, dim) decimal-exact aggregate, consecutive-batch
      // cosine with DECIMAL-accumulated products so aggregation order
      // can't flip a bit. The corpus exchanges batches×dims partial
      // sums; everything after is cell-table-sized. On real corpora the
      // batch mean is dominated by the corpus mean (cosine ≈ 1, drops
      // under drift); these synthetic random batches read as near-zero
      // noise cosines — the pinned readout either way.
      val cells = t(s, dir, "embeddings")
        .select((col("vec_id") % 4).as("batch"),
          posexplode(col("embedding")))
        .select(col("batch"), col("pos").as("dim"),
          round(col("col").cast("double"), 6).cast("decimal(15,6)")
            .as("v"))
        .groupBy(col("batch"), col("dim"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .select(col("batch"), col("dim"),
          (col("sv").cast("double") / col("n").cast("double")).as("md"),
          col("n"))
      val a = cells.select(col("batch").as("bf"), col("dim"),
        col("md").as("ma"), col("n").as("n_from"))
      val b = cells.select((col("batch") - 1).as("bf"), col("dim"),
        col("md").as("mb"), col("n").as("n_to"))
      def dec(c: Column) = round(c, 15).cast("decimal(20,15)")
      a.join(operators.Hints.boundedBroadcast(b, "batch_dim_grid"), Seq("bf", "dim"))
        .groupBy(col("bf"))
        .agg(max(col("n_from")).as("n_from"), max(col("n_to")).as("n_to"),
          sum(dec(col("ma") * col("mb"))).as("dot"),
          sum(dec(col("ma") * col("ma"))).as("na"),
          sum(dec(col("mb") * col("mb"))).as("nb"))
        .select(col("bf").as("batch_from"),
          (col("bf") + lit(1L)).as("batch_to"),
          col("n_from"), col("n_to"),
          round(col("dot").cast("double")
            / (sqrt(col("na").cast("double"))
              * sqrt(col("nb").cast("double"))), 6).as("cosine"))
        .orderBy(col("batch_from"))
    }),
      """WITH x AS (
        |  SELECT vec_id % 4 AS batch,
        |    unnest(range(0, len(embedding))) AS dim, embedding AS e
        |  FROM embeddings
        |), x2 AS (
        |  SELECT batch, dim,
        |    CAST(round(CAST(e[CAST(dim + 1 AS INT)] AS DOUBLE), 6)
        |      AS DECIMAL(15,6)) AS v
        |  FROM x
        |), cells AS (
        |  SELECT batch, dim,
        |    CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS md,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM x2 GROUP BY 1, 2
        |), j AS (
        |  SELECT a.batch AS bf, a.dim, a.md AS ma, b.md AS mb,
        |    a.n AS n_from, b.n AS n_to
        |  FROM cells a JOIN cells b
        |    ON b.dim = a.dim AND b.batch = a.batch + 1
        |), agg AS (
        |  SELECT bf, MAX(n_from) AS n_from, MAX(n_to) AS n_to,
        |    SUM(CAST(round(ma * mb, 15) AS DECIMAL(20,15))) AS dot,
        |    SUM(CAST(round(ma * ma, 15) AS DECIMAL(20,15))) AS na,
        |    SUM(CAST(round(mb * mb, 15) AS DECIMAL(20,15))) AS nb
        |  FROM j GROUP BY 1
        |)
        |SELECT bf AS batch_from, bf + 1 AS batch_to, n_from, n_to,
        |  round(CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
        |    AS cosine
        |FROM agg ORDER BY batch_from""".stripMargin),

    QuerySpec("q225_reshard_audit", ((s, dir) =>
      // the data-motion bill of growing 8 -> 9 shards, BEFORE committing
      // the reshard: mod-N reshuffles ~8/9 of the corpus; rendezvous
      // hashing moves only keys whose argmax lands on the new node
      // (~1/9) — the minimal-disruption argument, measured on this
      // corpus's real keys. Both assignments are map-side md5
      // projections; one aggregate; 2-row output.
      operators.Sharding.reshardAudit(t(s, dir, "documents"))
        .orderBy(col("scheme"))),
      """WITH k AS (
        |  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k FROM documents
        |), h AS (
        |  SELECT k,
        |    list_sum([CAST(round(pow(16, 7 - j)) AS BIGINT) *
        |      (strpos('0123456789abcdef', substr(md5(k), j + 1, 1)) - 1)
        |      for j in range(0, 8)]) AS bucket,
        |    CAST(substr(list_max([md5('n' || CAST(i AS VARCHAR) || ':'
        |        || k) || '#' || lpad(CAST(i AS VARCHAR), 2, '0')
        |      for i in range(0, 8)]), 34, 2) AS INT) AS h0,
        |    CAST(substr(list_max([md5('n' || CAST(i AS VARCHAR) || ':'
        |        || k) || '#' || lpad(CAST(i AS VARCHAR), 2, '0')
        |      for i in range(0, 9)]), 34, 2) AS INT) AS h1
        |  FROM k
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN bucket % 8 <> bucket % 9 THEN 1 ELSE 0
        |      END) AS BIGINT) AS mod_m,
        |    CAST(sum(CASE WHEN h0 <> h1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hrw_m
        |  FROM h
        |)
        |SELECT 'hrw' AS scheme, n_keys, hrw_m AS n_moved,
        |  round(CAST(hrw_m AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
        |    AS moved_share
        |FROM a
        |UNION ALL
        |SELECT 'mod', n_keys, mod_m,
        |  round(CAST(mod_m AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
        |FROM a
        |ORDER BY scheme""".stripMargin),

    QuerySpec("q235_emd_drift", ((s, dir) => {
      // exact 1-D earth-mover (Wasserstein-1) drift per segment, same
      // ref/current split as q217/q221 — the drift family's metric in
      // VALUE units (how far mass actually moved) where KS is unit-free
      // (largest CDF gap): EMD = Σ |F_ref - F_cur|·Δv over the union
      // histogram support. Same single histogram exchange + bounded
      // per-group window walk; each term is the exact integer
      // |cum_a·n_b - cum_b·n_a|·Δv lifted through DECIMAL(38,0), ONE
      // double division at the end.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev.select(col("event_type").as("g"),
        floor(col("value") * 100).cast("long").as("v"),
        when(col("ts") < cutoff, 1L).otherwise(0L).as("is_ref"))
      val h = e.groupBy(col("g"), col("v"))
        .agg(sum(col("is_ref")).as("ca"),
          sum(lit(1L) - col("is_ref")).as("cb"))
      val wc = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("g"))
      val wl = Window.partitionBy(col("g")).orderBy(col("v"))
      h.withColumn("cuma", sum(col("ca")).over(wc))
        .withColumn("cumb", sum(col("cb")).over(wc))
        .withColumn("na", sum(col("ca")).over(wt))
        .withColumn("nb", sum(col("cb")).over(wt))
        .withColumn("nv", lead(col("v"), 1).over(wl))
        .filter(col("nv").isNotNull && col("na") > 0 && col("nb") > 0)
        .select(col("g"), col("na"), col("nb"),
          (abs(col("cuma") * col("nb") - col("cumb") * col("na"))
            * (col("nv") - col("v"))).cast("decimal(38,0)").as("term"))
        .groupBy(col("g"), col("na"), col("nb"))
        .agg(round(sum(col("term")).cast("double")
          / (col("na") * col("nb") * lit(100L)).cast("double"), 6)
          .as("emd"))
        .select(col("g"), col("na").cast("long").as("n_ref"),
          col("nb").cast("long").as("n_cur"), col("emd"))
        .orderBy(col("g"))
    }),
      """WITH e AS (
        |  SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END AS is_ref
        |  FROM events
        |), h AS MATERIALIZED (
        |  SELECT g, v, CAST(SUM(is_ref) AS BIGINT) AS ca,
        |    CAST(SUM(1 - is_ref) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2
        |), w AS (
        |  SELECT g, v, ca, cb,
        |    SUM(ca) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    SUM(ca) OVER (PARTITION BY g) AS na,
        |    SUM(cb) OVER (PARTITION BY g) AS nb,
        |    lead(v) OVER (PARTITION BY g ORDER BY v) AS nv
        |  FROM h
        |), terms AS (
        |  SELECT g, na, nb,
        |    abs(cuma * nb - cumb * na) * (nv - v) AS term
        |  FROM w
        |  WHERE nv IS NOT NULL AND na > 0 AND nb > 0
        |)
        |SELECT g, CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  round(CAST(SUM(term) AS DOUBLE)
        |    / CAST(na * nb * 100 AS DOUBLE), 6) AS emd
        |FROM terms GROUP BY g, na, nb ORDER BY g""".stripMargin),

    QuerySpec("q238_markov_eval", ((s, dir) => {
      // the q124 transition matrix turned into an EVALUATED next-event
      // predictor: argmax transitions trained on the 75% user hash-split,
      // accuracy measured on held-out users' transitions — whether the
      // "what happens next" model carries signal or just class priors.
      // One user-partitioned lead window (entity-bounded state), two
      // bounded rollups, the 5-row predictor broadcast back; the argmax
      // is the two-step max-then-min-label pattern, never max_by.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val steps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"),
          (substring(md5(col("user_id").cast("string")), 1, 1) < "c")
            .as("tr"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .filter(col("e2").isNotNull)
      val cnt = steps.filter(col("tr")).groupBy(col("e1"), col("e2"))
        .agg(count(lit(1)).as("c"))
      val mx = cnt.groupBy(col("e1")).agg(max(col("c")).as("mc"))
      val pred = cnt.join(mx, Seq("e1")).filter(col("c") === col("mc"))
        .groupBy(col("e1")).agg(min(col("e2")).as("predicted"))
      steps.filter(!col("tr")).groupBy(col("e1"), col("e2"))
        .agg(count(lit(1)).as("n"))
        .join(operators.Hints.boundedBroadcast(pred, "event_type_domain"), Seq("e1"), "left")
        .groupBy(col("e1"),
          coalesce(col("predicted"), lit("none")).as("predicted"))
        .agg(sum(col("n")).cast("long").as("n_eval"),
          sum(when(col("e2") === col("predicted"), col("n"))
            .otherwise(0L)).cast("long").as("n_correct"))
        .select(col("e1"), col("predicted"), col("n_eval"),
          col("n_correct"),
          round(col("n_correct").cast("double")
            / col("n_eval").cast("double"), 6).as("accuracy"))
        .orderBy(col("e1"))
    }),
      """WITH st AS (
        |  SELECT event_type AS e1,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < 'c' AS tr,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2
        |  FROM events
        |), s2 AS (SELECT * FROM st WHERE e2 IS NOT NULL
        |), cnt AS (
        |  SELECT e1, e2, count(*) AS c FROM s2 WHERE tr GROUP BY 1, 2
        |), mx AS (SELECT e1, max(c) AS mc FROM cnt GROUP BY 1
        |), pred AS (
        |  SELECT e1, min(e2) AS predicted FROM cnt JOIN mx USING (e1)
        |  WHERE c = mc GROUP BY 1
        |), ev AS (
        |  SELECT e1, e2, CAST(count(*) AS BIGINT) AS n
        |  FROM s2 WHERE NOT tr GROUP BY 1, 2
        |)
        |SELECT ev.e1, coalesce(pred.predicted, 'none') AS predicted,
        |  CAST(sum(n) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN ev.e2 = pred.predicted THEN n ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN ev.e2 = pred.predicted
        |      THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE), 6) AS accuracy
        |FROM ev LEFT JOIN pred USING (e1)
        |GROUP BY 1, 2 ORDER BY e1""".stripMargin),

    QuerySpec("q241_did", ((s, dir) => {
      // difference-in-differences per event type (Card & Krueger 1994
      // form): arm = the q147 deterministic user split, period = the
      // pre/post epoch-midpoint split, DiD = (T̄post − T̄pre) −
      // (C̄post − C̄pre) of mean event value — the causal readout when
      // a change ships to one arm mid-window and secular drift must be
      // netted out. ONE conditional event-type-keyed aggregate (4 cell
      // sums + 4 cell counts as exact decimals/longs); the 5-row output
      // derives every mean with one pinned double op order.
      val ev = t(s, dir, "events")
      val b = ev.agg(min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx"))
        .select(expr("(mn + mx) DIV 2").as("mid"))
      val base = ev.crossJoin(broadcast(b)).select(col("event_type"),
        (substring(md5(col("user_id").cast("string")), 1, 1) < "8")
          .as("tr"),
        (unix_micros(col("ts")) >= col("mid")).as("post"),
        col("value").cast("decimal(19,6)").as("v"))
      val cells = base.groupBy(col("event_type")).agg(
        sum(when(col("tr") && !col("post"), col("v"))).as("s_t_pre"),
        sum(when(col("tr") && !col("post"), 1L).otherwise(0L))
          .as("n_t_pre"),
        sum(when(col("tr") && col("post"), col("v"))).as("s_t_post"),
        sum(when(col("tr") && col("post"), 1L).otherwise(0L))
          .as("n_t_post"),
        sum(when(!col("tr") && !col("post"), col("v"))).as("s_c_pre"),
        sum(when(!col("tr") && !col("post"), 1L).otherwise(0L))
          .as("n_c_pre"),
        sum(when(!col("tr") && col("post"), col("v"))).as("s_c_post"),
        sum(when(!col("tr") && col("post"), 1L).otherwise(0L))
          .as("n_c_post"))
      def mean(sfx: String) = col(s"s_$sfx").cast("double") /
        col(s"n_$sfx").cast("double")
      cells.select(col("event_type"),
          col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
          col("n_c_post"),
          round(mean("t_pre"), 6).as("m_t_pre"),
          round(mean("t_post"), 6).as("m_t_post"),
          round(mean("c_pre"), 6).as("m_c_pre"),
          round(mean("c_post"), 6).as("m_c_post"),
          round((mean("t_post") - mean("t_pre"))
            - (mean("c_post") - mean("c_pre")), 6).as("did"))
        .orderBy(col("event_type"))
    }),
      """WITH b AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events
        |), base AS (
        |  SELECT event_type,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS tr,
        |    epoch_us(ts) >= mid AS post,
        |    CAST(value AS DECIMAL(19,6)) AS v
        |  FROM events, b
        |), cells AS (
        |  SELECT event_type,
        |    sum(CASE WHEN tr AND NOT post THEN v END) AS s_t_pre,
        |    CAST(sum(CASE WHEN tr AND NOT post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t_pre,
        |    sum(CASE WHEN tr AND post THEN v END) AS s_t_post,
        |    CAST(sum(CASE WHEN tr AND post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t_post,
        |    sum(CASE WHEN NOT tr AND NOT post THEN v END) AS s_c_pre,
        |    CAST(sum(CASE WHEN NOT tr AND NOT post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c_pre,
        |    sum(CASE WHEN NOT tr AND post THEN v END) AS s_c_post,
        |    CAST(sum(CASE WHEN NOT tr AND post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c_post
        |  FROM base GROUP BY 1
        |)
        |SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  round(CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE), 6)
        |    AS m_t_pre,
        |  round(CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE), 6)
        |    AS m_t_post,
        |  round(CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE), 6)
        |    AS m_c_pre,
        |  round(CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE), 6)
        |    AS m_c_post,
        |  round((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
        |      - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
        |    - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
        |      - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)), 6)
        |    AS did
        |FROM cells ORDER BY event_type""".stripMargin),

    QuerySpec("q242_cem", ((s, dir) => {
      // coarsened exact matching ATT (Iacus, King & Porro 2012): users
      // are coarsened on PRE-period behavior (event-count bin × spend
      // bin), treated/control compare only inside strata where BOTH
      // arms appear, and the ATT is the treated-weighted mean of
      // within-stratum conversion differences — the observational
      // answer when assignment isn't randomized and raw means are
      // confounded by activity. One user-keyed conditional aggregate
      // forms units; strata are a bounded (6×6) rollup; the ATT scalar
      // re-broadcasts onto the per-stratum readout. Bins use integer
      // floor-division only, so no float ever picks a bucket.
      val ev = t(s, dir, "events")
      val b = ev.agg(min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx"))
        .select(expr("(mn + mx) DIV 2").as("mid"))
      val units = ev.crossJoin(broadcast(b))
        .groupBy(col("user_id"))
        .agg(
          sum(when(unix_micros(col("ts")) < col("mid"), 1L)
            .otherwise(0L)).as("n_pre"),
          coalesce(sum(when(unix_micros(col("ts")) < col("mid"),
              col("value").cast("decimal(19,6)"))),
            lit(0).cast("decimal(19,6)")).as("v_pre"),
          max(when(unix_micros(col("ts")) >= col("mid")
              && col("event_type") === "purchase"
              && col("value") >= 200, 1).otherwise(0)).as("y"))
        .select(
          (substring(md5(col("user_id").cast("string")), 1, 1) < "8")
            .as("treated"),
          expr("CAST(least(n_pre DIV 10, 5) AS BIGINT)").as("bin_n"),
          expr("CAST(least(CAST(floor(v_pre) AS BIGINT) DIV 500, 5)" +
            " AS BIGINT)").as("bin_v"),
          col("y"))
      val cells = units.groupBy(col("bin_n"), col("bin_v")).agg(
        sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treated"), col("y").cast("long")).otherwise(0L))
          .as("c_t"),
        sum(when(!col("treated"), col("y").cast("long")).otherwise(0L))
          .as("c_c"))
      val matched = col("n_t") > 0 && col("n_c") > 0
      val diff = col("c_t").cast("double") / col("n_t").cast("double") -
        col("c_c").cast("double") / col("n_c").cast("double")
      val att = cells.filter(matched)
        .select(col("n_t"),
          round(col("n_t").cast("double") * diff, 9)
            .cast("decimal(38,9)").as("term"))
        .agg((sum(col("term")).cast("double")
          / sum(col("n_t")).cast("double")).as("att_raw"))
      cells.crossJoin(broadcast(att))
        .select(col("bin_n"), col("bin_v"), col("n_t"), col("n_c"),
          when(col("n_t") > 0, round(col("c_t").cast("double")
            / col("n_t").cast("double"), 6)).as("mean_t"),
          when(col("n_c") > 0, round(col("c_c").cast("double")
            / col("n_c").cast("double"), 6)).as("mean_c"),
          when(matched, round(diff, 6)).as("diff"),
          matched.as("matched"),
          round(col("att_raw"), 6).as("att"))
        .orderBy(col("bin_n"), col("bin_v"))
    }),
      """WITH b AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events
        |), units AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pre,
        |    coalesce(sum(CASE WHEN epoch_us(ts) < mid
        |        THEN CAST(value AS DECIMAL(19,6)) END),
        |      CAST(0 AS DECIMAL(19,6))) AS v_pre,
        |    max(CASE WHEN epoch_us(ts) >= mid
        |        AND event_type = 'purchase' AND value >= 200
        |      THEN 1 ELSE 0 END) AS y
        |  FROM events, b GROUP BY 1
        |), u2 AS (
        |  SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      AS treated,
        |    CAST(least(n_pre // 10, 5) AS BIGINT) AS bin_n,
        |    CAST(least(CAST(floor(v_pre) AS BIGINT) // 500, 5)
        |      AS BIGINT) AS bin_v,
        |    y
        |  FROM units
        |), cells AS (
        |  SELECT bin_n, bin_v,
        |    CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t,
        |    CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c,
        |    CAST(sum(CASE WHEN treated THEN y ELSE 0 END) AS BIGINT)
        |      AS c_t,
        |    CAST(sum(CASE WHEN NOT treated THEN y ELSE 0 END) AS BIGINT)
        |      AS c_c
        |  FROM u2 GROUP BY 1, 2
        |), att AS (
        |  SELECT CAST(sum(CAST(round(CAST(n_t AS DOUBLE)
        |        * (CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |          - CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE)
        |    / CAST(sum(n_t) AS DOUBLE) AS att_raw
        |  FROM cells WHERE n_t > 0 AND n_c > 0
        |)
        |SELECT bin_n, bin_v, n_t, n_c,
        |  CASE WHEN n_t > 0 THEN round(CAST(c_t AS DOUBLE)
        |    / CAST(n_t AS DOUBLE), 6) END AS mean_t,
        |  CASE WHEN n_c > 0 THEN round(CAST(c_c AS DOUBLE)
        |    / CAST(n_c AS DOUBLE), 6) END AS mean_c,
        |  CASE WHEN n_t > 0 AND n_c > 0
        |    THEN round(CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
        |    END AS diff,
        |  (n_t > 0 AND n_c > 0) AS matched,
        |  round(att_raw, 6) AS att
        |FROM cells, att ORDER BY bin_n, bin_v""".stripMargin),

    QuerySpec("q244_fdr_bh", ((s, dir) => {
      // Benjamini–Hochberg FDR control (B&H 1995) across the 30
      // (event_type × 4-hour bucket) segment experiments: each segment
      // runs the q147 two-proportion z-test between the deterministic
      // arms, the p-value comes from the Abramowitz–Stegun 26.2.17
      // normal-tail polynomial (identical op order on both engines,
      // round(9) before any comparison), and the step-up rule rejects
      // the largest prefix of the p-sorted segments with
      // p_(i) ≤ i·q/m — the multiple-testing discipline that keeps a
      // wide segment sweep from crying wolf on q·100% of healthy
      // segments. One conditional segment-keyed corpus aggregate;
      // ranks and thresholds live on the bounded m-row table (global
      // window over ~30 rows — the q177 bounded-table contract).
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val cells = ev.select(col("event_type"),
          expr("CAST(hour(ts) DIV 4 AS BIGINT)").as("hb"),
          (substring(md5(col("user_id").cast("string")), 1, 1) < "8")
            .as("a"),
          (col("value") >= 100).as("hit"))
        .groupBy(col("event_type"), col("hb"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(col("a") && col("hit"), 1L).otherwise(0L)).as("x_a"),
          sum(when(!col("a") && col("hit"), 1L).otherwise(0L)).as("x_b"))
      val pa = col("x_a").cast("double") / col("n_a").cast("double")
      val pb = col("x_b").cast("double") / col("n_b").cast("double")
      val pp = (col("x_a") + col("x_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val z = (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a").cast("double")
          + lit(1.0) / col("n_b").cast("double")))
      val az = abs(z)
      val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = tt * (lit(0.319381530) + tt * (lit(-0.356563782) +
        tt * (lit(1.781477937) + tt * (lit(-1.821255978) +
          tt * lit(1.330274429)))))
      val p = lit(2.0) * (lit(0.3989422804014327) *
        exp(lit(-0.5) * az * az)) * poly
      val tested = cells.filter(col("n_a") > 0 && col("n_b") > 0
          && col("x_a") + col("x_b") > 0
          && col("x_a") + col("x_b") < col("n_a") + col("n_b"))
        .select(col("event_type"), col("hb"), col("n_a"), col("n_b"),
          col("x_a"), col("x_b"), round(z, 6).as("z"),
          round(p, 9).as("p_value"))
      val wr = Window.orderBy(col("p_value"), col("event_type"),
        col("hb"))
      val ranked = operators.Materializer.Local(
        tested.withColumn("rank", row_number().over(wr).cast("int")))
      val m = ranked.agg(count(lit(1)).as("m"))
      val flagged = ranked.crossJoin(broadcast(m))
        .withColumn("flag", col("p_value") <=
          col("rank").cast("double") * lit(0.1) / col("m").cast("double"))
      val kdf = flagged.agg(max(when(col("flag"), col("rank"))).as("k"))
      flagged.crossJoin(broadcast(kdf))
        .select(col("event_type"), col("hb"), col("n_a"), col("n_b"),
          col("x_a"), col("x_b"), col("z"), col("p_value"), col("rank"),
          (col("rank") <= coalesce(col("k"), lit(0))).as("rejected"))
        .orderBy(col("rank"))
    }),
      """WITH base AS (
        |  SELECT event_type, CAST(hour(ts) // 4 AS BIGINT) AS hb,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS a,
        |    value >= 100 AS hit
        |  FROM events
        |), cells AS (
        |  SELECT event_type, hb,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN a AND hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x_a,
        |    CAST(sum(CASE WHEN NOT a AND hit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x_b
        |  FROM base GROUP BY 1, 2
        |), tested AS (
        |  SELECT event_type, hb, n_a, n_b, x_a, x_b,
        |    (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |      * (1.0 - CAST(x_a + x_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |      AS zr
        |  FROM cells
        |  WHERE n_a > 0 AND n_b > 0 AND x_a + x_b > 0
        |    AND x_a + x_b < n_a + n_b
        |), pv0 AS (
        |  SELECT *, abs(zr) AS az,
        |    1.0 / (1.0 + 0.2316419 * abs(zr)) AS tt
        |  FROM tested
        |), pv AS (
        |  SELECT event_type, hb, n_a, n_b, x_a, x_b, round(zr, 6) AS z,
        |    round(2.0 * (0.3989422804014327 * exp(-0.5 * az * az))
        |      * (tt * (0.319381530 + tt * (-0.356563782
        |        + tt * (1.781477937 + tt * (-1.821255978
        |          + tt * 1.330274429))))), 9) AS p_value
        |  FROM pv0
        |), ranked AS (
        |  SELECT *, CAST(row_number()
        |    OVER (ORDER BY p_value, event_type, hb) AS INTEGER) AS rank
        |  FROM pv
        |), mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ranked
        |), fl AS (
        |  SELECT r.*, (p_value <= CAST(rank AS DOUBLE) * 0.1
        |    / CAST(m AS DOUBLE)) AS flag
        |  FROM ranked r, mm
        |), kk AS (SELECT max(CASE WHEN flag THEN rank END) AS k FROM fl)
        |SELECT event_type, hb, n_a, n_b, x_a, x_b, z, p_value, rank,
        |  rank <= coalesce(k, 0) AS rejected
        |FROM fl, kk ORDER BY rank""".stripMargin),

    QuerySpec("q245_conformal", ((s, dir) => {
      // split-conformal prediction intervals per event type
      // (Papadopoulos et al. 2002; Lei et al. 2018): predictor = the
      // train-split mean (integer half-up cents), score = |value−pred|,
      // q̂ = the EXACT ceil(0.9·(n_cal+1)) order statistic of
      // calibration scores, coverage audited on the held-out test
      // split — the distribution-free "this interval covers 90%"
      // guarantee a serving pipeline publishes next to every point
      // prediction. ONE corpus exchange builds the (type, split, cents)
      // histogram: value lives on a cents grid, so the histogram —
      // and therefore every order statistic downstream — is
      // grid-bounded at ANY corpus size; no corpus-scale sort exists.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val hist = operators.Materializer.Local(ev.select(col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("c"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .withColumn("split", when(col("c") < "6", "train")
          .when(col("c") < "b", "cal").otherwise("test"))
        .groupBy(col("event_type"), col("split"), col("vc"))
        .agg(count(lit(1)).as("cnt")))
      val pred = hist.filter(col("split") === "train")
        .groupBy(col("event_type"))
        .agg(sum(col("vc") * col("cnt")).as("sv"),
          sum(col("cnt")).as("nt"))
        .select(col("event_type"),
          expr("CAST((2 * sv + nt) DIV (2 * nt) AS BIGINT)")
            .as("pred_c"),
          col("nt").as("n_train"))
      val cal = hist.filter(col("split") === "cal")
        .join(operators.Hints.boundedBroadcast(pred, "event_type_domain"), Seq("event_type"))
        .select(col("event_type"),
          abs(col("vc") - col("pred_c")).as("r"), col("cnt"))
        .groupBy(col("event_type"), col("r"))
        .agg(sum(col("cnt")).as("cnt"))
      val ncal = cal.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n_cal"))
        .select(col("event_type"), col("n_cal"),
          expr("CAST((9 * n_cal + 18) DIV 10 AS BIGINT)").as("k"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("r"))
      val qhat = cal.withColumn("cum", sum(col("cnt")).over(wc))
        .join(operators.Hints.boundedBroadcast(ncal, "event_type_domain"), Seq("event_type"))
        .filter(col("cum") >= col("k"))
        .groupBy(col("event_type"), col("n_cal"))
        .agg(min(col("r")).as("qhat_c"))
      hist.filter(col("split") === "test")
        .join(operators.Hints.boundedBroadcast(pred, "event_type_domain"), Seq("event_type"))
        .join(operators.Hints.boundedBroadcast(qhat, "event_type_domain"), Seq("event_type"))
        .groupBy(col("event_type"), col("n_train"), col("n_cal"),
          col("pred_c"), col("qhat_c"))
        .agg(sum(col("cnt")).as("n_test"),
          sum(when(abs(col("vc") - col("pred_c")) <= col("qhat_c"),
            col("cnt")).otherwise(0L)).as("n_covered"))
        .select(col("event_type"), col("n_train"), col("n_cal"),
          col("n_test"),
          (col("pred_c").cast("double") / 100.0).as("pred"),
          (col("qhat_c").cast("double") / 100.0).as("qhat"),
          col("n_covered"),
          round(col("n_covered").cast("double")
            / col("n_test").cast("double"), 6).as("coverage"))
        .orderBy(col("event_type"))
    }),
      """WITH hist AS (
        |  SELECT event_type,
        |    CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '6'
        |      THEN 'train'
        |      WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < 'b'
        |      THEN 'cal' ELSE 'test' END AS split,
        |    CAST(round(value * 100) AS BIGINT) AS vc,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |), pred AS (
        |  SELECT event_type,
        |    (2 * sum(vc * cnt) + sum(cnt)) // (2 * sum(cnt)) AS pred_c,
        |    CAST(sum(cnt) AS BIGINT) AS n_train
        |  FROM hist WHERE split = 'train' GROUP BY 1
        |), cal AS (
        |  SELECT h.event_type, abs(vc - pred_c) AS r,
        |    CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM hist h JOIN pred USING (event_type) WHERE split = 'cal'
        |  GROUP BY 1, 2
        |), ncal AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_cal,
        |    (9 * sum(cnt) + 18) // 10 AS k
        |  FROM cal GROUP BY 1
        |), qh AS (
        |  SELECT c.event_type, n_cal, min(r) AS qhat_c
        |  FROM (SELECT event_type, r, sum(cnt)
        |      OVER (PARTITION BY event_type ORDER BY r) AS cum
        |    FROM cal) c
        |  JOIN ncal USING (event_type)
        |  WHERE cum >= k GROUP BY 1, 2
        |), res AS (
        |  SELECT h.event_type, n_train, n_cal, pred_c, qhat_c,
        |    CAST(sum(cnt) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN abs(vc - pred_c) <= qhat_c
        |      THEN cnt ELSE 0 END) AS BIGINT) AS n_covered
        |  FROM hist h JOIN pred USING (event_type)
        |  JOIN qh USING (event_type)
        |  WHERE split = 'test' GROUP BY 1, 2, 3, 4, 5
        |)
        |SELECT event_type, n_train, n_cal, n_test,
        |  CAST(pred_c AS DOUBLE) / 100.0 AS pred,
        |  CAST(qhat_c AS DOUBLE) / 100.0 AS qhat,
        |  n_covered,
        |  round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
        |    AS coverage
        |FROM res ORDER BY event_type""".stripMargin),

    QuerySpec("q247_spearman", ((s, dir) => {
      // exact tie-corrected Spearman rank correlation between event
      // value and hour-of-day, per event type — the monotone-trend
      // readout that is robust to the heavy right tail where Pearson
      // (q186) is not. Ranks are AVERAGE ranks derived from marginal
      // histograms, carried as exact integers (2·rank = 2·cum_before
      // + count + 1, so tie halves never touch a float); value lives
      // on a cents grid, so the (type, cents, hour) cell table — ONE
      // corpus exchange — is grid-bounded at any corpus size, and all
      // rank algebra runs on bounded tables broadcast back onto cells.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val cells = operators.Materializer.Local(ev.select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"),
          expr("CAST(hour(ts) AS BIGINT)").as("hr"))
        .groupBy(col("event_type"), col("vc"), col("hr"))
        .agg(count(lit(1)).as("cnt")))
      val wx = Window.partitionBy(col("event_type")).orderBy(col("vc"))
      val xh = cells.groupBy(col("event_type"), col("vc"))
        .agg(sum(col("cnt")).as("cx"))
        .withColumn("r2x", lit(2L) * (sum(col("cx")).over(wx)
          - col("cx")) + col("cx") + lit(1L))
      val wy = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      val yh = cells.groupBy(col("event_type"), col("hr"))
        .agg(sum(col("cnt")).as("cy"))
        .withColumn("r2y", lit(2L) * (sum(col("cy")).over(wy)
          - col("cy")) + col("cy") + lit(1L))
      def dec(c: Column) = c.cast("decimal(38,0)")
      val sums = cells
        .join(operators.Hints.boundedBroadcast(xh.select(col("event_type"), col("vc"),
          col("r2x")), "value_grid"), Seq("event_type", "vc"))
        .join(operators.Hints.boundedBroadcast(yh.select(col("event_type"), col("hr"),
          col("r2y")), "value_grid"), Seq("event_type", "hr"))
        .groupBy(col("event_type")).agg(
          sum(col("cnt")).as("n"),
          sum(dec(col("cnt")) * dec(col("r2x"))).as("sx"),
          sum(dec(col("cnt")) * dec(col("r2y"))).as("sy"),
          sum(dec(col("cnt")) * dec(col("r2x")) * dec(col("r2x")))
            .as("sxx"),
          sum(dec(col("cnt")) * dec(col("r2y")) * dec(col("r2y")))
            .as("syy"),
          sum(dec(col("cnt")) * dec(col("r2x")) * dec(col("r2y")))
            .as("sxy"))
      def v(name: String) = col(name).cast("double")
      val nD = v("n")
      val varX = nD * v("sxx") - v("sx") * v("sx")
      val varY = nD * v("syy") - v("sy") * v("sy")
      sums.select(col("event_type"), col("n"),
          when(varX === 0.0 || varY === 0.0, lit(null).cast("double"))
            .otherwise(round((nD * v("sxy") - v("sx") * v("sy"))
              / sqrt(varX * varY), 6)).as("rho"))
        .orderBy(col("event_type"))
    }),
      """WITH cells AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc,
        |    CAST(hour(ts) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |), xh AS (
        |  SELECT event_type, vc,
        |    2 * (sum(cx) OVER (PARTITION BY event_type ORDER BY vc)
        |      - cx) + cx + 1 AS r2x
        |  FROM (SELECT event_type, vc, CAST(sum(cnt) AS BIGINT) AS cx
        |        FROM cells GROUP BY 1, 2)
        |), yh AS (
        |  SELECT event_type, hr,
        |    2 * (sum(cy) OVER (PARTITION BY event_type ORDER BY hr)
        |      - cy) + cy + 1 AS r2y
        |  FROM (SELECT event_type, hr, CAST(sum(cnt) AS BIGINT) AS cy
        |        FROM cells GROUP BY 1, 2)
        |), j AS (
        |  SELECT c.event_type, c.cnt, x.r2x, y.r2y
        |  FROM cells c
        |  JOIN xh x ON x.event_type = c.event_type AND x.vc = c.vc
        |  JOIN yh y ON y.event_type = c.event_type AND y.hr = c.hr
        |), sums AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |    sum(CAST(cnt AS HUGEINT) * CAST(r2x AS HUGEINT)) AS sx,
        |    sum(CAST(cnt AS HUGEINT) * CAST(r2y AS HUGEINT)) AS sy,
        |    sum(CAST(cnt AS HUGEINT) * CAST(r2x AS HUGEINT)
        |      * CAST(r2x AS HUGEINT)) AS sxx,
        |    sum(CAST(cnt AS HUGEINT) * CAST(r2y AS HUGEINT)
        |      * CAST(r2y AS HUGEINT)) AS syy,
        |    sum(CAST(cnt AS HUGEINT) * CAST(r2x AS HUGEINT)
        |      * CAST(r2y AS HUGEINT)) AS sxy
        |  FROM j GROUP BY 1
        |)
        |SELECT event_type, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0.0
        |    OR (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0.0
        |    THEN NULL
        |    ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    END AS rho
        |FROM sums ORDER BY event_type""".stripMargin),

    QuerySpec("q249_t_closeness", ((s, dir) => {
      // t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
      // the release gate k-anonymity (q130) and l-diversity (q197)
      // miss: a QI group can be large AND diverse yet still leak if its
      // SENSITIVE-value distribution sits far from the global one.
      // Distance = exact 1-D earth-mover on the ordered cents support
      // (the numeric-attribute EMD the paper prescribes), normalized by
      // the attribute range. ONE corpus exchange builds the
      // (qi, cents) histogram; the global support walk and every
      // per-group cumulative ride grid-bounded tables; products lift
      // through DECIMAL/HUGEINT so no count ever overflows.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val h = operators.Materializer.Local(ev.select(col("event_type"),
          hour(col("ts")).as("hb"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("hb"), col("v"))
        .agg(count(lit(1)).as("cg")))
      val wv = Window.orderBy(col("v")) // grid-bounded support
      val gl = h.groupBy(col("v")).agg(sum(col("cg")).as("call"))
      val glw = gl
        .withColumn("cumall", sum(col("call")).over(wv))
        .withColumn("nv", lead(col("v"), 1).over(wv))
      val groups = h.groupBy(col("event_type"), col("hb"))
        .agg(sum(col("cg")).as("ng"))
      val tot = gl.agg(sum(col("call")).as("ntot"),
        (max(col("v")) - min(col("v"))).as("rng"))
      def d19(c: Column) = c.cast("decimal(19,0)")
      val wg = Window.partitionBy(col("event_type"), col("hb"))
        .orderBy(col("v"))
      val terms = glw.crossJoin(operators.Hints.boundedBroadcast(groups, "value_grid"))
        .join(operators.Hints.boundedBroadcast(h, "value_grid"), Seq("event_type", "hb", "v"), "left")
        .na.fill(0L, Seq("cg"))
        .withColumn("cumg", sum(col("cg")).over(wg))
        .filter(col("nv").isNotNull)
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("hb"), col("ng"), col("ntot"),
          col("rng"),
          (abs(d19(col("cumg")) * d19(col("ntot"))
            - d19(col("cumall")) * d19(col("ng")))
            * d19(col("nv") - col("v"))).as("term"))
      terms.groupBy(col("event_type"), col("hb"), col("ng"),
          col("ntot"), col("rng"))
        .agg(sum(col("term")).as("st"))
        .select(col("event_type"), col("hb"), col("ng").as("n"),
          round(col("st").cast("double") / (col("ng").cast("double")
            * col("ntot").cast("double") * lit(100.0)), 6).as("emd"),
          round(col("st").cast("double") / (col("ng").cast("double")
              * col("ntot").cast("double"))
            / col("rng").cast("double"), 6).as("emd_norm"))
        .withColumn("t_violation", col("emd_norm") > 0.02)
        .orderBy(col("event_type"), col("hb"))
    }),
      """WITH h AS (
        |  SELECT event_type, hour(ts) AS hb,
        |    CAST(floor(value * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cg
        |  FROM events GROUP BY 1, 2, 3
        |), gl AS (
        |  SELECT v, CAST(sum(cg) AS BIGINT) AS call FROM h GROUP BY 1
        |), glw AS (
        |  SELECT v, call,
        |    sum(call) OVER (ORDER BY v) AS cumall,
        |    lead(v) OVER (ORDER BY v) AS nv
        |  FROM gl
        |), grp AS (
        |  SELECT event_type, hb, CAST(sum(cg) AS BIGINT) AS ng
        |  FROM h GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(call) AS BIGINT) AS ntot,
        |    max(v) - min(v) AS rng FROM gl
        |), grid AS (
        |  SELECT g.event_type, g.hb, g.ng, w.v, w.cumall, w.nv,
        |    coalesce(h.cg, 0) AS cg
        |  FROM glw w CROSS JOIN grp g
        |  LEFT JOIN h ON h.event_type = g.event_type AND h.hb = g.hb
        |    AND h.v = w.v
        |), terms AS (
        |  SELECT event_type, hb, ng,
        |    abs(CAST(sum(cg) OVER (PARTITION BY event_type, hb
        |          ORDER BY v) AS HUGEINT) * CAST(ntot AS HUGEINT)
        |        - CAST(cumall AS HUGEINT) * CAST(ng AS HUGEINT))
        |      * CAST(nv - v AS HUGEINT) AS term,
        |    ntot, rng
        |  FROM grid, tot WHERE nv IS NOT NULL
        |), agg AS (
        |  SELECT event_type, hb, ng, ntot, rng, sum(term) AS st
        |  FROM terms GROUP BY 1, 2, 3, 4, 5
        |)
        |SELECT event_type, hb, ng AS n,
        |  round(CAST(st AS DOUBLE) / (CAST(ng AS DOUBLE)
        |    * CAST(ntot AS DOUBLE) * 100.0), 6) AS emd,
        |  round(CAST(st AS DOUBLE) / (CAST(ng AS DOUBLE)
        |      * CAST(ntot AS DOUBLE)) / CAST(rng AS DOUBLE), 6)
        |    AS emd_norm,
        |  round(CAST(st AS DOUBLE) / (CAST(ng AS DOUBLE)
        |      * CAST(ntot AS DOUBLE)) / CAST(rng AS DOUBLE), 6) > 0.02
        |    AS t_violation
        |FROM agg ORDER BY event_type, hb""".stripMargin),

    QuerySpec("q250_jl_distortion", ((s, dir) => {
      // Johnson–Lindenstrauss distance-preservation audit (Achlioptas
      // 2003 ±1 projections): project the 64-d embeddings to 16-d
      // through the deterministic md5 sign matrix (shared VERBATIM
      // with the oracle's VALUES table — the shapleySubsets contract)
      // and histogram the projected/original distance ratio over the
      // 250 consecutive-id pairs — the "how much does a 4× cheaper
      // index distort" readout before committing to a projected ANN
      // layout. Explode + broadcast sign join + DECIMAL(38,20)
      // partial-combined sums (no nested HOFs, no order sensitivity);
      // at 100 TB this audit runs on exactly such a bounded pair
      // sample.
      import s.implicits._
      val signs = broadcast(jlSigns.zipWithIndex.flatMap {
        case (row, k) => row.zipWithIndex.map {
          case (v, j) => (j, k, v) } }.toSeq.toDF("j", "k", "sv"))
      val emb = t(s, dir, "embeddings")
      val pairs = emb.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("pid"), col("embedding").as("ea"))
        .join(emb.select((col("vec_id") - 1).as("pid"),
          col("embedding").as("eb")), Seq("pid"))
      val dd = operators.Materializer.Local(pairs
        .select(col("pid"), posexplode(arrays_zip(col("ea"), col("eb"))))
        .select(col("pid"), col("pos").as("j"),
          (col("col.ea").cast("double") - col("col.eb").cast("double"))
            .as("d")))
      val orig = dd.groupBy(col("pid"))
        .agg(sum((col("d") * col("d")).cast("decimal(38,20)"))
          .as("origsq"))
      val proj = dd.join(signs, Seq("j"))
        .groupBy(col("pid"), col("k"))
        .agg(sum((col("d") * col("sv")).cast("decimal(38,20)")).as("p"))
      val psq = proj.select(col("pid"),
          (col("p").cast("double") * col("p").cast("double"))
            .cast("decimal(38,20)").as("p2"))
        .groupBy(col("pid")).agg(sum(col("p2")).as("projsq"))
      orig.join(psq, Seq("pid"))
        .filter(col("origsq").cast("double") > 0.0)
        .select(sqrt(col("projsq").cast("double")
          / (lit(16.0) * col("origsq").cast("double"))).as("ratio"))
        .select(expr("CAST(least(floor(ratio * 10), 19) AS BIGINT)")
          .as("ratio_bin"), col("ratio"))
        .groupBy(col("ratio_bin"))
        .agg(count(lit(1)).as("n_pairs"),
          round(min(col("ratio")), 6).as("min_ratio"),
          round(max(col("ratio")), 6).as("max_ratio"))
        .orderBy(col("ratio_bin"))
    }),
      {
      val values = jlSigns.zipWithIndex.flatMap { case (row, k) =>
        row.zipWithIndex.map { case (v, j) => s"($j, $k, $v)" }
      }.mkString(", ")
      s"""WITH signs(j, k, s) AS (VALUES $values
         |), pairs AS (
         |  SELECT a.vec_id AS pid, a.embedding AS ea, b.embedding AS eb
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |  WHERE a.vec_id % 2 = 0
         |), el AS (
         |  SELECT pid, generate_subscripts(ea, 1) - 1 AS j,
         |    unnest(ea) AS xa, unnest(eb) AS xb
         |  FROM pairs
         |), dd AS (
         |  SELECT pid, j, CAST(xa AS DOUBLE) - CAST(xb AS DOUBLE) AS d
         |  FROM el
         |), orig AS (
         |  SELECT pid, sum(CAST(d * d AS DECIMAL(38,20))) AS origsq
         |  FROM dd GROUP BY 1
         |), proj AS (
         |  SELECT pid, k, sum(CAST(d * s AS DECIMAL(38,20))) AS p
         |  FROM dd JOIN signs USING (j) GROUP BY 1, 2
         |), psq AS (
         |  SELECT pid, sum(CAST(CAST(p AS DOUBLE) * CAST(p AS DOUBLE)
         |    AS DECIMAL(38,20))) AS projsq
         |  FROM proj GROUP BY 1
         |), rat AS (
         |  SELECT o.pid, sqrt(CAST(projsq AS DOUBLE)
         |    / (16.0 * CAST(origsq AS DOUBLE))) AS ratio
         |  FROM orig o JOIN psq USING (pid)
         |  WHERE CAST(origsq AS DOUBLE) > 0.0
         |)
         |SELECT CAST(least(floor(ratio * 10), 19) AS BIGINT)
         |    AS ratio_bin,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(min(ratio), 6) AS min_ratio,
         |  round(max(ratio), 6) AS max_ratio
         |FROM rat GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    QuerySpec("q251_acf", ((s, dir) => {
      // autocorrelation function (lags 1..24) + cumulative Ljung–Box Q
      // (Ljung & Box 1978) of the gap-filled hourly event-count series
      // — the seasonality/whiteness readout behind q158/q169: a daily
      // cycle surfaces as an r₂₄ spike, and Q says whether the series
      // is distinguishable from noise at all. One corpus exchange to
      // hourly counts; the gap-filled grid, the lag self-join and the
      // Q walk all ride the bounded hours table. Deviations are exact
      // integers (n·y − Σy), products lift through DECIMAL/HUGEINT,
      // one double division per lag.
      import org.apache.spark.sql.expressions.Window
      def d19(c: Column) = c.cast("decimal(19,0)")
      val ev = t(s, dir, "events")
      val hc = ev.select(expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .groupBy(col("hi")).agg(count(lit(1)).as("y"))
      val bounds = hc.agg(min(col("hi")).as("mn"), max(col("hi")).as("mx"))
      val grid0 = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("hi"))
        .join(hc, Seq("hi"), "left").na.fill(0L, Seq("y"))
      val tot = grid0.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      val grid = operators.Materializer.Local(
        grid0.crossJoin(broadcast(tot))
          .select(col("hi"), col("n"),
            (col("n") * col("y") - col("sy")).as("dev")))
      val den = grid.agg(sum(d19(col("dev")) * d19(col("dev")))
        .as("den"), max(col("n")).as("n2"))
      val lags = s.range(1, 25).select(col("id").as("lag"))
      val nums = grid.select(col("hi"), col("dev"))
        .crossJoin(broadcast(lags))
        .join(operators.Hints.boundedBroadcast(grid.select(col("hi").as("hi2"),
          col("dev").as("dev2")), "time_grid"),
          col("hi2") === col("hi") + col("lag"))
        .groupBy(col("lag"))
        .agg(sum(d19(col("dev")) * d19(col("dev2"))).as("num"))
      val wl = Window.orderBy(col("lag")) // bounded 24-row table
      nums.crossJoin(broadcast(den))
        .select(col("lag"), col("n2").cast("double").as("nD"),
          round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("r"),
          round(col("num").cast("double") / col("den").cast("double"), 9)
            .as("r9"))
        .withColumn("term", round((col("r9") * col("r9"))
            / (col("nD") - col("lag").cast("double")), 12)
          .cast("decimal(38,12)"))
        .withColumn("cum", sum(col("term")).over(wl))
        .select(col("lag"), col("r"),
          round(col("nD") * (col("nD") + 2.0)
            * col("cum").cast("double"), 6).as("q_lb"))
        .orderBy(col("lag"))
    }),
      """WITH hc AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hi,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), bounds AS (SELECT min(hi) AS mn, max(hi) AS mx FROM hc
        |), grid0 AS (
        |  SELECT g.hi, coalesce(y, 0) AS y
        |  FROM (SELECT unnest(range(mn, mx + 1)) AS hi FROM bounds) g
        |  LEFT JOIN hc ON hc.hi = g.hi
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy
        |  FROM grid0
        |), grid AS (
        |  SELECT hi, n, n * y - sy AS dev FROM grid0, tot
        |), den AS (
        |  SELECT sum(CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT))
        |    AS den, max(n) AS n2
        |  FROM grid
        |), lags AS (SELECT unnest(range(1, 25)) AS lag
        |), nums AS (
        |  SELECT lag, sum(CAST(g1.dev AS HUGEINT)
        |    * CAST(g2.dev AS HUGEINT)) AS num
        |  FROM grid g1 CROSS JOIN lags
        |  JOIN grid g2 ON g2.hi = g1.hi + lag
        |  GROUP BY 1
        |), rdf AS (
        |  SELECT lag, CAST(n2 AS DOUBLE) AS nD,
        |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r,
        |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 9) AS r9
        |  FROM nums, den
        |), t2 AS (
        |  SELECT lag, nD, r,
        |    CAST(round((r9 * r9) / (nD - CAST(lag AS DOUBLE)), 12)
        |      AS DECIMAL(38,12)) AS term
        |  FROM rdf
        |)
        |SELECT CAST(lag AS BIGINT) AS lag, r,
        |  round(nD * (nD + 2.0) * CAST(sum(term)
        |    OVER (ORDER BY lag) AS DOUBLE), 6) AS q_lb
        |FROM t2 ORDER BY lag""".stripMargin),

    QuerySpec("q253_changepoint", ((s, dir) => {
      // exact single-changepoint localization on the gap-filled hourly
      // event series (the binary-segmentation step behind every
      // changepoint tree; cf. Scott & Knott 1974): the split s
      // maximizing the between-segment SSE reduction
      // (n·S₁ − s·S)² / (n·s·(n−s)) — where did the level actually
      // shift, where q159's CUSUM only says that it drifted. One
      // corpus exchange to hourly counts; prefix sums, the split scan
      // and the argmax all ride the bounded hours table; the reduction
      // numerator squares in DECIMAL so no count overflows.
      import org.apache.spark.sql.expressions.Window
      def d19(c: Column) = c.cast("decimal(19,0)")
      val ev = t(s, dir, "events")
      val hc = ev.select(expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .groupBy(col("hi")).agg(count(lit(1)).as("y"))
      val bounds = hc.agg(min(col("hi")).as("mn"),
        max(col("hi")).as("mx"))
      val grid0 = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("hi"))
        .join(hc, Seq("hi"), "left").na.fill(0L, Seq("y"))
      val tot = grid0.agg(count(lit(1)).as("n"), sum(col("y")).as("st"))
      val wv = Window.orderBy(col("hi")) // bounded hours table
      val num = col("n") * col("s1") - col("srow") * col("st")
      // materialized: the bounded scored table feeds both the argmax
      // aggregate and the winner filter — and under ANSI mode the
      // winner predicate must NOT combine with srow < n and evaluate
      // the division on the srow = n row (divide-by-zero)
      val scored = operators.Materializer.Local(grid0
        .withColumn("srow", row_number().over(wv).cast("long"))
        .withColumn("s1", sum(col("y")).over(wv))
        .crossJoin(broadcast(tot))
        .filter(col("srow") < col("n"))
        .select(col("hi"), col("srow"), col("n"), col("st"), col("s1"),
          round((d19(num) * d19(num)).cast("double")
            / (col("n").cast("double") * col("srow").cast("double")
              * (col("n") - col("srow")).cast("double")), 9).as("red9")))
      val mx = scored.agg(max(col("red9")).as("mr"))
      scored.crossJoin(broadcast(mx)).filter(col("red9") === col("mr"))
        .orderBy(col("srow")).limit(1)
        .select(col("hi").as("split_hi"), col("srow").as("s_pts"),
          col("n"),
          round(col("s1").cast("double") / col("srow").cast("double"),
            6).as("mean1"),
          round((col("st") - col("s1")).cast("double")
            / (col("n") - col("srow")).cast("double"), 6).as("mean2"),
          round(col("red9"), 6).as("reduction"))
    }),
      """WITH hc AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hi,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), bounds AS (SELECT min(hi) AS mn, max(hi) AS mx FROM hc
        |), grid0 AS (
        |  SELECT g.hi, coalesce(y, 0) AS y
        |  FROM (SELECT unnest(range(mn, mx + 1)) AS hi FROM bounds) g
        |  LEFT JOIN hc ON hc.hi = g.hi
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS st
        |  FROM grid0
        |), pre AS (
        |  SELECT hi,
        |    CAST(row_number() OVER (ORDER BY hi) AS BIGINT) AS srow,
        |    sum(y) OVER (ORDER BY hi) AS s1
        |  FROM grid0
        |), scored AS (
        |  SELECT hi, srow, n, st, s1,
        |    round(CAST(CAST(n * s1 - srow * st AS HUGEINT)
        |        * CAST(n * s1 - srow * st AS HUGEINT) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(srow AS DOUBLE)
        |        * CAST(n - srow AS DOUBLE)), 9) AS red9
        |  FROM pre, tot WHERE srow < n
        |), mx AS (SELECT max(red9) AS mr FROM scored)
        |SELECT hi AS split_hi, srow AS s_pts, n,
        |  round(CAST(s1 AS DOUBLE) / CAST(srow AS DOUBLE), 6) AS mean1,
        |  round(CAST(st - s1 AS DOUBLE) / CAST(n - srow AS DOUBLE), 6)
        |    AS mean2,
        |  round(red9, 6) AS reduction
        |FROM scored, mx WHERE red9 = mr
        |ORDER BY srow LIMIT 1""".stripMargin),

    QuerySpec("q254_msprt", ((s, dir) => {
      // always-valid sequential testing (the mixture SPRT of Robbins
      // 1970 as productionized in Johari, Koomen, Pekelis & Walsh,
      // KDD 2017 "Peeking at A/B Tests"): per DAY, the cumulative
      // two-sample mean-difference mixture likelihood Λ and the
      // running always-valid p = min over prefixes of 1/Λ — the
      // monitor that lets an experimenter look every day WITHOUT
      // inflating false positives, where q147's fixed-horizon z-test
      // silently breaks under peeking. One day-keyed corpus rollup of
      // decimal sufficient sums; every cumulative and the running min
      // ride the bounded days table (τ² = 100 in value² units).
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val daily = ev.select(
          expr("unix_micros(ts) DIV 86400000000").as("dy"),
          (substring(md5(col("user_id").cast("string")), 1, 1) < "8")
            .as("a"),
          col("value").cast("decimal(19,6)").as("v"))
        .groupBy(col("dy"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).as("na_d"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("nb_d"),
          coalesce(sum(when(col("a"), col("v"))),
            lit(0).cast("decimal(19,6)")).as("sa_d"),
          coalesce(sum(when(!col("a"), col("v"))),
            lit(0).cast("decimal(19,6)")).as("sb_d"),
          sum((col("v") * col("v")).cast("decimal(38,12)")).as("svv_d"))
      val wd = Window.orderBy(col("dy"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily.select(col("dy"),
        sum(col("na_d")).over(wd).as("na"),
        sum(col("nb_d")).over(wd).as("nb"),
        sum(col("sa_d")).over(wd).as("sa"),
        sum(col("sb_d")).over(wd).as("sb"),
        sum(col("svv_d")).over(wd).as("svv"))
      val naD = col("na").cast("double")
      val nbD = col("nb").cast("double")
      val nD = (col("na") + col("nb")).cast("double")
      val svD = (col("sa") + col("sb")).cast("double")
      val varP = (nD * col("svv").cast("double") - svD * svD) /
        (nD * (nD - 1.0))
      val theta = col("sa").cast("double") / naD -
        col("sb").cast("double") / nbD
      val vN = varP * (lit(1.0) / naD + lit(1.0) / nbD)
      val lam = sqrt(vN / (vN + lit(100.0))) *
        exp(theta * theta * lit(100.0)
          / (lit(2.0) * vN * (vN + lit(100.0))))
      val base = cum.filter(col("na") > 0 && col("nb") > 0)
        .select(col("dy"), col("na"), col("nb"),
          round(theta, 6).as("theta"), round(lam, 6).as("lambda"),
          round(least(lit(1.0), lit(1.0) / lam), 9).as("p_day"))
      base.withColumn("p_always",
          round(min(col("p_day")).over(wd), 6))
        .select(col("dy"), col("na"), col("nb"), col("theta"),
          col("lambda"), col("p_always"))
        .orderBy(col("dy"))
    }),
      """WITH base AS (
        |  SELECT epoch_us(ts) // 86400000000 AS dy,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS a,
        |    CAST(value AS DECIMAL(19,6)) AS v
        |  FROM events
        |), daily AS (
        |  SELECT dy,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na_d,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb_d,
        |    coalesce(sum(CASE WHEN a THEN v END),
        |      CAST(0 AS DECIMAL(19,6))) AS sa_d,
        |    coalesce(sum(CASE WHEN NOT a THEN v END),
        |      CAST(0 AS DECIMAL(19,6))) AS sb_d,
        |    sum(CAST(v * v AS DECIMAL(38,12))) AS svv_d
        |  FROM base GROUP BY 1
        |), cum AS (
        |  SELECT dy,
        |    sum(na_d) OVER w AS na, sum(nb_d) OVER w AS nb,
        |    sum(sa_d) OVER w AS sa, sum(sb_d) OVER w AS sb,
        |    sum(svv_d) OVER w AS svv
        |  FROM daily
        |  WINDOW w AS (ORDER BY dy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), calc AS (
        |  SELECT dy, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS theta,
        |    ((CAST(na + nb AS DOUBLE) * CAST(svv AS DOUBLE)
        |      - CAST(sa + sb AS DOUBLE) * CAST(sa + sb AS DOUBLE))
        |     / (CAST(na + nb AS DOUBLE)
        |       * (CAST(na + nb AS DOUBLE) - 1.0)))
        |     * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
        |     AS vn
        |  FROM cum WHERE na > 0 AND nb > 0
        |), lamt AS (
        |  SELECT dy, na, nb, theta,
        |    sqrt(vn / (vn + 100.0)) * exp(theta * theta * 100.0
        |      / (2.0 * vn * (vn + 100.0))) AS lam
        |  FROM calc
        |), pd AS (
        |  SELECT dy, na, nb, round(theta, 6) AS theta,
        |    round(lam, 6) AS lambda,
        |    round(least(1.0, 1.0 / lam), 9) AS p_day
        |  FROM lamt
        |)
        |SELECT dy, na, nb, theta, lambda,
        |  round(min(p_day) OVER (ORDER BY dy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS p_always
        |FROM pd ORDER BY dy""".stripMargin),

    QuerySpec("q256_sax_motifs", ((s, dir) => {
      // SAX motif discovery (Lin, Keogh, Lonardi & Chiu 2003): the
      // gap-filled hourly series is z-normalized, PAA-averaged into
      // 4-hour segments, discretized into 4 symbols at the standard
      // Gaussian breakpoints (±0.6745, 0), and every 3-segment word is
      // counted — "which 12-hour load shapes recur, and how often",
      // the symbolic complement of q251's ACF. One corpus exchange to
      // hourly counts; normalization scalars broadcast; PAA, words and
      // counts all ride the bounded segment table (round(9)-pinned
      // averages so the symbol comparisons are bit-identical).
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val hc = ev.select(expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .groupBy(col("hi")).agg(count(lit(1)).as("y"))
      val bounds = hc.agg(min(col("hi")).as("mn"),
        max(col("hi")).as("mx"))
      val grid0 = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("hi"))
        .join(hc, Seq("hi"), "left").na.fill(0L, Seq("y"))
      def d19(c: Column) = c.cast("decimal(19,0)")
      val tot = grid0.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(d19(col("y")) * d19(col("y"))).as("syy"))
      val wv = Window.orderBy(col("hi")) // bounded hours table
      val nD = col("n").cast("double")
      val sd = sqrt((nD * col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double"))
        / (nD * (nD - 1.0)))
      val z = (col("y").cast("double")
        - col("sy").cast("double") / nD) / sd
      val seg = grid0.crossJoin(broadcast(tot))
        .withColumn("srow", row_number().over(wv).cast("long"))
        .select(expr("(srow - 1) DIV 4").as("sg"),
          round(z, 9).cast("decimal(19,9)").as("zq"))
        .groupBy(col("sg"))
        .agg(round(sum(col("zq")).cast("double")
          / count(lit(1)).cast("double"), 9).as("paa"))
      val sym = when(col("paa") < -0.6744897501960817, "a")
        .when(col("paa") < 0.0, "b")
        .when(col("paa") < 0.6744897501960817, "c").otherwise("d")
      val ws = Window.orderBy(col("sg")) // bounded segment table
      seg.select(col("sg"), sym.as("s1"))
        .withColumn("s2", lead(col("s1"), 1).over(ws))
        .withColumn("s3", lead(col("s1"), 2).over(ws))
        .filter(col("s3").isNotNull)
        .select(col("sg"), concat(col("s1"), col("s2"), col("s3"))
          .as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"), min(col("sg")).as("first_seg"))
        .orderBy(col("n").desc, col("word"))
    }),
      """WITH hc AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hi,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), bounds AS (SELECT min(hi) AS mn, max(hi) AS mx FROM hc
        |), grid0 AS (
        |  SELECT g.hi, coalesce(y, 0) AS y
        |  FROM (SELECT unnest(range(mn, mx + 1)) AS hi FROM bounds) g
        |  LEFT JOIN hc ON hc.hi = g.hi
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        |  FROM grid0
        |), seg0 AS (
        |  SELECT (CAST(row_number() OVER (ORDER BY hi) AS BIGINT) - 1)
        |      // 4 AS sg,
        |    CAST(round((CAST(y AS DOUBLE)
        |        - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 9)
        |      AS DECIMAL(19,9)) AS zq
        |  FROM grid0, tot
        |), seg AS (
        |  SELECT sg, round(CAST(sum(zq) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 9) AS paa
        |  FROM seg0 GROUP BY 1
        |), symd AS (
        |  SELECT sg, CASE WHEN paa < -0.6744897501960817 THEN 'a'
        |    WHEN paa < 0.0 THEN 'b'
        |    WHEN paa < 0.6744897501960817 THEN 'c' ELSE 'd' END AS s1
        |  FROM seg
        |), words AS (
        |  SELECT sg, s1,
        |    lead(s1, 1) OVER (ORDER BY sg) AS s2,
        |    lead(s1, 2) OVER (ORDER BY sg) AS s3
        |  FROM symd
        |)
        |SELECT s1 || s2 || s3 AS word, CAST(count(*) AS BIGINT) AS n,
        |  min(sg) AS first_seg
        |FROM words WHERE s3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, word""".stripMargin),

    QuerySpec("q257_dp_mean", ((s, dir) => {
      // differentially-private mean release per event type (Dwork,
      // McSherry, Nissim & Smith 2006): clip to [0, C], add
      // Laplace(C/(n·ε)) noise via the inverse CDF — the numeric
      // companion to q195's histogram release, carrying the two real
      // costs a DP release pays: the clipping bias (raw vs clipped
      // mean) and the noise scale. The "noise" draw is the q195
      // convention — a deterministic md5 uniform per released cell, so
      // the release (and the oracle) replays bit-identically; a
      // production release swaps ONLY the uniform for a secure draw.
      // One conditional corpus aggregate; everything after is per-type
      // scalar algebra.
      val cc = 300.0
      val ev = t(s, dir, "events")
      val agg = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(19,6)")).as("sraw"),
        sum(least(greatest(col("value"), lit(0.0)), lit(cc))
          .cast("decimal(19,6)")).as("sclip"))
      val u = (conv(substring(md5(concat(lit("dp|"),
          col("event_type"))), 1, 8), 16, 10).cast("double")
        + lit(0.5)) / lit(4294967296.0)
      val b = lit(cc) / (col("n").cast("double") * lit(1.0))
      val lap = -b * signum(u - lit(0.5)) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
      agg.select(col("event_type"), col("n"),
          round(col("sraw").cast("double") / col("n").cast("double"), 6)
            .as("raw_mean"),
          round(col("sclip").cast("double") / col("n").cast("double"),
            6).as("clipped_mean"),
          round(col("sclip").cast("double") / col("n").cast("double")
            + lap, 6).as("released_mean"),
          round(b, 9).as("noise_scale"),
          lit(1.0).as("epsilon"))
        .orderBy(col("event_type"))
    }),
      """WITH agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(19,6))) AS sraw,
        |    sum(CAST(least(greatest(value, 0.0), 300.0)
        |      AS DECIMAL(19,6))) AS sclip
        |  FROM events GROUP BY 1
        |), calc AS (
        |  SELECT event_type, n, sraw, sclip,
        |    (CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef',
        |        substr(md5('dp|' || event_type), i + 1, 1)) - 1)
        |      for i in range(0, 8)]) AS DOUBLE) + 0.5) / 4294967296.0
        |      AS u,
        |    300.0 / (CAST(n AS DOUBLE) * 1.0) AS b
        |  FROM agg
        |)
        |SELECT event_type, n,
        |  round(CAST(sraw AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS raw_mean,
        |  round(CAST(sclip AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS clipped_mean,
        |  round(CAST(sclip AS DOUBLE) / CAST(n AS DOUBLE)
        |    + -b * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
        |    AS released_mean,
        |  round(b, 9) AS noise_scale,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM calc ORDER BY event_type""".stripMargin),

    QuerySpec("q258_hill_tail", ((s, dir) => {
      // Hill tail-index estimate (Hill 1975, peaks-over-threshold
      // form) per event type: u = the exact 99th-percentile value from
      // the cents-grid histogram, α̂ = n_tail / Σ ln(x/u) over x > u —
      // "is this metric heavy-tailed enough that means/winsorizing
      // (q121) lie", the tail diagnostic behind capping decisions.
      // ONE corpus exchange to the (type, cents) histogram; the
      // order statistic and the tail sum ride the grid-bounded table
      // with round(9) decimal log terms.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val h = operators.Materializer.Local(ev.select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .groupBy(col("event_type"), col("vc"))
        .agg(count(lit(1)).as("cnt")))
      val nt = h.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
        .select(col("event_type"), col("n"),
          expr("CAST((99 * n + 99) DIV 100 AS BIGINT)").as("k"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("vc"))
      val u = h.withColumn("cum", sum(col("cnt")).over(wc))
        .join(operators.Hints.boundedBroadcast(nt, "event_type_domain"), Seq("event_type"))
        .filter(col("cum") >= col("k"))
        .groupBy(col("event_type"), col("n"))
        .agg(min(col("vc")).as("uc"))
      val tail = h.join(operators.Hints.boundedBroadcast(u, "event_type_domain"), Seq("event_type"))
        .filter(col("vc") > col("uc"))
        .groupBy(col("event_type"), col("n"), col("uc"))
        .agg(sum(col("cnt")).as("n_tail"),
          sum((col("cnt").cast("double")
            * log(col("vc").cast("double") / col("uc").cast("double")))
            .cast("decimal(38,9)")).as("slog"))
      tail.select(col("event_type"), col("n"),
          (col("uc").cast("double") / 100.0).as("u"),
          col("n_tail"),
          round(col("n_tail").cast("double")
            / col("slog").cast("double"), 6).as("alpha"))
        .orderBy(col("event_type"))
    }),
      """WITH h AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), nt AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |    (99 * sum(cnt) + 99) // 100 AS k
        |  FROM h GROUP BY 1
        |), u AS (
        |  SELECT c.event_type, n, min(vc) AS uc
        |  FROM (SELECT event_type, vc, sum(cnt)
        |      OVER (PARTITION BY event_type ORDER BY vc) AS cum
        |    FROM h) c
        |  JOIN nt USING (event_type)
        |  WHERE cum >= k GROUP BY 1, 2
        |), tail AS (
        |  SELECT h.event_type, n, uc,
        |    CAST(sum(cnt) AS BIGINT) AS n_tail,
        |    sum(CAST(CAST(cnt AS DOUBLE) * ln(CAST(vc AS DOUBLE)
        |      / CAST(uc AS DOUBLE)) AS DECIMAL(38,9))) AS slog
        |  FROM h JOIN u USING (event_type)
        |  WHERE vc > uc GROUP BY 1, 2, 3
        |)
        |SELECT event_type, n, CAST(uc AS DOUBLE) / 100.0 AS u, n_tail,
        |  round(CAST(n_tail AS DOUBLE) / CAST(slog AS DOUBLE), 6)
        |    AS alpha
        |FROM tail ORDER BY event_type""".stripMargin),

    QuerySpec("q259_power_mde", ((s, dir) => {
      // experiment power analysis per event type (Cohen 1988): the
      // minimum detectable effect of a 50/50 split at α=5%, power=80%
      // from the observed outcome variance — the "how long must this
      // test run" calculator that pairs with q147/q240/q254: an
      // experimenter sizes the test BEFORE burning two weeks of
      // traffic. One decimal sufficient-sums aggregate, scalar algebra
      // after (z constants shared verbatim with the oracle).
      def d = {
        val c = col("value")
        c.cast("decimal(19,6)")
      }
      val za = 1.959963984540054; val zb = 0.8416212335729143
      val agg = t(s, dir, "events").groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(d).as("sv"),
        sum(d * d).as("svv"))
      val nD = col("n").cast("double")
      val mean = col("sv").cast("double") / nD
      val varS = (nD * col("svv").cast("double")
        - col("sv").cast("double") * col("sv").cast("double")) /
        (nD * (nD - 1.0))
      val mde = lit(za + zb) * sqrt(varS * (lit(2.0) / (nD / 2.0)))
      agg.select(col("event_type"), col("n"),
          round(mean, 6).as("mean"), round(varS, 6).as("variance"),
          round(mde, 6).as("mde_abs"),
          round(mde / mean, 6).as("mde_rel"))
        .orderBy(col("event_type"))
    }),
      """WITH agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(19,6))) AS sv,
        |    sum(CAST(value AS DECIMAL(19,6))
        |      * CAST(value AS DECIMAL(19,6))) AS svv
        |  FROM events GROUP BY 1
        |), calc AS (
        |  SELECT event_type, n,
        |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
        |      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vars
        |  FROM agg
        |), m AS (
        |  SELECT event_type, n, mean, vars,
        |    (1.959963984540054 + 0.8416212335729143)
        |      * sqrt(vars * (2.0 / (CAST(n AS DOUBLE) / 2.0))) AS mde
        |  FROM calc
        |)
        |SELECT event_type, n, round(mean, 6) AS mean,
        |  round(vars, 6) AS variance, round(mde, 6) AS mde_abs,
        |  round(mde / mean, 6) AS mde_rel
        |FROM m ORDER BY event_type""".stripMargin),

    QuerySpec("q260_seq_patterns", ((s, dir) => {
      // frequent sequential patterns (GSP, Srikant & Agrawal 1996):
      // every user's consecutive event-type TRIGRAM, with support
      // counted in USERS (a user voting once per pattern, the GSP
      // sequence-support definition) next to raw occurrences — the
      // "what do journeys actually look like" complement of q205's
      // unordered baskets and q124's one-step Markov chain. One
      // entity-bounded user window (two leads), one pattern rollup;
      // the pattern space is bounded (|types|³).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull)
        .select(col("user_id"),
          concat(col("e1"), lit(">"), col("e2"), lit(">"), col("e3"))
            .as("pattern"))
        .groupBy(col("pattern"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n_users").desc, col("pattern"))
    }),
      """WITH st AS (
        |  SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e3
        |  FROM events
        |)
        |SELECT e1 || '>' || e2 || '>' || e3 AS pattern,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM st WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n_users DESC, pattern""".stripMargin),

    QuerySpec("q261_mann_kendall", ((s, dir) => {
      // Mann–Kendall trend test + Kendall's tau-b (Mann 1945, Kendall
      // 1975): S = Σ sign(y_j − y_i) over ordered day pairs of the
      // daily revenue series, tie-corrected variance, the
      // continuity-corrected z, and tau-b — the nonparametric "is this
      // metric trending" gate that complements q157's Theil–Sen slope
      // (which estimates HOW MUCH, not WHETHER). One day-keyed corpus
      // rollup; the O(days²) pair scan and the tie table ride the
      // bounded days table (broadcast inequality join).
      val ev = t(s, dir, "events")
      val daily = operators.Materializer.Local(ev
        .select(expr("unix_micros(ts) DIV 86400000000").as("dy"),
          col("value").cast("decimal(19,6)").as("v"))
        .groupBy(col("dy")).agg(sum(col("v")).as("y")))
      val pairs = daily.select(col("dy").as("d1"), col("y").as("y1"))
        .join(operators.Hints.boundedBroadcast(daily.select(col("dy").as("d2"),
          col("y").as("y2")), "time_grid"), col("d1") < col("d2"))
        .agg(sum(when(col("y2") > col("y1"), 1L)
          .when(col("y2") < col("y1"), -1L).otherwise(0L)).as("s"))
      val ties = daily.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(count(lit(1)).as("ng"),
          sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tc"),
          sum(col("t") * (col("t") - 1)).as("t2"),
          sum(col("t")).as("n"))
      val nD = col("n").cast("double")
      val varS = (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0)
        - col("tc").cast("double")) / 18.0
      val sD = col("s").cast("double")
      val z = when(col("s") > 0, (sD - 1.0) / sqrt(varS))
        .when(col("s") < 0, (sD + 1.0) / sqrt(varS)).otherwise(lit(0.0))
      val n0 = nD * (nD - 1.0) / 2.0
      val tau = sD / sqrt(n0 * (n0 - col("t2").cast("double") / 2.0))
      pairs.crossJoin(broadcast(ties))
        .select(col("n").cast("long").as("n"), col("s"),
          round(varS, 6).as("var_s"), round(z, 6).as("z"),
          round(tau, 6).as("tau_b"))
    }),
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS dy,
        |    sum(CAST(value AS DECIMAL(19,6))) AS y
        |  FROM events GROUP BY 1
        |), pr AS (
        |  SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
        |    WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.dy < b.dy
        |), ties AS (
        |  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tc,
        |    CAST(sum(t * (t - 1)) AS BIGINT) AS t2,
        |    CAST(sum(t) AS BIGINT) AS n
        |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS t FROM daily
        |        GROUP BY 1)
        |)
        |SELECT n, s,
        |  round((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |    * (2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tc AS DOUBLE))
        |    / 18.0, 6) AS var_s,
        |  round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
        |      / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |        * (2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tc AS DOUBLE))
        |        / 18.0)
        |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
        |      / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |        * (2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tc AS DOUBLE))
        |        / 18.0)
        |    ELSE 0.0 END, 6) AS z,
        |  round(CAST(s AS DOUBLE)
        |    / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0)
        |      * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
        |        - CAST(t2 AS DOUBLE) / 2.0)), 6) AS tau_b
        |FROM pr, ties""".stripMargin),

    QuerySpec("q265_ks_pvalue", ((s, dir) => {
      // two-sample KS test WITH the asymptotic p-value per event type —
      // q217/q221 report the statistic; this closes the loop with the
      // Kolmogorov distribution tail (5-term alternating series, the
      // textbook asymptotic with the small-sample correction factor
      // √nₑ + 0.12 + 0.11/√nₑ) so a drift monitor can threshold on a
      // probability, not a unit-free distance. D is exact integer
      // algebra (max |cumA·nB − cumB·nA|) on the grid-bounded cents
      // histogram; the series is pinned double op order, identical on
      // both engines.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev.select(col("event_type").as("g"),
        floor(col("value") * 100).cast("long").as("v"),
        when(col("ts") < cutoff, 1L).otherwise(0L).as("is_ref"))
      val h = e.groupBy(col("g"), col("v"))
        .agg(sum(col("is_ref")).as("ca"),
          sum(lit(1L) - col("is_ref")).as("cb"))
      val wc = Window.partitionBy(col("g")).orderBy(col("v"))
      val wt = Window.partitionBy(col("g"))
      val stats = h.withColumn("cuma", sum(col("ca")).over(wc))
        .withColumn("cumb", sum(col("cb")).over(wc))
        .withColumn("na", sum(col("ca")).over(wt))
        .withColumn("nb", sum(col("cb")).over(wt))
        .filter(col("na") > 0 && col("nb") > 0)
        .groupBy(col("g"), col("na"), col("nb"))
        .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
          .as("mx"))
      val naD = col("na").cast("double")
      val nbD = col("nb").cast("double")
      val d = col("mx").cast("double") / (naD * nbD)
      val ne = naD * nbD / (naD + nbD)
      val lam = (sqrt(ne) + lit(0.12) + lit(0.11) / sqrt(ne)) * d
      val l2 = lam * lam
      val p = lit(2.0) * (exp(lit(-2.0) * l2) - exp(lit(-8.0) * l2)
        + exp(lit(-18.0) * l2) - exp(lit(-32.0) * l2)
        + exp(lit(-50.0) * l2))
      val pc = least(lit(1.0), greatest(lit(0.0), p))
      stats.select(col("g").as("event_type"),
          col("na").cast("long").as("n_ref"),
          col("nb").cast("long").as("n_cur"),
          round(d, 6).as("d"), round(lam, 6).as("lambda"),
          round(pc, 9).as("p_value"),
          (round(pc, 9) < 0.05).as("reject"))
        .orderBy(col("event_type"))
    }),
      """WITH e AS (
        |  SELECT event_type AS g,
        |    CAST(floor(value * 100) AS BIGINT) AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END AS is_ref
        |  FROM events
        |), h AS (
        |  SELECT g, v, CAST(sum(is_ref) AS BIGINT) AS ca,
        |    CAST(sum(1 - is_ref) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2
        |), cw AS (
        |  SELECT g, v, ca, cb,
        |    sum(ca) OVER (PARTITION BY g ORDER BY v) AS cuma,
        |    sum(cb) OVER (PARTITION BY g ORDER BY v) AS cumb,
        |    sum(ca) OVER (PARTITION BY g) AS na,
        |    sum(cb) OVER (PARTITION BY g) AS nb
        |  FROM h
        |), st AS (
        |  SELECT g, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |    CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS mx
        |  FROM cw WHERE na > 0 AND nb > 0
        |  GROUP BY 1, 2, 3
        |), calc AS (
        |  SELECT g, na, nb,
        |    CAST(mx AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS d,
        |    (sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |        / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) + 0.12
        |      + 0.11 / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |        / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
        |      * (CAST(mx AS DOUBLE)
        |        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS lam
        |  FROM st
        |), pv AS (
        |  SELECT g, na, nb, d, lam,
        |    least(1.0, greatest(0.0, 2.0 * (exp(-2.0 * (lam * lam))
        |      - exp(-8.0 * (lam * lam)) + exp(-18.0 * (lam * lam))
        |      - exp(-32.0 * (lam * lam))
        |      + exp(-50.0 * (lam * lam))))) AS pc
        |  FROM calc
        |)
        |SELECT g AS event_type, na AS n_ref, nb AS n_cur,
        |  round(d, 6) AS d, round(lam, 6) AS lambda,
        |  round(pc, 9) AS p_value, round(pc, 9) < 0.05 AS reject
        |FROM pv ORDER BY event_type""".stripMargin),

    QuerySpec("q266_mann_whitney", ((s, dir) => {
      // Mann–Whitney U / Wilcoxon rank-sum per event type between the
      // reference and current periods (Mann & Whitney 1947) with the
      // tie-corrected normal approximation — the median-shift
      // complement to q265's KS (which is shape-sensitive; the
      // rank-sum is the more powerful test when the alternative is a
      // location shift). All rank algebra is EXACT integers on the
      // grid-bounded cents histogram: 2·avgrank = 2·cumBefore + t + 1,
      // so rank sums never touch a float until the final z; the tie
      // term Σ(t³−t) lifts through DECIMAL(38,0); p is the A&S
      // 26.2.17 two-sided tail in pinned op order.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val h = ev.select(col("event_type").as("g"),
          floor(col("value") * 100).cast("long").as("v"),
          when(col("ts") < cutoff, 1L).otherwise(0L).as("is_ref"))
        .groupBy(col("g"), col("v"))
        .agg(sum(col("is_ref")).as("ca"),
          sum(lit(1L) - col("is_ref")).as("cb"))
      val wc = Window.partitionBy(col("g")).orderBy(col("v"))
      val st = h.withColumn("tt", col("ca") + col("cb"))
        .withColumn("cum", sum(col("tt")).over(wc))
        .withColumn("ar2",
          (col("cum") - col("tt")) * 2 + col("tt") + 1)
        .groupBy(col("g"))
        .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          sum(col("ca") * col("ar2")).as("r2a"),
          sum(d38(col("tt")) * d38(col("tt")) * d38(col("tt"))
            - d38(col("tt"))).as("ties"))
        .filter(col("na") > 0 && col("nb") > 0)
      val nD = (col("na") + col("nb")).cast("double")
      val varU = col("na").cast("double") * col("nb").cast("double") /
        12.0 * ((nD + 1.0)
          - col("ties").cast("double") / (nD * (nD - 1.0)))
      val z = (col("r2a") - col("na") * (col("na") + 1)
        - col("na") * col("nb")).cast("double") / 2.0 / sqrt(varU)
      val az = abs(z)
      val ttp = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = ttp * (lit(0.319381530) + ttp * (lit(-0.356563782) +
        ttp * (lit(1.781477937) + ttp * (lit(-1.821255978) +
          ttp * lit(1.330274429)))))
      val p = lit(2.0) * (lit(0.3989422804014327) *
        exp(lit(-0.5) * az * az)) * poly
      st.select(col("g").as("event_type"),
          col("na").cast("long").as("n_ref"),
          col("nb").cast("long").as("n_cur"),
          round((col("r2a") - col("na") * (col("na") + 1))
            .cast("double") / 2.0, 1).as("u_a"),
          round(z, 6).as("z"), round(p, 9).as("p_value"),
          (round(p, 9) < 0.05).as("reject"))
        .orderBy(col("event_type"))
    }),
      """WITH h AS (
        |  SELECT event_type AS g,
        |    CAST(floor(value * 100) AS BIGINT) AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END AS is_ref
        |  FROM events
        |), hh AS (
        |  SELECT g, v, CAST(sum(is_ref) AS BIGINT) AS ca,
        |    CAST(sum(1 - is_ref) AS BIGINT) AS cb
        |  FROM h GROUP BY 1, 2
        |), r AS (
        |  SELECT g, ca, cb, ca + cb AS tt,
        |    sum(ca + cb) OVER (PARTITION BY g ORDER BY v) AS cum
        |  FROM hh
        |), st AS (
        |  SELECT g, CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(sum(ca * ((cum - tt) * 2 + tt + 1)) AS BIGINT) AS r2a,
        |    CAST(sum(CAST(tt AS HUGEINT) * tt * tt - tt) AS DOUBLE)
        |      AS ties
        |  FROM r GROUP BY 1
        |  HAVING sum(ca) > 0 AND sum(cb) > 0
        |), calc AS (
        |  SELECT g, na, nb, r2a,
        |    CAST(r2a - na * (na + 1) - na * nb AS DOUBLE) / 2.0
        |      / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
        |        * ((CAST(na + nb AS DOUBLE) + 1.0)
        |          - ties / (CAST(na + nb AS DOUBLE)
        |            * (CAST(na + nb AS DOUBLE) - 1.0)))) AS zr
        |  FROM st
        |), pv0 AS (
        |  SELECT *, abs(zr) AS az,
        |    1.0 / (1.0 + 0.2316419 * abs(zr)) AS tt
        |  FROM calc
        |)
        |SELECT g AS event_type, na AS n_ref, nb AS n_cur,
        |  round(CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0, 1) AS u_a,
        |  round(zr, 6) AS z,
        |  round(2.0 * (0.3989422804014327 * exp(-0.5 * az * az))
        |    * (tt * (0.319381530 + tt * (-0.356563782
        |      + tt * (1.781477937 + tt * (-1.821255978
        |        + tt * 1.330274429))))), 9) AS p_value,
        |  round(2.0 * (0.3989422804014327 * exp(-0.5 * az * az))
        |    * (tt * (0.319381530 + tt * (-0.356563782
        |      + tt * (1.781477937 + tt * (-1.821255978
        |        + tt * 1.330274429))))), 9) < 0.05 AS reject
        |FROM pv0 ORDER BY event_type""".stripMargin),

    QuerySpec("q267_kruskal_wallis", ((s, dir) => {
      // Kruskal–Wallis H (1952): does the value distribution differ
      // across ALL event types at once — the k-group generalization of
      // q266 that replaces k·(k−1)/2 pairwise tests (and their
      // multiplicity problem) with one omnibus rank test. Rank sums
      // are exact integers on the pooled cents histogram (global
      // window over the bounded grid — the q177 contract); the
      // tie-corrected H maps to a p-value through the Wilson–Hilferty
      // cube-root χ² normal approximation, A&S tail, both in pinned
      // op order. One (type, cents) corpus exchange total.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      def d38(c: Column) = c.cast("decimal(38,0)")
      val hg = operators.Materializer.Local(
        ev.select(col("event_type").as("g"),
            floor(col("value") * 100).cast("long").as("v"))
          .groupBy(col("g"), col("v"))
          .agg(count(lit(1)).as("cnt")))
      val pooled = operators.Materializer.Local(
        hg.groupBy(col("v")).agg(sum(col("cnt")).as("tt")))
      val wv = Window.orderBy(col("v"))
      val pr = pooled.withColumn("cum", sum(col("tt")).over(wv))
        .select(col("v"),
          ((col("cum") - col("tt")) * 2 + col("tt") + 1).as("ar2"))
      val perg = hg.join(operators.Hints.boundedBroadcast(pr, "value_grid"), Seq("v"))
        .groupBy(col("g"))
        .agg(sum(col("cnt")).as("ng"),
          sum(col("cnt") * col("ar2")).as("r2g"))
      val gstats = perg.agg(count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(round((col("r2g").cast("double") / 2.0)
            * (col("r2g").cast("double") / 2.0)
            / col("ng").cast("double"), 6).cast("decimal(38,6)"))
          .as("sr"))
      val ties = pooled.agg(
        sum(d38(col("tt")) * d38(col("tt")) * d38(col("tt"))
          - d38(col("tt"))).as("ties"))
      val nD = col("n").cast("double")
      val hUnc = lit(12.0) / (nD * (nD + 1.0)) *
        col("sr").cast("double") - lit(3.0) * (nD + 1.0)
      val corr = lit(1.0) - col("ties").cast("double") /
        (nD * nD * nD - nD)
      val hStat = hUnc / corr
      val df = col("k").cast("double") - 1.0
      val r = hStat / df
      val zwh = (cbrt(r) - (lit(1.0) - lit(2.0) / (lit(9.0) * df))) /
        sqrt(lit(2.0) / (lit(9.0) * df))
      val az = abs(zwh)
      val ttp = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = ttp * (lit(0.319381530) + ttp * (lit(-0.356563782) +
        ttp * (lit(1.781477937) + ttp * (lit(-1.821255978) +
          ttp * lit(1.330274429)))))
      val tail = lit(0.3989422804014327) * exp(lit(-0.5) * az * az) *
        poly
      val p = when(zwh >= 0, tail).otherwise(lit(1.0) - tail)
      gstats.crossJoin(broadcast(ties))
        .select(col("k").cast("long").as("k"),
          col("n").cast("long").as("n"),
          round(hStat, 6).as("h"), round(zwh, 6).as("z_wh"),
          round(p, 9).as("p_value"),
          (round(p, 9) < 0.05).as("reject"))
    }),
      """WITH hg AS MATERIALIZED (
        |  SELECT event_type AS g,
        |    CAST(floor(value * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), pooled AS MATERIALIZED (
        |  SELECT v, CAST(sum(cnt) AS BIGINT) AS tt FROM hg GROUP BY 1
        |), pr AS (
        |  SELECT v, (cum - tt) * 2 + tt + 1 AS ar2
        |  FROM (SELECT v, tt, sum(tt) OVER (ORDER BY v) AS cum
        |        FROM pooled)
        |), perg AS (
        |  SELECT g, CAST(sum(cnt) AS BIGINT) AS ng,
        |    CAST(sum(cnt * ar2) AS BIGINT) AS r2g
        |  FROM hg JOIN pr USING (v) GROUP BY 1
        |), gs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(CAST(round((CAST(r2g AS DOUBLE) / 2.0)
        |      * (CAST(r2g AS DOUBLE) / 2.0) / CAST(ng AS DOUBLE), 6)
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sr
        |  FROM perg
        |), tsum AS (
        |  SELECT CAST(sum(CAST(tt AS HUGEINT) * tt * tt - tt)
        |    AS DOUBLE) AS ties
        |  FROM pooled
        |), calc AS (
        |  SELECT k, n,
        |    (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |        * sr - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |      / (1.0 - ties / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) AS h,
        |    CAST(k AS DOUBLE) - 1.0 AS df
        |  FROM gs, tsum
        |), zc AS (
        |  SELECT k, n, h,
        |    (cbrt(h / df) - (1.0 - 2.0 / (9.0 * df)))
        |      / sqrt(2.0 / (9.0 * df)) AS zwh
        |  FROM calc
        |), pv0 AS (
        |  SELECT k, n, h, zwh, abs(zwh) AS az,
        |    1.0 / (1.0 + 0.2316419 * abs(zwh)) AS tt
        |  FROM zc
        |), pv AS (
        |  SELECT k, n, h, zwh,
        |    CASE WHEN zwh >= 0
        |      THEN 0.3989422804014327 * exp(-0.5 * az * az)
        |        * (tt * (0.319381530 + tt * (-0.356563782
        |          + tt * (1.781477937 + tt * (-1.821255978
        |            + tt * 1.330274429)))))
        |      ELSE 1.0 - 0.3989422804014327 * exp(-0.5 * az * az)
        |        * (tt * (0.319381530 + tt * (-0.356563782
        |          + tt * (1.781477937 + tt * (-1.821255978
        |            + tt * 1.330274429))))) END AS p
        |  FROM pv0
        |)
        |SELECT k, n, round(h, 6) AS h, round(zwh, 6) AS z_wh,
        |  round(p, 9) AS p_value, round(p, 9) < 0.05 AS reject
        |FROM pv""".stripMargin),

    QuerySpec("q271_uplift_qini", ((s, dir) => {
      // uplift by segment with the Qini curve (Radcliffe 2007): per
      // user-segment, the treated-vs-control conversion lift, segments
      // ranked by estimated uplift, and the cumulative incremental
      // gains curve with its Qini AUC — the standard readout for
      // "WHERE does the treatment work", one level deeper than q147's
      // single overall z. Arms are the deterministic md5 coin
      // (q147/q244 precedent), so the true uplift is null and the
      // curve should hug the random-targeting diagonal — the honest
      // calibration check for the estimator itself. One user rollup +
      // one segment rollup; ranking, curve and AUC ride the bounded
      // 8-row segment table (global window — the q177 contract).
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val users = ev.groupBy(col("user_id")).agg(
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(19,6)"))
          .otherwise(lit(0).cast("decimal(19,6)"))).as("rev"))
      val unit = users.select(pmod(col("user_id"), lit(8L)).as("segment"),
        (substring(md5(col("user_id").cast("string")), 1, 1) < "8")
          .as("treated"),
        (col("rev") >= 600).as("conv"))
      // a segment without both arms has no defined uplift (and would
      // divide by zero under ANSI) — excluded from the curve, and the
      // totals are over the TESTED segments so the curve endpoint is
      // consistent
      val seg = operators.Materializer.Local(
        unit.groupBy(col("segment")).agg(
          sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treated") && col("conv"), 1L).otherwise(0L))
            .as("y_t"),
          sum(when(!col("treated") && col("conv"), 1L).otherwise(0L))
            .as("y_c"))
          .filter(col("n_t") > 0 && col("n_c") > 0))
      val up = seg.withColumn("uplift",
        round(col("y_t").cast("double") / col("n_t").cast("double")
          - col("y_c").cast("double") / col("n_c").cast("double"), 6))
      val wr = Window.orderBy(col("uplift").desc, col("segment").asc)
      val wcum = wr.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val tot = seg.agg(sum(col("n_t")).as("tn_t"),
        sum(col("n_c")).as("tn_c"), sum(col("y_t")).as("ty_t"),
        sum(col("y_c")).as("ty_c"))
      val ranked = operators.Materializer.Local(up
        .withColumn("rank", row_number().over(wr).cast("int"))
        .withColumn("cn_t", sum(col("n_t")).over(wcum))
        .withColumn("cn_c", sum(col("n_c")).over(wcum))
        .withColumn("cy_t", sum(col("y_t")).over(wcum))
        .withColumn("cy_c", sum(col("y_c")).over(wcum))
        .crossJoin(broadcast(tot))
        .withColumn("frac_pop",
          round((col("cn_t") + col("cn_c")).cast("double") /
            (col("tn_t") + col("tn_c")).cast("double"), 6))
        .withColumn("cum_gain",
          when(col("cn_c") > 0,
            round(col("cy_t").cast("double") - col("cy_c").cast("double")
              * (col("cn_t").cast("double") / col("cn_c").cast("double")),
              6))))
      val wl = Window.orderBy(col("rank"))
      val auc = ranked
        .withColumn("pf", lag(col("frac_pop"), 1, 0.0).over(wl))
        .withColumn("pg", lag(col("cum_gain"), 1, 0.0).over(wl))
        .select(round((col("frac_pop") - col("pf"))
          * (col("cum_gain") + col("pg")) / 2.0, 9)
          .cast("decimal(19,9)").as("term"))
        .agg(sum(col("term")).as("auc"))
      ranked.crossJoin(broadcast(auc))
        .select(col("segment"), col("n_t"), col("n_c"), col("y_t"),
          col("y_c"), col("uplift"), col("rank"), col("frac_pop"),
          col("cum_gain"),
          round(col("auc").cast("double")
            - (col("ty_t").cast("double") - col("ty_c").cast("double")
              * (col("tn_t").cast("double") / col("tn_c").cast("double")))
              / 2.0, 6).as("qini"))
        .orderBy(col("rank"))
    }),
      """WITH users AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(19,6))
        |      ELSE CAST(0 AS DECIMAL(19,6)) END) AS rev
        |  FROM events GROUP BY 1
        |), unitt AS (
        |  SELECT user_id % 8 AS segment,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      AS treated,
        |    rev >= 600 AS conv
        |  FROM users
        |), seg AS MATERIALIZED (
        |  SELECT segment,
        |    CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t,
        |    CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN treated AND conv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y_t,
        |    CAST(sum(CASE WHEN NOT treated AND conv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y_c
        |  FROM unitt GROUP BY 1
        |  HAVING sum(CASE WHEN treated THEN 1 ELSE 0 END) > 0
        |    AND sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) > 0
        |), up AS (
        |  SELECT *, round(CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |    - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS uplift
        |  FROM seg
        |), ranked AS (
        |  SELECT *,
        |    CAST(row_number() OVER ord AS INTEGER) AS rank,
        |    sum(n_t) OVER cum AS cn_t, sum(n_c) OVER cum AS cn_c,
        |    sum(y_t) OVER cum AS cy_t, sum(y_c) OVER cum AS cy_c
        |  FROM up
        |  WINDOW ord AS (ORDER BY uplift DESC, segment),
        |    cum AS (ORDER BY uplift DESC, segment
        |      ROWS UNBOUNDED PRECEDING)
        |), tot AS (
        |  SELECT CAST(sum(n_t) AS BIGINT) AS tn_t,
        |    CAST(sum(n_c) AS BIGINT) AS tn_c,
        |    CAST(sum(y_t) AS BIGINT) AS ty_t,
        |    CAST(sum(y_c) AS BIGINT) AS ty_c
        |  FROM seg
        |), curve AS (
        |  SELECT r.*, tn_t, tn_c, ty_t, ty_c,
        |    round(CAST(cn_t + cn_c AS DOUBLE)
        |      / CAST(tn_t + tn_c AS DOUBLE), 6) AS frac_pop,
        |    CASE WHEN cn_c > 0 THEN round(CAST(cy_t AS DOUBLE)
        |      - CAST(cy_c AS DOUBLE) * (CAST(cn_t AS DOUBLE)
        |        / CAST(cn_c AS DOUBLE)), 6) END AS cum_gain
        |  FROM ranked r, tot
        |), terms AS (
        |  SELECT *,
        |    CASE WHEN rank = 1 THEN 0.0
        |      ELSE lag(frac_pop) OVER (ORDER BY rank) END AS pf,
        |    CASE WHEN rank = 1 THEN 0.0
        |      ELSE lag(cum_gain) OVER (ORDER BY rank) END AS pg
        |  FROM curve
        |), auc AS (
        |  SELECT sum(CAST(round((frac_pop - pf) * (cum_gain + pg)
        |    / 2.0, 9) AS DECIMAL(19,9))) AS auc
        |  FROM terms
        |)
        |SELECT segment, n_t, n_c, y_t, y_c, uplift, rank, frac_pop,
        |  cum_gain,
        |  round(CAST(auc AS DOUBLE) - (CAST(ty_t AS DOUBLE)
        |    - CAST(ty_c AS DOUBLE) * (CAST(tn_t AS DOUBLE)
        |      / CAST(tn_c AS DOUBLE))) / 2.0, 6) AS qini
        |FROM curve, auc ORDER BY rank""".stripMargin),

    QuerySpec("q272_ipf_raking", ((s, dir) => {
      // iterative proportional fitting / raking (Deming & Stephan
      // 1940 — the same alternating-normalization kernel as Sinkhorn
      // scaling): reweight the (source × lang) corpus cells so both
      // margins match uniform targets — the survey-calibration /
      // mixture-balancing move a corpus curator applies when one
      // source over-represents a language. The corpus pays ONE cell
      // rollup; all 6 IPF rounds are margin-scaling algebra on the
      // bounded cell table, each half-round localCheckpointed so
      // lineage stays flat (round(12) requantization + DECIMAL margin
      // sums = the unrolled-SQL-replay contract). Cells absent from
      // the corpus stay absent (raking fits over observed support).
      val docs = t(s, dir, "documents")
      val cells0 = operators.Materializer.Local(docs
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n")).withColumn("w", lit(1.0)))
      val dims = cells0.agg(sum(col("n")).as("nt"),
        countDistinct(col("source")).as("ks"),
        countDistinct(col("lang")).as("kl"))
      var cells = cells0.crossJoin(broadcast(dims))
      for (_ <- 1 to 6) {
        val rs = cells.groupBy(col("source")).agg(
          sum(round(col("n") * col("w"), 6).cast("decimal(29,6)"))
            .as("msum"))
        cells = operators.Materializer.Local(
          cells.join(broadcast(rs), Seq("source"))
            .withColumn("w", round(col("w")
              * ((col("nt").cast("double") / col("ks").cast("double"))
                / col("msum").cast("double")), 12))
            .drop("msum"))
        val cs = cells.groupBy(col("lang")).agg(
          sum(round(col("n") * col("w"), 6).cast("decimal(29,6)"))
            .as("msum"))
        cells = operators.Materializer.Local(
          cells.join(broadcast(cs), Seq("lang"))
            .withColumn("w", round(col("w")
              * ((col("nt").cast("double") / col("kl").cast("double"))
                / col("msum").cast("double")), 12))
            .drop("msum"))
      }
      cells.select(col("source"), col("lang"), col("n"),
          round(col("w"), 6).as("weight"),
          round(col("n").cast("double") * col("w"), 6).as("fitted"))
        .orderBy(col("source"), col("lang"))
    }),
      {
      val half = (k: Int, key: String, kdim: String) =>
        s"""m$k AS (
           |  SELECT $key AS mk,
           |    sum(CAST(round(n * w, 6) AS DECIMAL(29,6))) AS msum
           |  FROM c${k - 1} GROUP BY 1
           |), c$k AS (
           |  SELECT source, lang, n,
           |    round(w * ((CAST(nt AS DOUBLE) / CAST($kdim AS DOUBLE))
           |      / CAST(msum AS DOUBLE)), 12) AS w
           |  FROM c${k - 1} JOIN m$k ON $key = mk, dims
           |)""".stripMargin
      val rounds = (1 to 12).map(k => if (k % 2 == 1)
        half(k, "source", "ks") else half(k, "lang", "kl"))
        .mkString(",\n")
      s"""WITH cells0 AS MATERIALIZED (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2
         |), dims AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    CAST(count(DISTINCT source) AS BIGINT) AS ks,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS kl
         |  FROM cells0
         |), c0 AS (
         |  SELECT source, lang, n, CAST(1.0 AS DOUBLE) AS w
         |  FROM cells0
         |),
         |$rounds
         |SELECT source, lang, n, round(w, 6) AS weight,
         |  round(CAST(n AS DOUBLE) * w, 6) AS fitted
         |FROM c12 ORDER BY source, lang""".stripMargin
    }),

    QuerySpec("q274_forecast_backtest", ((s, dir) => {
      // seasonal-naive forecast backtest with MASE (Hyndman &
      // Koehler 2006): forecast each day's revenue as the value 7
      // days earlier, then score MAE / RMSE / sMAPE and MASE (MAE
      // scaled by the one-step naive MAE over the same window —
      // MASE < 1 means the weekly pattern genuinely helps). The
      // model-eval loop every forecasting pipeline runs before
      // promoting a model; here the "model" is the baseline every
      // candidate must beat. One day-keyed corpus rollup; lags and
      // error sums ride the bounded daily table with exact DECIMAL
      // errors (sMAPE's per-row ratio round(9)-pinned).
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val daily = operators.Materializer.Local(ev
        .select(expr("unix_micros(ts) DIV 86400000000").as("dy"),
          col("value").cast("decimal(19,6)").as("v"))
        .groupBy(col("dy")).agg(sum(col("v")).as("y")))
      val wv = Window.orderBy(col("dy"))
      val lagged = daily
        .withColumn("f7", lag(col("y"), 7).over(wv))
        .withColumn("p1", lag(col("y"), 1).over(wv))
      val evald = lagged.filter(col("f7").isNotNull
        && col("p1").isNotNull)
      val err = abs(col("y") - col("f7"))
      val errD = err.cast("double")
      val den = abs(col("y")).cast("double") +
        abs(col("f7")).cast("double")
      val agg = evald.agg(count(lit(1)).as("n_eval"),
        sum(err).as("sae"),
        sum(round(errD * errD, 6).cast("decimal(29,6)")).as("sse"),
        sum(abs(col("y") - col("p1"))).as("sae1"),
        sum(round(when(abs(col("y")) + abs(col("f7")) > 0,
            errD * 2.0 / den).otherwise(lit(0.0)), 9)
          .cast("decimal(19,9)")).as("ssm"))
      val nD = col("n_eval").cast("double")
      val totald = daily.agg(count(lit(1)).as("n_days"))
      agg.crossJoin(broadcast(totald))
        .select(col("n_days").cast("long").as("n_days"),
          col("n_eval").cast("long").as("n_eval"),
          round(col("sae").cast("double") / nD, 6).as("mae"),
          round(sqrt(col("sse").cast("double") / nD), 6).as("rmse"),
          round(col("ssm").cast("double") / nD, 6).as("smape"),
          round(col("sae").cast("double")
            / col("sae1").cast("double"), 6).as("mase"))
    }),
      """WITH daily AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 86400000000 AS dy,
        |    sum(CAST(value AS DECIMAL(19,6))) AS y
        |  FROM events GROUP BY 1
        |), lagged AS (
        |  SELECT dy, y, lag(y, 7) OVER (ORDER BY dy) AS f7,
        |    lag(y, 1) OVER (ORDER BY dy) AS p1
        |  FROM daily
        |), ev AS (
        |  SELECT * FROM lagged WHERE f7 IS NOT NULL AND p1 IS NOT NULL
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
        |    sum(abs(y - f7)) AS sae,
        |    sum(CAST(round(CAST(abs(y - f7) AS DOUBLE)
        |      * CAST(abs(y - f7) AS DOUBLE), 6) AS DECIMAL(29,6)))
        |      AS sse,
        |    sum(abs(y - p1)) AS sae1,
        |    sum(CAST(round(CASE WHEN abs(y) + abs(f7) > 0
        |      THEN CAST(abs(y - f7) AS DOUBLE) * 2.0
        |        / (CAST(abs(y) AS DOUBLE) + CAST(abs(f7) AS DOUBLE))
        |      ELSE 0.0 END, 9) AS DECIMAL(19,9))) AS ssm
        |  FROM ev
        |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        |SELECT n_days, n_eval,
        |  round(CAST(sae AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
        |    AS mae,
        |  round(sqrt(CAST(sse AS DOUBLE) / CAST(n_eval AS DOUBLE)), 6)
        |    AS rmse,
        |  round(CAST(ssm AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
        |    AS smape,
        |  round(CAST(sae AS DOUBLE) / CAST(sae1 AS DOUBLE), 6) AS mase
        |FROM agg, nd""".stripMargin),

    QuerySpec("q275_wilcoxon_signed", ((s, dir) => {
      // Wilcoxon signed-rank test (Wilcoxon 1945) on PAIRED per-user
      // purchase revenue, reference vs current period: each user is
      // their own control, so user-level variance cancels — the
      // nonparametric paired complement to q266's unpaired rank-sum
      // (and the continuous sibling of q262's binary McNemar). Zero
      // differences drop (Wilcoxon's rule), ranks of |d| use the
      // tie-averaged 2·rank integer algebra on the cents-exact
      // difference histogram (differences of cents sums are integers,
      // so the histogram is bounded by the cents RANGE, not the user
      // count), and the tie-corrected normal z maps to the A&S
      // two-sided p in pinned op order.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val perUser = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"),
          when(col("ts") < cutoff, 1L).otherwise(0L).as("is_ref"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("is_ref") === 1L, col("vc")).otherwise(0L))
          .as("before"),
          sum(when(col("is_ref") === 0L, col("vc")).otherwise(0L))
            .as("after"))
      val nz = perUser.select((col("after") - col("before")).as("d"))
      val zeros = nz.agg(sum(when(col("d") === 0L, 1L).otherwise(0L))
        .as("n_zero"))
      val h = nz.filter(col("d") =!= 0L)
        .groupBy(abs(col("d")).as("ad"))
        .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"),
          count(lit(1)).as("tt"))
      val wc = Window.orderBy(col("ad"))
      val st = h.withColumn("cum", sum(col("tt")).over(wc))
        .withColumn("ar2",
          (col("cum") - col("tt")) * 2 + col("tt") + 1)
        .agg(sum(col("tt")).as("n"),
          sum(col("pos") * col("ar2")).as("w2"),
          sum(d38(col("tt")) * d38(col("tt")) * d38(col("tt"))
            - d38(col("tt"))).as("ties"))
      // 48·Var = 2n(n+1)(2n+1) − Σ(t³−t), and the centered statistic
      // 4·(W+ − μ) = 2·W2 − n(n+1): exact integers until the final z
      val var48 = d38(lit(2)) * d38(col("n")) * d38(col("n") + 1) *
        d38(col("n") * 2 + 1) - col("ties")
      val z = (col("w2") * 2 - col("n") * (col("n") + 1))
        .cast("double") / 4.0 / sqrt(var48.cast("double") / 48.0)
      val az = abs(z)
      val ttp = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = ttp * (lit(0.319381530) + ttp * (lit(-0.356563782) +
        ttp * (lit(1.781477937) + ttp * (lit(-1.821255978) +
          ttp * lit(1.330274429)))))
      val p = lit(2.0) * (lit(0.3989422804014327) *
        exp(lit(-0.5) * az * az)) * poly
      st.crossJoin(broadcast(zeros))
        .select(col("n").cast("long").as("n_pairs"),
          col("n_zero").cast("long").as("n_zero"),
          round(col("w2").cast("double") / 2.0, 1).as("w_plus"),
          round(z, 6).as("z"), round(p, 9).as("p_value"),
          (round(p, 9) < 0.05).as("reject"))
    }),
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS bfr,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS aft
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), dd AS (SELECT aft - bfr AS d FROM pu
        |), zs AS (
        |  SELECT CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_zero
        |  FROM dd
        |), h AS (
        |  SELECT abs(d) AS ad,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos,
        |    CAST(count(*) AS BIGINT) AS tt
        |  FROM dd WHERE d <> 0 GROUP BY 1
        |), r AS (
        |  SELECT pos, tt,
        |    sum(tt) OVER (ORDER BY ad) AS cum
        |  FROM h
        |), st AS (
        |  SELECT CAST(sum(tt) AS BIGINT) AS n,
        |    CAST(sum(pos * ((cum - tt) * 2 + tt + 1)) AS BIGINT) AS w2,
        |    sum(CAST(tt AS HUGEINT) * tt * tt - tt) AS ties
        |  FROM r
        |), calc AS (
        |  SELECT n, w2,
        |    CAST(w2 * 2 - n * (n + 1) AS DOUBLE) / 4.0
        |      / sqrt(CAST(CAST(2 AS HUGEINT) * n * (n + 1)
        |        * (n * 2 + 1) - ties AS DOUBLE) / 48.0) AS zr
        |  FROM st
        |), pv0 AS (
        |  SELECT *, abs(zr) AS az,
        |    1.0 / (1.0 + 0.2316419 * abs(zr)) AS tt
        |  FROM calc
        |)
        |SELECT n AS n_pairs, n_zero,
        |  round(CAST(w2 AS DOUBLE) / 2.0, 1) AS w_plus,
        |  round(zr, 6) AS z,
        |  round(2.0 * (0.3989422804014327 * exp(-0.5 * az * az))
        |    * (tt * (0.319381530 + tt * (-0.356563782
        |      + tt * (1.781477937 + tt * (-1.821255978
        |        + tt * 1.330274429))))), 9) AS p_value,
        |  round(2.0 * (0.3989422804014327 * exp(-0.5 * az * az))
        |    * (tt * (0.319381530 + tt * (-0.356563782
        |      + tt * (1.781477937 + tt * (-1.821255978
        |        + tt * 1.330274429))))), 9) < 0.05 AS reject
        |FROM pv0, zs""".stripMargin),

    QuerySpec("q278_signflip_test", ((s, dir) => {
      // paired sign-flip randomization test (Fisher 1935; the exact
      // finite-sample test a parametric paired t approximates): did
      // per-user mean event value shift between the first and second
      // half of the observation window? Under H0 each user's paired
      // difference is symmetric, so its sign is exchangeable — flip
      // signs by the deterministic md5 bit per (user, permutation),
      // P=128 replayable permutations, p = (1 + #{|T_p| ≥ |T|})/(P+1)
      // (the add-one rule that keeps the test exact, Phipson & Smyth
      // 2010). ONE corpus exchange to (user, half) cells; the pair
      // table is user-bounded and the ×128 flip explode rides it
      // map-side. The readout on this corpus is an honest null
      // (p ≈ 0.8) — the q238 "no signal" convention.
      val ev = t(s, dir, "events")
      val bounds = ev.agg(expr(
        "(min(unix_micros(ts)) + max(unix_micros(ts))) DIV 2")
        .as("mid"))
      val halves = operators.Materializer.Local(
        ev.crossJoin(broadcast(bounds))
          .select(col("user_id"),
            (unix_micros(col("ts")) >= col("mid")).as("h2"),
            col("value"))
          .groupBy(col("user_id"), col("h2"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(19,6)")).as("sv")))
      val a = halves.filter(!col("h2"))
        .select(col("user_id"), col("n").as("na"), col("sv").as("sa"))
      val b2 = halves.filter(col("h2"))
        .select(col("user_id").as("u2"), col("n").as("nb"),
          col("sv").as("sb"))
      // the pair join is UNHINTED: both halves are user-cardinality
      // (entity-scale at 100 TB) — a forced broadcast would bypass the
      // size check and OOM instead of falling back; both sides already
      // arrive hash-partitioned on the user key from the halves
      // aggregate, so the shuffled join is cheap and AQE still
      // broadcasts when a side is genuinely small
      val pairs = operators.Materializer.Local(
        a.join(b2, col("user_id") === col("u2"))
          .select(col("user_id"),
            round(col("sa").cast("double") / col("na").cast("double")
              - col("sb").cast("double") / col("nb").cast("double"), 9)
              .as("d")))
      val obs = pairs.agg(count(lit(1)).as("n_pairs"),
        round(sum(col("d").cast("decimal(29,9)")).cast("double")
          / count(lit(1)).cast("double"), 9).as("t_obs"))
      val flip = when(substring(md5(concat(lit("sf|"),
          col("user_id").cast("string"), lit("|"),
          col("p").cast("string"))), 1, 1) < lit("8"),
        col("d")).otherwise(-col("d"))
      val flips = pairs
        .select(col("user_id"), col("d"),
          explode(sequence(lit(0), lit(127))).as("p"))
        .groupBy(col("p"))
        .agg(round(sum(round(flip, 9).cast("decimal(29,9)"))
            .cast("double") / count(lit(1)).cast("double"), 9)
          .as("t_p"))
      val cnt = flips.crossJoin(broadcast(obs))
        .filter(abs(col("t_p")) >= abs(col("t_obs")))
        .agg(count(lit(1)).as("n_ge"))
      obs.crossJoin(broadcast(cnt))
        .select(col("n_pairs"), col("t_obs"), col("n_ge"),
          round((lit(1.0) + col("n_ge").cast("double")) / lit(129.0),
            6).as("p_value"))
    }),
      """WITH bounds AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events
        |), halves AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) >= mid AS h2,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(19,6))) AS sv
        |  FROM events, bounds GROUP BY 1, 2
        |), pairs AS MATERIALIZED (
        |  SELECT a.user_id,
        |    round(CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE), 9) AS d
        |  FROM halves a JOIN halves b USING (user_id)
        |  WHERE NOT a.h2 AND b.h2
        |), obs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    round(CAST(sum(CAST(d AS DECIMAL(29,9))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 9) AS t_obs
        |  FROM pairs
        |), flips AS (
        |  SELECT p,
        |    round(CAST(sum(CAST(round(CASE WHEN
        |        strpos('0123456789abcdef',
        |          substr(md5('sf|' || CAST(user_id AS VARCHAR) || '|'
        |            || CAST(p AS VARCHAR)), 1, 1)) - 1 < 8
        |      THEN d ELSE -d END, 9) AS DECIMAL(29,9))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 9) AS t_p
        |  FROM pairs, range(128) t(p) GROUP BY 1
        |), cnt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_ge
        |  FROM flips, obs WHERE abs(t_p) >= abs(t_obs)
        |)
        |SELECT n_pairs, t_obs, n_ge,
        |  round((1.0 + CAST(n_ge AS DOUBLE)) / 129.0, 6) AS p_value
        |FROM obs, cnt""".stripMargin),

    QuerySpec("q280_rdd", ((s, dir) => {
      // sharp regression-discontinuity estimate at the zero-balance
      // cutoff (Thistlethwaite & Campbell 1960; Imbens & Lemieux 2008):
      // local-linear fits of order value on account balance on each
      // side of 0 within a ±1000 bandwidth, τ = the intercept gap at
      // the cutoff, plus the McCrary-style density ratio in a ±250
      // window (bunching at the cutoff invalidates the design). The
      // balance filter pushes to the customer scan; one conditional
      // sufficient-sums aggregate per side; the two 1-var OLS solves
      // are scalar algebra. On this synthetic corpus τ ≈ 0 relative to
      // the ~250k intercepts — the honest no-discontinuity readout.
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
        .filter(col("c_acctbal") > -1000.0 && col("c_acctbal") < 1000.0)
      val j = operators.Materializer.Local(
        // balance-trimmed but still SF-linear: unhinted equi-join
        o.join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_acctbal").cast("double").as("x"),
            col("o_totalprice").cast("decimal(19,6)").as("y"),
            (col("c_acctbal") >= 0).as("rt")))
      val sums = j.groupBy(col("rt")).agg(
        count(lit(1)).as("n"),
        sum(round(col("x"), 2).cast("decimal(19,6)")).as("sx"),
        sum(round(col("x") * col("x"), 4).cast("decimal(29,6)"))
          .as("sxx"),
        sum(col("y")).as("sy"),
        sum(round(col("x") * col("y").cast("double"), 4)
          .cast("decimal(29,6)")).as("sxy"))
      val slope = round((col("n").cast("double")
          * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        / (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")), 9)
      val fit = sums.select(col("rt"), col("n"), slope.as("slope"),
          col("sx"), col("sy"))
        .select(col("rt"), col("n"), col("slope"),
          round((col("sy").cast("double")
            - col("slope") * col("sx").cast("double"))
            / col("n").cast("double"), 6).as("icpt"))
      val l = fit.filter(!col("rt")).select(col("n").as("n_l"),
        col("icpt").as("icpt_l"), col("slope").as("slope_l"))
      val r = fit.filter(col("rt")).select(col("n").as("n_r"),
        col("icpt").as("icpt_r"), col("slope").as("slope_r"))
      val dens = j.agg(
        sum(when(!col("rt") && col("x") >= -250.0, 1L).otherwise(0L))
          .as("d_l"),
        sum(when(col("rt") && col("x") < 250.0, 1L).otherwise(0L))
          .as("d_r"))
      operators.Hints.boundedBroadcast(l, "arm_domain").crossJoin(operators.Hints.boundedBroadcast(r, "arm_domain"))
        .crossJoin(broadcast(dens))
        .select(col("n_l"), col("n_r"), col("icpt_l"), col("icpt_r"),
          col("slope_l"), col("slope_r"),
          round(col("icpt_r") - col("icpt_l"), 6).as("tau"),
          col("d_l"), col("d_r"),
          round(col("d_r").cast("double") / col("d_l").cast("double"),
            6).as("density_ratio"))
    }),
      """WITH j AS MATERIALIZED (
        |  SELECT CAST(c_acctbal AS DOUBLE) AS x,
        |    CAST(o_totalprice AS DECIMAL(19,6)) AS y,
        |    c_acctbal >= 0 AS rt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_acctbal > -1000.0 AND c_acctbal < 1000.0
        |), s AS (
        |  SELECT rt, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(round(x, 2) AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(round(x * x, 4) AS DECIMAL(29,6))) AS sxx,
        |    sum(y) AS sy,
        |    sum(CAST(round(x * CAST(y AS DOUBLE), 4)
        |      AS DECIMAL(29,6))) AS sxy
        |  FROM j GROUP BY 1
        |), fit AS (
        |  SELECT rt, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS slope
        |  FROM s
        |), fit2 AS (
        |  SELECT s.rt, s.n AS n, fit.slope AS slope,
        |    round((CAST(sy AS DOUBLE) - fit.slope
        |      * CAST(sx AS DOUBLE)) / CAST(s.n AS DOUBLE), 6) AS icpt
        |  FROM s JOIN fit ON s.rt = fit.rt
        |), dens AS (
        |  SELECT CAST(sum(CASE WHEN NOT rt AND x >= -250.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d_l,
        |    CAST(sum(CASE WHEN rt AND x < 250.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_r
        |  FROM j
        |)
        |SELECT l.n AS n_l, r.n AS n_r, l.icpt AS icpt_l,
        |  r.icpt AS icpt_r, l.slope AS slope_l, r.slope AS slope_r,
        |  round(r.icpt - l.icpt, 6) AS tau, d_l, d_r,
        |  round(CAST(d_r AS DOUBLE) / CAST(d_l AS DOUBLE), 6)
        |    AS density_ratio
        |FROM (SELECT * FROM fit2 WHERE NOT rt) l,
        |  (SELECT * FROM fit2 WHERE rt) r, dens""".stripMargin),

    QuerySpec("q284_ope_snips", ((s, dir) => {
      // off-policy evaluation of a greedy contextual policy (Horvitz &
      // Thompson 1952 IPS; Swaminathan & Joachims 2015 SNIPS): train a
      // per-context (6-hour bucket) greedy action on 75% of users,
      // then estimate its value on held-out users' LOGGED traffic —
      // IPS reweights matching rows by 1/p̂_log(a|ctx), SNIPS
      // self-normalizes (trades a little bias for much less variance),
      // DM reads the trained outcome table, and the on-policy held-out
      // mean sits alongside as the sanity anchor. ESS says how many
      // effective samples the weights left. ONE corpus rollup to
      // (ctx, action, split) cells; policy, propensities, matching and
      // every estimator are algebra on that ≤40-row table — the whole
      // evaluation costs one exchange at any corpus size.
      val ev = t(s, dir, "events")
      val base = operators.Materializer.Local(ev.select(
          expr("CAST(hour(ts) AS BIGINT) DIV 6").as("ctx"),
          col("event_type").as("a"),
          (substring(md5(concat(lit("ope|"),
            col("user_id").cast("string"))), 1, 1) < lit("c"))
            .as("is_train"),
          col("value"))
        .groupBy(col("ctx"), col("a"), col("is_train"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(19,6)")).as("sv")))
      val tr = operators.Materializer.Local(base.filter(col("is_train"))
        .select(col("ctx"), col("a"), col("n"),
          round(col("sv").cast("double") / col("n").cast("double"), 9)
            .as("mt")))
      val trc = tr.groupBy(col("ctx")).agg(sum(col("n")).as("nc"))
      val plog = tr.join(operators.Hints.boundedBroadcast(trc, "ctx_domain"), Seq("ctx"))
        .select(col("ctx"), col("a"),
          round(col("n").cast("double") / col("nc").cast("double"), 9)
            .as("pl"))
      val mx = tr.groupBy(col("ctx")).agg(max(col("mt")).as("mmax"))
        .withColumnRenamed("ctx", "mctx")
      // tr/held/plog/pol all descend from `base`, so `ctx` keeps ONE
      // exprId through localCheckpoint — every join below renames its
      // right side before joining instead of dataset-qualifying
      val pol = tr.join(operators.Hints.boundedBroadcast(mx, "ctx_domain"),
          col("ctx") === col("mctx") && col("mt") === col("mmax"))
        .groupBy(col("ctx")).agg(min(col("a")).as("pi_a"))
        .select(col("ctx").as("pctx"), col("pi_a"))
      val held = base.filter(!col("is_train"))
      val htot = held.agg(sum(col("n")).as("nh"), sum(col("sv"))
        .as("svh"))
      val ttot = base.filter(col("is_train"))
        .agg(sum(col("n")).as("n_train"))
      val w = round(lit(1.0) / col("pl"), 9)
      val plogR = plog.select(col("ctx").as("lctx"), col("a").as("la"),
        col("pl"))
      val m = held.join(operators.Hints.boundedBroadcast(pol, "ctx_domain"),
          col("ctx") === col("pctx") && col("a") === col("pi_a"))
        .join(operators.Hints.boundedBroadcast(plogR, "ctx_domain"),
          col("ctx") === col("lctx") && col("a") === col("la"))
      def pinc(cc: Column) = round(cc, 6).cast("decimal(29,6)")
      val ips = m.agg(
        sum(pinc(col("sv").cast("double") * w)).as("swr"),
        sum(pinc(col("n").cast("double") * w)).as("swn"),
        sum(pinc(col("n").cast("double") * w * w)).as("swn2"))
      val hc = held.groupBy(col("ctx")).agg(sum(col("n")).as("nhc"))
      val trR = tr.select(col("ctx").as("tctx"), col("a").as("ta"),
        col("mt"))
      val dm = hc.join(operators.Hints.boundedBroadcast(pol, "ctx_domain"),
          col("ctx") === col("pctx"))
        .join(operators.Hints.boundedBroadcast(trR, "ctx_domain"),
          col("ctx") === col("tctx") && col("pi_a") === col("ta"))
        .agg(sum(pinc(col("nhc").cast("double") * col("mt")))
          .as("sdm"))
      ips.crossJoin(broadcast(dm)).crossJoin(broadcast(htot))
        .crossJoin(broadcast(ttot))
        .select(col("n_train").cast("long").as("n_train"),
          col("nh").cast("long").as("n_held"),
          round(col("svh").cast("double") / col("nh").cast("double"),
            6).as("value_onpolicy"),
          round(col("sdm").cast("double") / col("nh").cast("double"),
            6).as("value_dm"),
          round(col("swr").cast("double") / col("nh").cast("double"),
            6).as("value_ips"),
          round(col("swr").cast("double") / col("swn").cast("double"),
            6).as("value_snips"),
          round(col("swn").cast("double") * col("swn").cast("double")
            / col("swn2").cast("double"), 6).as("ess"))
    }),
      """WITH base AS MATERIALIZED (
        |  SELECT CAST(hour(ts) AS BIGINT) // 6 AS ctx,
        |    event_type AS a,
        |    substr(md5('ope|' || CAST(user_id AS VARCHAR)), 1, 1) < 'c'
        |      AS is_train,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(19,6))) AS sv
        |  FROM events GROUP BY 1, 2, 3
        |), tr AS (
        |  SELECT ctx, a, n,
        |    round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mt
        |  FROM base WHERE is_train
        |), trc AS (
        |  SELECT ctx, CAST(SUM(n) AS BIGINT) AS nc FROM tr GROUP BY 1
        |), plog AS (
        |  SELECT tr.ctx, a, mt,
        |    round(CAST(n AS DOUBLE) / CAST(nc AS DOUBLE), 9) AS pl
        |  FROM tr JOIN trc ON tr.ctx = trc.ctx
        |), mx AS (
        |  SELECT ctx, max(mt) AS mmax FROM tr GROUP BY 1
        |), pol AS (
        |  SELECT tr.ctx, min(a) AS pi_a
        |  FROM tr JOIN mx ON tr.ctx = mx.ctx AND tr.mt = mx.mmax
        |  GROUP BY 1
        |), held AS (
        |  SELECT ctx, a, n, sv FROM base WHERE NOT is_train
        |), htot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nh, SUM(sv) AS svh FROM held
        |), ttot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_train FROM base
        |  WHERE is_train
        |), m AS (
        |  SELECT held.ctx, held.n, held.sv, plog.pl
        |  FROM held JOIN pol ON held.ctx = pol.ctx
        |    AND held.a = pol.pi_a
        |  JOIN plog ON held.ctx = plog.ctx AND held.a = plog.a
        |), ips AS (
        |  SELECT
        |    SUM(CAST(round(CAST(sv AS DOUBLE) * round(1.0 / pl, 9), 6)
        |      AS DECIMAL(29,6))) AS swr,
        |    SUM(CAST(round(CAST(n AS DOUBLE) * round(1.0 / pl, 9), 6)
        |      AS DECIMAL(29,6))) AS swn,
        |    SUM(CAST(round(CAST(n AS DOUBLE) * round(1.0 / pl, 9)
        |      * round(1.0 / pl, 9), 6) AS DECIMAL(29,6))) AS swn2
        |  FROM m
        |), hc AS (
        |  SELECT ctx, CAST(SUM(n) AS BIGINT) AS nhc FROM held
        |  GROUP BY 1
        |), dm AS (
        |  SELECT SUM(CAST(round(CAST(nhc AS DOUBLE) * tr.mt, 6)
        |    AS DECIMAL(29,6))) AS sdm
        |  FROM hc JOIN pol ON hc.ctx = pol.ctx
        |  JOIN tr ON tr.ctx = pol.ctx AND tr.a = pol.pi_a
        |)
        |SELECT n_train, nh AS n_held,
        |  round(CAST(svh AS DOUBLE) / CAST(nh AS DOUBLE), 6)
        |    AS value_onpolicy,
        |  round(CAST(sdm AS DOUBLE) / CAST(nh AS DOUBLE), 6)
        |    AS value_dm,
        |  round(CAST(swr AS DOUBLE) / CAST(nh AS DOUBLE), 6)
        |    AS value_ips,
        |  round(CAST(swr AS DOUBLE) / CAST(swn AS DOUBLE), 6)
        |    AS value_snips,
        |  round(CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
        |    / CAST(swn2 AS DOUBLE), 6) AS ess
        |FROM ips, dm, htot, ttot""".stripMargin),

    QuerySpec("q291_cf_eval", ((s, dir) => {
      // leave-last-basket-out evaluation of q270's item-item CF
      // (the Cremonesi/Koren/Turrin RecSys 2010 eval shape): hold out
      // each multi-order customer's LAST order, train co-occurrence
      // cosine neighbors on the prefix orders only (no leakage),
      // recommend top-10 by profile-summed cosine with owned items
      // excluded, and read out hit-rate@10 — the offline number a
      // recommender ships or doesn't ship on. Every stage is a keyed
      // join or an entity-bounded window (per-customer order rank,
      // per-item neighbor rank, per-customer rec rank); scores are
      // sums of round(9) DECIMAL cosines, so ranking never sits on a
      // float ulp.
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy(col("cust"))
        .orderBy(col("o_orderdate").desc, col("ok").desc)
      val ranked = t(s, dir, "orders")
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
          col("o_orderdate"))
        .withColumn("ork", row_number().over(wOrd))
        .withColumn("n_orders",
          count(lit(1)).over(Window.partitionBy(col("cust"))))
        .filter(col("n_orders") >= 2)
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val trainB = operators.Materializer.Local(
        ranked.filter(col("ork") > 1).select(col("cust"), col("ok"))
          .join(items, Seq("ok")).select(col("cust"), col("ok"),
            col("pk")))
      val testI = ranked.filter(col("ork") === 1)
        .select(col("cust"), col("ok"))
        .join(items, Seq("ok")).select(col("cust"), col("pk")).distinct()
      // kept as the self-join formulation (r13 measured: the basket-
      // aggregation rewrite + a baskets checkpoint REGRESSED this query
      // ~+1.3 s — trainB is already materialized, so exchange reuse
      // covers the references and the collect_list pass is pure cost
      // here, unlike q163/q205 where it replaced un-reused self-joins)
      val baskets = trainB.select(col("ok"), col("pk")).distinct()
      val nI = baskets.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
      val pairs = baskets
        .join(baskets.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
        .filter(col("pk") < col("pk2"))
        .groupBy(col("pk"), col("pk2")).agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2)
      val sym = pairs
        .select(col("pk").as("a"), col("pk2").as("b"), col("co"))
        .unionByName(pairs
          .select(col("pk2").as("a"), col("pk").as("b"), col("co")))
      val wN = Window.partitionBy(col("a"))
        .orderBy(col("cos").desc, col("b").asc)
      val nbrs = sym
        // unhinted like q270: nI is per-part (SF-linear); equi-keyed on
        // the part id, AQE broadcasts only when genuinely small. b-margin
        // first, a-margin last, so the rank window (partitioned by a)
        // reuses the final join exchange (see q270)
        .join(nI.select(col("pk").as("b"), col("cnt").as("nb")),
          Seq("b"))
        .join(nI.select(col("pk").as("a"), col("cnt").as("na")),
          Seq("a"))
        .select(col("a"), col("b"),
          round(col("co").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double")),
            9).as("cos"))
        .withColumn("nrk", row_number().over(wN))
        .filter(col("nrk") <= 5)
      val prof = trainB.select(col("cust"), col("pk")).distinct()
      val wR = Window.partitionBy(col("cust"))
        .orderBy(col("score").desc, col("rec").asc)
      val top = prof
        .join(nbrs.select(col("a").as("pk"), col("b").as("rec"),
          col("cos")), Seq("pk"))
        .groupBy(col("cust"), col("rec"))
        .agg(sum(col("cos").cast("decimal(19,9)")).as("score"))
        .join(prof.select(col("cust"), col("pk").as("rec")),
          Seq("cust", "rec"), "left_anti")
        .withColumn("rrk", row_number().over(wR))
        .filter(col("rrk") <= 10)
      val hits = top
        .join(testI.select(col("cust"), col("pk").as("rec"),
          lit(1L).as("hit")), Seq("cust", "rec"), "left")
        .groupBy(col("cust"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      hits.agg(count(lit(1)).as("users_eval"),
          sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("users_hit"),
          sum(col("n_hits")).as("total_hits"))
        .select(col("users_eval").cast("long").as("users_eval"),
          col("users_hit").cast("long").as("users_hit"),
          round(col("users_hit").cast("double")
            / col("users_eval").cast("double"), 6).as("hit_rate"),
          round(col("total_hits").cast("double")
            / col("users_eval").cast("double"), 6).as("mean_hits"))
    }),
      """WITH ranked AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS BIGINT)
        |      AS ork,
        |    CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT)
        |      AS n_orders
        |  FROM orders
        |), mult AS (SELECT * FROM ranked WHERE n_orders >= 2),
        |items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem
        |), trainb AS MATERIALIZED (
        |  SELECT cust, ok, pk FROM mult JOIN items USING (ok)
        |  WHERE ork > 1
        |), testi AS (
        |  SELECT DISTINCT cust, pk FROM mult JOIN items USING (ok)
        |  WHERE ork = 1
        |), baskets AS (SELECT DISTINCT ok, pk FROM trainb),
        |ni AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS cnt
        |  FROM baskets GROUP BY 1
        |), pairs AS (
        |  SELECT a.pk, b.pk2, CAST(count(*) AS BIGINT) AS co
        |  FROM baskets a
        |  JOIN (SELECT ok, pk AS pk2 FROM baskets) b USING (ok)
        |  WHERE a.pk < b.pk2
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT pk AS a, pk2 AS b, co FROM pairs
        |  UNION ALL SELECT pk2 AS a, pk AS b, co FROM pairs
        |), nbrs AS MATERIALIZED (
        |  SELECT a, b, cs FROM (
        |    SELECT a, b, cs, row_number() OVER (PARTITION BY a
        |      ORDER BY cs DESC, b) AS nrk
        |    FROM (
        |      SELECT a, b, round(CAST(co AS DOUBLE)
        |        / sqrt(CAST(na.cnt AS DOUBLE) * CAST(nb.cnt AS DOUBLE)),
        |        9) AS cs
        |      FROM sym JOIN ni na ON na.pk = a JOIN ni nb ON nb.pk = b))
        |  WHERE nrk <= 5
        |), prof AS MATERIALIZED (SELECT DISTINCT cust, pk FROM trainb),
        |scores AS (
        |  SELECT cust, b AS rec, SUM(CAST(cs AS DECIMAL(19,9)))
        |    AS score
        |  FROM prof JOIN nbrs ON prof.pk = nbrs.a
        |  GROUP BY 1, 2
        |), cand AS (
        |  SELECT s.cust, s.rec, s.score FROM scores s
        |  LEFT JOIN prof p ON s.cust = p.cust AND s.rec = p.pk
        |  WHERE p.pk IS NULL
        |), top AS (
        |  SELECT cust, rec FROM (
        |    SELECT cust, rec, row_number() OVER (PARTITION BY cust
        |      ORDER BY score DESC, rec) AS rrk FROM cand)
        |  WHERE rrk <= 10
        |), hits AS (
        |  SELECT t.cust,
        |    CAST(SUM(CASE WHEN ti.pk IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hits
        |  FROM top t LEFT JOIN testi ti
        |    ON t.cust = ti.cust AND t.rec = ti.pk
        |  GROUP BY 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS users_eval,
        |  CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS users_hit,
        |  round(CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS hit_rate,
        |  round(CAST(SUM(n_hits) AS DOUBLE) / CAST(count(*) AS DOUBLE),
        |    6) AS mean_hits
        |FROM hits""".stripMargin),

    QuerySpec("q309_heavyhitter_merge", ((s, dir) => {
      // mergeable frequent-items summaries — the O(k)-per-shard ANALYZE
      // regime for an UNBOUNDED item domain (Agarwal et al., PODS 2012:
      // merged top-k-with-threshold summaries keep a deterministic error
      // bound), completing the two-regime synopsis story next to
      // quantiles (q305 exact / q306 lossy): each shard keeps its k most
      // frequent tokens (count desc, token asc — deterministic) plus
      // err_s = the largest DROPPED count; a shard's true count for any
      // item is exact if kept, else <= err_s, so the merged summary
      // brackets every item's corpus count in [Σ kept, Σ kept-or-err]
      // while shipping only k+1 numbers per shard. The audit reads the
      // bracket for the exact global top-10 tokens, certifies
      // containment, and prices the worst relative bracket width. The
      // per-shard rank window partitions by shard — parallel across
      // shards, and in the sharded-ANALYZE deployment each shard's
      // (tok, c) histogram is machine-local by construction. The
      // summarization body is Stats.heavyHitterBracket.
      val toks = t(s, dir, "documents").select(
        operators.Sharding.shardOf("doc_id", 4).as("shard"),
        explode(operators.TextAnalysis.tokens(col("text"))).as("tok"))
      val shardCounts =
        toks.groupBy(col("shard"), col("tok")).agg(count(lit(1)).as("c"))
      operators.Stats.heavyHitterBracket(shardCounts)
    }),
      // per-shard top-k-with-threshold summaries merged; the q305 oracle's
      // md5 shard replay, then the bracket per exact global top-10 token
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS raw
        |  FROM documents
        |), toks AS (
        |  SELECT CAST(list_sum([CAST(round(pow(16, 7 - i)) AS BIGINT) *
        |      (strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1)
        |      for i in range(0, 8)]) AS BIGINT) % 4 AS shard,
        |    unnest(raw) AS tok
        |  FROM tk
        |), sc AS MATERIALIZED (
        |  SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2
        |), rk AS MATERIALIZED (
        |  SELECT shard, tok, c,
        |    row_number() OVER (PARTITION BY shard
        |      ORDER BY c DESC, tok ASC) AS rk
        |  FROM sc
        |), kept AS (
        |  SELECT shard, tok, c FROM rk WHERE rk <= 32
        |), errall AS (
        |  SELECT s.shard, COALESCE(e.err, 0) AS err
        |  FROM (SELECT DISTINCT shard FROM rk) s
        |  LEFT JOIN (SELECT shard, MAX(c) AS err FROM rk
        |    WHERE rk > 32 GROUP BY 1) e USING (shard)
        |), exact AS (
        |  SELECT tok, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY 1
        |), top10 AS (
        |  SELECT tok, n FROM exact ORDER BY n DESC, tok ASC LIMIT 10
        |)
        |SELECT t.tok, t.n AS exact_n,
        |  CAST(SUM(COALESCE(k.c, 0)) AS BIGINT) AS est_lo,
        |  CAST(SUM(COALESCE(k.c, e.err)) AS BIGINT) AS est_hi,
        |  (CAST(SUM(COALESCE(k.c, 0)) AS BIGINT) <= t.n
        |    AND t.n <= CAST(SUM(COALESCE(k.c, e.err)) AS BIGINT))
        |    AS bracketed,
        |  round(CAST(SUM(COALESCE(k.c, e.err)) - SUM(COALESCE(k.c, 0))
        |      AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS rel_width
        |FROM top10 t CROSS JOIN errall e
        |LEFT JOIN kept k ON k.shard = e.shard AND k.tok = t.tok
        |GROUP BY t.tok, t.n
        |ORDER BY exact_n DESC, t.tok ASC""".stripMargin),

    QuerySpec("q296_merkle_antientropy", ((s, dir) => {
      // Merkle-tree anti-entropy (the Dynamo/Cassandra replica-repair
      // primitive; Merkle 1987): two corpus snapshots — the original
      // and a deterministically-edited replica (~1/8 of docs get a
      // suffix edit, md5-gated) — hashed into a 3-level range tree
      // (64 docs/leaf, fanout 16). The per-level diff counts ARE the
      // sync bill: a synchronizer descends only into differing nodes,
      // so rows(level k) bound the comparisons needed to locate every
      // divergent range without shipping either corpus. Level hashes
      // are md5 over the SORTED child-hash concatenation (order-free
      // of partitioning); everything is exact string algebra — no
      // float anywhere. One (bucket) exchange per level per snapshot,
      // each 16x smaller than the last.
      val d = t(s, dir, "documents")
      val edited = d.select(col("doc_id"),
        when(substring(md5(concat(lit("edit|"),
            col("doc_id").cast("string"))), 1, 1) < lit("2"),
          concat(col("text"), lit(" EDITED")))
          .otherwise(col("text")).as("text"))
      def rows(snap: DataFrame) = snap.select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit("|"), col("text")))
          .as("h"),
        floor(col("doc_id") / lit(64)).cast("long").as("b"))
      def level(prev: DataFrame): DataFrame = prev
        .groupBy(floor(col("b") / lit(16)).cast("long").as("b"))
        .agg(md5(array_join(array_sort(collect_list(col("h"))), ""))
          .as("h"))
      val ra = rows(d)
      val rb = rows(edited)
      def diff(a: DataFrame, bDf: DataFrame, key: String, lvl: Int) =
        a.select(col(key).as("k"), col("h").as("ha"))
          .join(bDf.select(col(key).as("k"), col("h").as("hb")),
            Seq("k"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(when(col("ha") =!= col("hb"), 1L).otherwise(0L))
              .as("n_diff"))
          .select(lit(lvl).as("level"), col("n_nodes"), col("n_diff"))
      var la = ra.groupBy(col("b"))
        .agg(md5(array_join(array_sort(collect_list(col("h"))), ""))
          .as("h"))
      var lb = rb.groupBy(col("b"))
        .agg(md5(array_join(array_sort(collect_list(col("h"))), ""))
          .as("h"))
      var out = diff(ra, rb, "doc_id", 0)
        .unionAll(diff(la, lb, "b", 1))
      for (lvl <- 2 to 3) {
        la = level(la); lb = level(lb)
        out = out.unionAll(diff(la, lb, "b", lvl))
      }
      out.orderBy(col("level"))
    }),
      {
      def lvlCte(src: String, out: String, rekey: Boolean): String = {
        val key = if (rekey) "b // 16" else "b"
        s"""$out AS MATERIALIZED (
           |  SELECT $key AS b,
           |    md5(array_to_string(list_sort(list(h)), '')) AS h
           |  FROM $src GROUP BY 1
           |)""".stripMargin
      }
      def diffSql(a: String, b: String, key: String, lvl: Int): String =
        s"""  SELECT CAST($lvl AS INTEGER) AS level,
           |    CAST(count(*) AS BIGINT) AS n_nodes,
           |    CAST(SUM(CASE WHEN x.h <> y.h THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_diff
           |  FROM $a x JOIN $b y ON x.$key = y.$key""".stripMargin
      s"""WITH ed AS (
         |  SELECT doc_id,
         |    CASE WHEN substr(md5('edit|' || CAST(doc_id AS VARCHAR)),
         |        1, 1) < '2'
         |      THEN text || ' EDITED' ELSE text END AS text
         |  FROM documents
         |), ra AS MATERIALIZED (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|' || text)
         |    AS h, doc_id // 64 AS b
         |  FROM documents
         |), rb AS MATERIALIZED (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|' || text)
         |    AS h, doc_id // 64 AS b
         |  FROM ed
         |), ${lvlCte("ra", "la1", rekey = false)},
         |${lvlCte("rb", "lb1", rekey = false)},
         |${lvlCte("la1", "la2", rekey = true)},
         |${lvlCte("lb1", "lb2", rekey = true)},
         |${lvlCte("la2", "la3", rekey = true)},
         |${lvlCte("lb2", "lb3", rekey = true)}
         |${diffSql("ra", "rb", "doc_id", 0)}
         |UNION ALL
         |${diffSql("la1", "lb1", "b", 1)}
         |UNION ALL
         |${diffSql("la2", "lb2", "b", 2)}
         |UNION ALL
         |${diffSql("la3", "lb3", "b", 3)}
         |ORDER BY level""".stripMargin
    })
  )
}
