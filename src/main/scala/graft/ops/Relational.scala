package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core batch-relational operators (SURVEY.md §2.1–§2.4, §2.6).
  *
  * Determinism contract (SURVEY.md §7.4): every query ends in a total
  * ORDER BY, and monetary doubles are aggregated as exact integer cents
  * (`round(x*100) :: long`) so Spark and the DuckDB oracle agree bit-for-
  * bit regardless of aggregation order. All source doubles are exact
  * 2-decimal values (verified against the parquet fixtures), so the cents
  * transform is lossless.
  *
  * Scale notes: all queries are single-pass declarative plans — filters and
  * projections reach the parquet scan (Catalyst pushdown), aggregates are
  * partial+final hash aggregates, and dimension joins are broadcast. No
  * driver-side iteration anywhere.
  */
object Relational {
  import Tables._

  /** Exact cents as BIGINT: deterministic across engines and agg orders. */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")
  /** Exact percent (2-decimal fraction -> integer 0..100). */
  private def pct(c: Column): Column = round(c * 100, 0).cast("long")

  // O-01/O-07: projection + filter pushed down to the parquet scan
  // (ref rg.py:96-104, rg.py:184 — source-level column/predicate pushdown).
  def q01ScanProjection(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") < to_timestamp(lit("1996-01-01")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // O-08/O-47: row predicate + conditional expression (ref rg.py:76-77, :279).
  def q02FilterPredicate(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 150000.0)
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        when(col("o_orderpriority").startsWith("1"), lit("urgent"))
          .otherwise(lit("normal")).as("prio_class"),
        cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("o_orderkey"))

  // O-09: derived arithmetic column (ref rg.py:298 — dec = bss+text+data).
  // Exact integer math: cents * (100 - pct) avoids any float rounding.
  def q03DerivedColumn(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
          .as("revenue_e4"),
        (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount")))
          * (lit(100L) + pct(col("l_tax")))).as("charged_e6"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // O-11: regex extraction (ref rg.py:78 — first digit-run; null when none).
  def q04RegexpExtract(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        nullif(regexp_extract(col("o_orderpriority"), "(\\d+)", 1), lit(""))
          .cast("int").as("prio_num"))
      .orderBy(col("o_orderkey"))

  // O-10/O-38/O-42: round-trip a \x1f-delimited line: format -> split ->
  // cast/parse (ref rg.py:184,216,220 — the commit-log codec).
  def q05CastParse(s: SparkSession, d: String): DataFrame = {
    val us = "\u001f"
    events(s, d)
      .select(
        col("event_id"),
        concat_ws(us,
          col("event_id").cast("string"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
          col("event_type")).as("line"))
      .select(col("event_id"), split(col("line"), us).as("parts"))
      .select(
        col("event_id"),
        element_at(col("parts"), 1).cast("long").as("parsed_id"),
        to_timestamp(element_at(col("parts"), 2), "yyyy-MM-dd HH:mm:ss")
          .as("parsed_ts"),
        element_at(col("parts"), 3).as("etype"))
      .orderBy(col("event_id"))
  }

  // O-13: equi inner join (ref rg.py:226-234 — Statistic(build, event)).
  def q06InnerJoin(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("c_mktsegment"), cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("o_orderkey"))

  // O-14: broadcast dim lookup (ref rg.py:356-362 — GitHub PR enrichment).
  // nation (25 rows) and region (5 rows) are the classic broadcast dims.
  def q07BroadcastJoin(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .join(broadcast(nation(s, d)),
        col("s_nationkey") === col("n_nationkey"), "inner")
      .join(broadcast(region(s, d)),
        col("n_regionkey") === col("r_regionkey"), "inner")
      .select(col("s_suppkey"), col("s_name"), col("n_name"), col("r_name"))
      .orderBy(col("s_suppkey"))

  // O-15: left outer join (ref rg.py:150-154 — event kept without stats).
  def q08LeftOuterJoin(s: SparkSession, d: String): DataFrame = {
    val perCust = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("spend_cents"))
    customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend_cents"), lit(0L)).as("spend_cents"))
      .orderBy(col("c_custkey"))
  }

  // O-16: existence semi-join (ref rg.py:75-82 — first commit WITH stats).
  def q09SemiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  // O-17: anti join (ref rg.py:83 — the "nothing retrieved" complement).
  // Filtered to URGENT so the complement is non-empty at every sf.
  def q10AntiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  // O-18: equi join + range residual (Tier B time-range correlation).
  def q11RangeJoin(s: SparkSession, d: String): DataFrame =
    // shuffle-hash over sort-merge: the downstream groupBy(o_orderkey)
    // reuses the join's hash partitioning either way, but SHJ skips
    // sorting both inputs (the range residual is a per-row filter, not
    // a merge condition). At scale the small side per partition is the
    // orders slice — hash-buildable.
    orders(s, d).hint("shuffle_hash")
      .join(lineitem(s, d),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "inner")
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("late_lines"),
        sum(cents(col("l_extendedprice"))).as("late_cents"))
      .orderBy(col("o_orderkey"))

  // O-19: as-of join — for each click, the latest error at-or-before its
  // ts for the same user (ref rg.py:72-82, README.md:19-21 "last commit
  // before the nightly run"). Uses the union + running-last formulation:
  // one shuffle by user_id, no per-row subquery. See AsofJoin.
  def q12AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_event_id"), col("ts").as("err_ts"),
        col("user_id"))
    AsofJoin.asofJoin(clicks, errors, Seq("user_id"), "ts", "err_ts",
        Seq("err_event_id"), tieBreak = Seq("err_event_id"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("err_event_id"), col("err_ts"))
      .orderBy(col("event_id"))
  }

  // O-21: grouped hash aggregate (Tier B Grafana panel aggregation;
  // ref README.md:22-25). TPC-H Q1 shape; partial+final automatic.
  def q13GroupbyAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice")) *
          (lit(100L) - pct(col("l_discount")))).as("sum_disc_e4"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // O-22: distinct (Tier B panel variables).
  def q14Distinct(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  // O-23: approx distinct — HLL++ sketch; mergeable at 100 TB scale where
  // exact countDistinct would shuffle every key. The sketch estimate is
  // engine-specific (no cross-engine twin exists), so the DECLARED output
  // makes the query hash-checkable anyway: exact count per group plus an
  // in-query assertion that the sketch landed within 2% of it; the DuckDB
  // oracle emits the same exact counts and literal TRUE. HLL++ is
  // deterministic for a given input set, so within_2pct is a stable
  // property of the data (verified at all three SFs), not a flaky bound.
  // The exact countDistinct here is test scaffolding — production callers
  // use the sketch alone (that is the operator's point at 100 TB).
  // ADVICE r4 weighed moving the exact count to a verify-only variant so
  // the bench measures the sketch alone: rejected, because a declared
  // query without the in-query cross-check would be rows-only under the
  // driver's gate (re-opening the hole q14b closed), and the measured
  // cost of the extra exact branch is ~0.1s at sf0.1 over the
  // sketch-only form. The within_2pct oracle's
  // dependence on HLL++ estimate stability across Spark upgrades is
  // accepted and documented: a changed estimate that still lands within
  // 2% keeps the oracle green (the assertion is the bound, not the
  // estimate), so only an accuracy REGRESSION in Spark would flag it —
  // which is exactly what we'd want flagged.
  def q14bApproxDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.005).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.02).as("within_2pct"))
      .orderBy(col("event_type"))

  // O-25: rollup (Tier B per-board / per-test / overall in one pass).
  def q15Rollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total_cents"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total_cents"), col("gid"))
      .orderBy(col("gid"), col("status"), col("priority"))

  // O-25 (grouping-sets form): cube = every (status, priority) grouping
  // combination — the per-board, per-test, per-pair, and overall totals
  // in ONE aggregation pass (Expand + single shuffle, no union of four
  // scans). Completes O-25's rollup/cube/grouping-sets trio with q15.
  def q15bCube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total_cents"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total_cents"), col("gid"))
      .orderBy(col("gid"), col("status"), col("priority"))

  // O-24: selector aggregate last() by time with explicit tie-break
  // (ref rg.py:130-131 — SELECT hash ... ORDER BY time DESC LIMIT 1,
  // generalized per series as InfluxQL last()).
  def q16SelectorLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), cents(col("value")).as("last_value_cents"))
      .orderBy(col("event_type"))
  }

  // Tier B stddev()/variance: computed from exact integer sums
  // (n, sum, sum-of-squares), so the only float ops are the final
  // divisions/sqrt — deterministic across engines and partitionings,
  // unlike the built-in running-moment stddev whose result depends on
  // aggregation order.
  def q55StatsAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("sum_cents"),
        sum(col("v") * col("v")).as("sum_sq"))
      // derived moments in DOUBLE over the exact long sums: long
      // products would overflow at scale; double ops are IEEE-identical
      // on both engines given identical exact inputs
      .withColumn("m2",
        (col("sum_sq").cast("double") * col("n")
          - col("sum_cents").cast("double") * col("sum_cents"))
          / (col("n") * (col("n") - 1)))
      .withColumn("variance", round(col("m2") / 10000.0, 4))
      .withColumn("stddev", round(sqrt(col("m2")) / 100.0, 4))
      .drop("m2")
      .orderBy(col("event_type"))

  // Tier B correlation: Pearson r from exact integer sums over
  // (quantity, price-cents) — one hash aggregate, one final float chain.
  def q56Corr(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        cents(col("l_extendedprice")).as("y"))
      .groupBy(col("l_returnflag"))
      // syy (sum of cents^2) can overflow BIGINT at scale: accumulate it
      // in DECIMAL (Spark) — DuckDB's sum(BIGINT) is HUGEINT-exact
      // already — and fold to double only in the final expression
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy_d"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("corr_r",
        round((col("sxy").cast("double") * col("n")
          - col("sx").cast("double") * col("sy")) /
          sqrt((col("sxx").cast("double") * col("n")
            - col("sx").cast("double") * col("sx"))
            * (col("syy_d").cast("double") * col("n")
              - col("sy").cast("double") * col("sy"))), 4))
      .select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("corr_r"))
      .orderBy(col("l_returnflag"))

  // Tier B spread()/mode(): value range per series, plus the most
  // frequent value with a deterministic tie-break (highest count, then
  // smallest value) via one count-aggregate and one rank window.
  def q57SpreadMode(s: SparkSession, d: String): DataFrame = {
    val vals = events(s, d)
      .select(col("event_type"), cents(col("value")).as("v"))
    val spread = vals.groupBy(col("event_type"))
      .agg(min(col("v")).as("min_cents"), max(col("v")).as("max_cents"),
        (max(col("v")) - min(col("v"))).as("spread_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("cnt").desc, col("v"))
    val mode = vals.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("v").as("mode_cents"),
        col("cnt").as("mode_n"))
    spread.join(mode, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  // O-32: global sort + limit -> TakeOrderedAndProject, no full sort
  // (ref rg.py:130-131 — the offset query, verbatim shape).
  def q22SortLimit(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1)
      .select(col("event_id"), col("ts"), col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_projection" -> (q01ScanProjection _),
    "q02_filter_predicate" -> (q02FilterPredicate _),
    "q03_derived_column" -> (q03DerivedColumn _),
    "q04_regexp_extract" -> (q04RegexpExtract _),
    "q05_cast_parse" -> (q05CastParse _),
    "q06_inner_join" -> (q06InnerJoin _),
    "q07_broadcast_join" -> (q07BroadcastJoin _),
    "q08_left_outer_join" -> (q08LeftOuterJoin _),
    "q09_semi_join" -> (q09SemiJoin _),
    "q10_anti_join" -> (q10AntiJoin _),
    "q11_range_join" -> (q11RangeJoin _),
    "q12_asof_join" -> (q12AsofJoin _),
    "q13_groupby_agg" -> (q13GroupbyAgg _),
    "q14_distinct" -> (q14Distinct _),
    "q14b_approx_distinct" -> (q14bApproxDistinct _),
    "q15_rollup" -> (q15Rollup _),
    "q15b_cube" -> (q15bCube _),
    "q16_selector_last" -> (q16SelectorLast _),
    "q22_sort_limit" -> (q22SortLimit _),
    "q55_stats_agg" -> (q55StatsAgg _),
    "q56_corr" -> (q56Corr _),
    "q57_spread_mode" -> (q57SpreadMode _),
  )

  val oracles: Map[String, String] = Map(
    // q14b: the HLL sketch value can't hash-match across engines, so the
    // compared contract is exact counts + the within-2% assertion (TRUE).
    "q14b_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_2pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q01_scan_projection" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_filter_predicate" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent' ELSE 'normal' END AS prio_class,
        |  CAST(round(o_totalprice*100,0) AS BIGINT) AS total_cents
        |FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
        |ORDER BY o_orderkey""".stripMargin,
    "q03_derived_column" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT)) AS revenue_e4,
        |  CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT)) * (100 + CAST(round(l_tax*100,0) AS BIGINT)) AS charged_e6
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_regexp_extract" ->
      """SELECT o_orderkey,
        |  CAST(nullif(regexp_extract(o_orderpriority, '(\d+)', 1), '') AS INT) AS prio_num
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q05_cast_parse" ->
      """WITH lines AS (
        |  SELECT event_id,
        |    concat_ws(chr(31), CAST(event_id AS VARCHAR),
        |      strftime(ts, '%Y-%m-%d %H:%M:%S'), event_type) AS line
        |  FROM events)
        |SELECT event_id,
        |  CAST(string_split(line, chr(31))[1] AS BIGINT) AS parsed_id,
        |  strptime(string_split(line, chr(31))[2], '%Y-%m-%d %H:%M:%S') AS parsed_ts,
        |  string_split(line, chr(31))[3] AS etype
        |FROM lines ORDER BY event_id""".stripMargin,
    "q06_inner_join" ->
      """SELECT o_orderkey, c_custkey, c_name, c_mktsegment,
        |  CAST(round(o_totalprice*100,0) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q07_broadcast_join" ->
      """SELECT s_suppkey, s_name, n_name, r_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey""".stripMargin,
    "q08_left_outer_join" ->
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, c_name,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(spend_cents, 0) AS spend_cents
        |FROM customer LEFT OUTER JOIN per_cust ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q09_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q11_range_join" ->
      """SELECT o_orderkey, count(*) AS late_lines,
        |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS late_cents
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey
        | AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q12_asof_join" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, 1 AS side, event_id,
        |    NULL::BIGINT AS r_event_id, NULL::TIMESTAMP AS r_ts
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS event_id,
        |    event_id AS r_event_id, ts AS r_ts
        |  FROM events WHERE event_type = 'error'),
        |filled AS (
        |  SELECT *,
        |    last_value(r_event_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, side, r_event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS err_event_id,
        |    last_value(r_ts IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, side, r_event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS err_ts
        |  FROM tagged)
        |SELECT event_id, ts, user_id, err_event_id, err_ts
        |FROM filled WHERE side = 1 ORDER BY event_id""".stripMargin,
    "q13_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q14_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    "q15_rollup" ->
      """SELECT
        |  coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "q15b_cube" ->
      """SELECT
        |  coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "q16_selector_last" ->
      """WITH ranked AS (
        |  SELECT event_type, event_id, ts, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, event_id AS last_event_id, ts AS last_ts,
        |  CAST(round(value*100,0) AS BIGINT) AS last_value_cents
        |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q22_sort_limit" ->
      """SELECT event_id, ts, event_type FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin,
    "q55_stats_agg" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    CAST(sum(CAST(round(value*100,0) AS BIGINT)
        |      * CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS sum_sq
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, sum_cents, sum_sq,
        |  round((CAST(sum_sq AS DOUBLE) * n - CAST(sum_cents AS DOUBLE) * sum_cents)
        |    / (n * (n - 1)) / 10000.0, 4) AS variance,
        |  round(sqrt((CAST(sum_sq AS DOUBLE) * n - CAST(sum_cents AS DOUBLE) * sum_cents)
        |    / (n * (n - 1))) / 100.0, 4) AS stddev
        |FROM g ORDER BY event_type""".stripMargin,
    "q56_corr" ->
      """WITH g AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |    sum(CAST(round(l_extendedprice*100,0) AS BIGINT)
        |      * CAST(round(l_extendedprice*100,0) AS BIGINT)) AS syy_h,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, sx, sy, sxx, sxy,
        |  round((CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * sy) /
        |    sqrt((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(syy_h AS DOUBLE) * n - CAST(sy AS DOUBLE) * sy)), 4)
        |    AS corr_r
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "q57_spread_mode" ->
      """WITH vals AS (
        |  SELECT event_type, CAST(round(value*100,0) AS BIGINT) AS v
        |  FROM events),
        |spread AS (
        |  SELECT event_type, min(v) AS min_cents, max(v) AS max_cents,
        |    max(v) - min(v) AS spread_cents
        |  FROM vals GROUP BY event_type),
        |counted AS (
        |  SELECT event_type, v, count(*) AS cnt FROM vals
        |  GROUP BY event_type, v),
        |mode AS (
        |  SELECT event_type, v AS mode_cents, cnt AS mode_n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, v) AS rn
        |    FROM counted) WHERE rn = 1)
        |SELECT s.event_type, s.min_cents, s.max_cents, s.spread_cents,
        |  m.mode_cents, m.mode_n
        |FROM spread s JOIN mode m ON s.event_type = m.event_type
        |ORDER BY s.event_type""".stripMargin,
  )
}
