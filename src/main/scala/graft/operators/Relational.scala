package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.1-2.4, §2.6-2.7) expressed on
  * the driver's TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Determinism discipline for the driver's hash-compare:
  *  - every query is totally ordered, sort keys included in the output;
  *  - continuous-double aggregates are emitted as exact integers
  *    ("cents" trick: round(sum(x*100)) is integral because per-term error
  *    is ~1e-10 and the true total is an integer), never raw double sums
  *    whose accumulation order differs between engines;
  *  - per-row math (sqrt/atan) is rounded to 6 dp on both sides.
  */
object Relational {

  /** money double -> exact integer cents (same formula in the oracle SQL) */
  private def cents(c: Column): Column = round(sum(c * 100), 0).cast("long")

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------ A1/P1: agg + filter
    QueryDef("q01_pricing_summary",
      (s, d) => {
        T.load(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            cents(col("l_extendedprice")).as("base_cents"),
            cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("disc_cents"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        CAST(round(sum(l_extendedprice * 100), 0) AS BIGINT) AS base_cents,
        CAST(round(sum(l_extendedprice * (1 - l_discount) * 100), 0) AS BIGINT) AS disc_cents,
        count(*) AS n
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ------------------------------- P1-P4: filter + projection (pushdown)
    QueryDef("q02_filter_project",
      (s, d) => {
        T.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-07-01").cast("timestamp") &&
            col("l_quantity") < 10)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("long").as("qty"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
        CAST(l_quantity AS BIGINT) AS qty,
        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
          AND l_quantity < 10
        ORDER BY l_orderkey, l_linenumber""")),

    // ----------------------------------- J2-J5: broadcast dim join + agg
    QueryDef("q03_join_segment",
      (s, d) => {
        val orders = T.load(s, d, "orders")
        val cust = T.load(s, d, "customer")
        orders.join(broadcast(cust),
            orders("o_custkey") === cust("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            cents(col("o_totalprice")).as("total_cents"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
        CAST(round(sum(o_totalprice * 100), 0) AS BIGINT) AS total_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ------------------------- multi-join star query (TPC-H Q5 shape)
    QueryDef("q04_region_revenue",
      (s, d) => {
        val li = T.load(s, d, "lineitem")
        val o = T.load(s, d, "orders")
        val c = T.load(s, d, "customer")
        val n = T.load(s, d, "nation")
        val r = T.load(s, d, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_cents"), count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name,
        CAST(round(sum(l_extendedprice * (1 - l_discount) * 100), 0) AS BIGINT) AS revenue_cents,
        count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // --------------------------------- J8/J9/S8: anti join (resume diff)
    QueryDef("q05_left_anti",
      (s, d) => {
        val cust = T.load(s, d, "customer")
        val o95 = T.load(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1995)
        cust.join(o95, cust("c_custkey") === o95("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
        ORDER BY c_custkey""")),

    // ------------------------------------------------- semi join
    QueryDef("q06_left_semi",
      (s, d) => {
        val cust = T.load(s, d, "customer")
        val orders = T.load(s, d, "orders")
        cust.join(orders, cust("c_custkey") === orders("o_custkey"),
            "left_semi")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_active"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_active FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // --------------------------------------------- A3/S4: distinct
    QueryDef("q07_distinct",
      (s, d) => T.load(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"))
        .distinct()
        .orderBy(col("o_orderpriority"), col("o_orderstatus")),
      Some("""SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
        ORDER BY o_orderpriority, o_orderstatus""")),

    // --------------------------------------------- U1-U3: union all
    QueryDef("q08_union_slices",
      (s, d) => {
        val e = T.load(s, d, "events")
        val big = e.filter(col("event_type") === "purchase" &&
          col("value") > 100).withColumn("slice", lit("big_purchase"))
        val err = e.filter(col("event_type") === "error")
          .withColumn("slice", lit("error"))
        big.unionByName(err)
          .groupBy(col("slice"), col("event_type"))
          .agg(count(lit(1)).as("n"), cents(col("value")).as("value_cents"))
          .orderBy(col("slice"), col("event_type"))
      },
      Some("""WITH u AS (
          SELECT 'big_purchase' AS slice, event_type, value FROM events
            WHERE event_type = 'purchase' AND value > 100
          UNION ALL
          SELECT 'error' AS slice, event_type, value FROM events
            WHERE event_type = 'error')
        SELECT slice, event_type, count(*) AS n,
          CAST(round(sum(value * 100), 0) AS BIGINT) AS value_cents
        FROM u GROUP BY slice, event_type ORDER BY slice, event_type""")),

    // --------------------------------- W7: lag features over event stream
    QueryDef("q09_window_lag",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T.load(s, d, "events")
          .withColumn("lag1_value", lag(col("value"), 1).over(w))
          .withColumn("lag2_value", lag(col("value"), 2).over(w))
          .select(col("event_id"), col("user_id"), col("value"),
            col("lag1_value"), col("lag2_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT event_id, user_id, value,
        lag(value, 1) OVER w AS lag1_value,
        lag(value, 2) OVER w AS lag2_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, event_id""")),

    // ------------------------- W8: lead-horizon label (next 9 actions)
    QueryDef("q10_lead_label",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(1, 9)
        T.load(s, d, "events")
          .withColumn("label", coalesce(
            max((col("event_type") === "purchase").cast("int")).over(w),
            lit(0)))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("label")).as("n_positive"))
          .orderBy(col("event_type"))
      },
      Some("""WITH l AS (SELECT event_type, coalesce(
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 1 FOLLOWING AND 9 FOLLOWING), 0) AS label
        FROM events)
        SELECT event_type, count(*) AS n,
          CAST(sum(label) AS BIGINT) AS n_positive
        FROM l GROUP BY event_type ORDER BY event_type""")),

    // -------------------- A2: running pre-event score (goalscore analog)
    QueryDef("q11_running_count",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        T.load(s, d, "events")
          .withColumn("purchases_before", coalesce(
            sum((col("event_type") === "purchase").cast("int")).over(w),
            lit(0)))
          .select(col("event_id"), col("user_id"), col("purchases_before"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT event_id, user_id, coalesce(CAST(
          sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS BIGINT), 0) AS purchases_before
        FROM events ORDER BY user_id, event_id""")),

    // ------------------- W10: gap-based sessionization (10 min sessions)
    QueryDef("q12_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wrun = w.rowsBetween(Window.unboundedPreceding, 0)
        val e = T.load(s, d, "events")
          .withColumn("gap_s",
            unix_timestamp(col("ts")) -
              unix_timestamp(lag(col("ts"), 1).over(w)))
          .withColumn("new_session",
            when(col("gap_s").isNull || col("gap_s") > 600, 1).otherwise(0))
          .withColumn("session_id", sum(col("new_session")).over(wrun))
        e.groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            (unix_timestamp(max(col("ts"))) -
              unix_timestamp(min(col("ts")))).as("dur_s"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH g AS (
          SELECT user_id, event_id, ts,
            CAST(floor(epoch(ts)) AS BIGINT) AS es,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT) -
                      CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 600
                 THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        se AS (
          SELECT user_id, event_id, es,
            CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM g)
        SELECT user_id, session_id, count(*) AS n_events,
          max(es) - min(es) AS dur_s
        FROM se GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    // ------------------------------------- W11: top-k per group (report)
    QueryDef("q13_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id"))
        T.load(s, d, "events")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("event_type"), col("rk"), col("event_id"), col("value"))
          .orderBy(col("event_type"), col("rk"))
      },
      Some("""SELECT event_type, rk, event_id, value FROM (
          SELECT event_type, event_id, value,
            row_number() OVER (PARTITION BY event_type
              ORDER BY value DESC, event_id) AS rk
          FROM events) WHERE rk <= 3 ORDER BY event_type, rk""")),

    // ---------------------- F8/F9: ordered CASE WHEN classification chain
    QueryDef("q14_case_classify",
      (s, d) => T.load(s, d, "events")
        .withColumn("clazz",
          when(col("event_type") === "purchase" && col("value") > 100,
            "big_purchase")
            .when(col("event_type") === "purchase", "purchase")
            .when(col("event_type") === "error", "error")
            .when(col("value") < 1, "micro")
            .otherwise("other"))
        .groupBy(col("clazz")).agg(count(lit(1)).as("n"))
        .orderBy(col("clazz")),
      Some("""SELECT CASE
          WHEN event_type = 'purchase' AND value > 100 THEN 'big_purchase'
          WHEN event_type = 'purchase' THEN 'purchase'
          WHEN event_type = 'error' THEN 'error'
          WHEN value < 1 THEN 'micro'
          ELSE 'other' END AS clazz, count(*) AS n
        FROM events GROUP BY 1 ORDER BY clazz""")),

    // ------------------------------------ F4: time arithmetic buckets
    QueryDef("q15_time_buckets",
      (s, d) => T.load(s, d, "events")
        .withColumn("hour_of_day", hour(col("ts")))
        .withColumn("minute_in_hour", minute(col("ts")).cast("long"))
        .groupBy(col("hour_of_day"))
        .agg(count(lit(1)).as("n"),
          sum(col("minute_in_hour")).as("sum_min"))
        .orderBy(col("hour_of_day")),
      Some("""SELECT CAST(hour(ts) AS INT) AS hour_of_day, count(*) AS n,
        CAST(sum(CAST(minute(ts) AS BIGINT)) AS BIGINT) AS sum_min
        FROM events GROUP BY 1 ORDER BY hour_of_day""")),

    // ----------------------------- F11/F12: string predicates + concat key
    QueryDef("q16_string_ops",
      (s, d) => T.load(s, d, "part")
        .filter(col("p_name").contains("a") && col("p_brand").rlike("Brand#1"))
        .withColumn("composite_key",
          concat_ws("_", col("p_partkey"), col("p_brand"), col("p_type")))
        .select(col("p_partkey"), col("composite_key"),
          upper(col("p_type")).as("type_uc"),
          length(col("p_name")).as("name_len"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
        concat_ws('_', p_partkey, p_brand, p_type) AS composite_key,
        upper(p_type) AS type_uc, CAST(length(p_name) AS INT) AS name_len
        FROM part
        WHERE p_name LIKE '%a%' AND regexp_matches(p_brand, 'Brand#1')
        ORDER BY p_partkey""")),

    // ------------------------------- F5/F6: polar math, rounded per-row
    QueryDef("q17_polar_math",
      (s, d) => T.load(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .withColumn("dist", round(sqrt(col("l_quantity") * col("l_quantity") +
          col("l_linenumber") * col("l_linenumber")), 6))
        .withColumn("angle", round(atan(col("l_linenumber") / col("l_quantity")), 6))
        .select(col("l_orderkey"), col("l_linenumber"), col("dist"), col("angle"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
        round(sqrt(l_quantity * l_quantity + l_linenumber * l_linenumber), 6) AS dist,
        round(atan(l_linenumber / l_quantity), 6) AS angle
        FROM lineitem WHERE l_orderkey < 100
        ORDER BY l_orderkey, l_linenumber""")),

    // ------------------------ P7: ragged property bag extraction (JSON-ish)
    QueryDef("q18_props_extract",
      (s, d) => T.load(s, d, "events")
        .withColumn("k", regexp_extract(col("props"), "[0-9]+", 0).cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
        CAST(sum(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
        count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // --------------------------------------------- set difference (EXCEPT)
    QueryDef("q19_except_custs",
      (s, d) => {
        val o = T.load(s, d, "orders")
        val a = o.filter(year(col("o_orderdate")) === 1996)
          .select(col("o_custkey"))
        val b = o.filter(year(col("o_orderdate")) === 1997)
          .select(col("o_custkey"))
        a.except(b).withColumnRenamed("o_custkey", "custkey")
          .orderBy(col("custkey"))
      },
      Some("""SELECT o_custkey AS custkey FROM orders
          WHERE year(o_orderdate) = 1996
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        ORDER BY custkey""")),

    // ------------------------------ rolling window aggregate (frame spec)
    QueryDef("q36_rolling_avg",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-3, 0)
        T.load(s, d, "events")
          .withColumn("roll_cents",
            round(sum(col("value") * 100).over(w), 0).cast("long"))
          .withColumn("roll_n", count(lit(1)).over(w))
          .select(col("event_id"), col("user_id"), col("roll_cents"),
            col("roll_n"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT event_id, user_id,
        CAST(round(sum(value * 100) OVER w, 0) AS BIGINT) AS roll_cents,
        count(*) OVER w AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id""")),

    // -------------------------------------------- dense_rank / ntile
    QueryDef("q37_dense_rank",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        T.load(s, d, "customer")
          .withColumn("rk", dense_rank().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .filter(col("rk") <= 5)
          .select(col("c_mktsegment"), col("rk"), col("quartile"),
            col("c_custkey"))
          .orderBy(col("c_mktsegment"), col("rk"), col("c_custkey"))
      },
      Some("""SELECT c_mktsegment, rk, quartile, c_custkey FROM (
          SELECT c_mktsegment, c_custkey,
            dense_rank() OVER w AS rk, ntile(4) OVER w AS quartile
          FROM customer
          WINDOW w AS (PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey))
        WHERE rk <= 5 ORDER BY c_mktsegment, rk, c_custkey""")),

    // --------------------------------------------- HAVING-style post-agg
    QueryDef("q38_having",
      (s, d) => T.load(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .filter(col("n_items") > 550)
        .orderBy(col("l_suppkey")),
      Some("""SELECT l_suppkey, count(*) AS n_items,
        CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_suppkey HAVING count(*) > 550
        ORDER BY l_suppkey""")),

    // ----------------------- per-group argmax via self-join (subquery J)
    QueryDef("q39_argmax_order",
      (s, d) => {
        val o = T.load(s, d, "orders")
        val mx = o.groupBy(col("o_custkey").as("k"))
          .agg(max(col("o_totalprice")).as("mx"))
        o.join(mx, o("o_custkey") === mx("k") &&
            o("o_totalprice") === mx("mx"))
          .groupBy(col("o_custkey"))
          .agg(min(col("o_orderkey")).as("best_order"),
            round(max(col("o_totalprice")) * 100, 0).cast("long")
              .as("best_cents"))
          .orderBy(col("o_custkey"))
      },
      Some("""WITH mx AS (SELECT o_custkey AS k, max(o_totalprice) AS m
          FROM orders GROUP BY o_custkey)
        SELECT o_custkey, min(o_orderkey) AS best_order,
          CAST(round(max(o_totalprice) * 100, 0) AS BIGINT) AS best_cents
        FROM orders JOIN mx ON o_custkey = k AND o_totalprice = m
        GROUP BY o_custkey ORDER BY o_custkey""")),

    // ------------------------- rollup: multi-level aggregation in one pass
    QueryDef("q42_rollup",
      (s, d) => T.load(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          cents(col("o_totalprice")).as("total_cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total_cents"))
        .orderBy(col("status"), col("priority")),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
          coalesce(o_orderpriority, 'ALL') AS priority,
          count(*) AS n,
          CAST(round(sum(o_totalprice * 100), 0) AS BIGINT) AS total_cents
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    // ----------------------- CUBE: full marginal lattice in one pass
    QueryDef("q44_cube",
      (s, d) => T.load(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          cents(col("o_totalprice")).as("total_cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total_cents"))
        .orderBy(col("status"), col("priority")),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
          coalesce(o_orderpriority, 'ALL') AS priority,
          count(*) AS n,
          CAST(round(sum(o_totalprice * 100), 0) AS BIGINT) AS total_cents
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    // ------------- exact interpolated percentiles (sort-based aggregate).
    // The interpolated percentile at p = num/den over integer values is
    // computed as PURE INTEGER arithmetic scaled by den:
    //   idx = num*(n-1) = lo*den + rem;  pct*den = den*v_lo + (v_hi-v_lo)*rem
    // — rank-select v_lo/v_hi via one window sort (the same sort an exact
    // percentile needs anyway; no per-group array materialization, so the
    // plan survives groups of any size), then combine in the aggregate.
    // Both engines run the identical integer formula, so there is NO
    // float-interpolation rounding boundary (round-2 ADVICE on q45).
    QueryDef("q45_percentiles",
      (s, d) => {
        val w = Window.partitionBy("l_returnflag", "l_linestatus")
        val ranked = T.load(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity").cast("long").as("qty"))
          .withColumn("rn", row_number().over(w.orderBy(col("qty"))))
          .withColumn("cnt", count(lit(1)).over(w))
        def pctX(num: Int, den: Int): Column = {
          val idx = (col("cnt") - 1) * num
          val lo = ((idx - pmod(idx, lit(den))) / den).cast("long")
          val rem = pmod(idx, lit(den))
          val vLo = max(when(col("rn") === lo + 1, col("qty")))
          val vHi = coalesce(max(when(col("rn") === lo + 2, col("qty"))), vLo)
          lit(den) * vLo + (vHi - vLo) * max(rem)
        }
        ranked.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            pctX(1, 2).as("med_qty_x2"),
            pctX(9, 10).as("p90_qty_x10"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""WITH r AS (SELECT l_returnflag, l_linestatus,
            CAST(l_quantity AS BIGINT) AS qty,
            row_number() OVER (PARTITION BY l_returnflag, l_linestatus
              ORDER BY CAST(l_quantity AS BIGINT)) AS rn,
            count(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS cnt
          FROM lineitem)
        SELECT l_returnflag, l_linestatus, count(*) AS n,
          CAST(2 * max(CASE WHEN rn = (cnt-1)//2 + 1 THEN qty END)
            + (coalesce(max(CASE WHEN rn = (cnt-1)//2 + 2 THEN qty END),
                        max(CASE WHEN rn = (cnt-1)//2 + 1 THEN qty END))
               - max(CASE WHEN rn = (cnt-1)//2 + 1 THEN qty END))
              * max((cnt-1) % 2) AS BIGINT) AS med_qty_x2,
          CAST(10 * max(CASE WHEN rn = (9*(cnt-1))//10 + 1 THEN qty END)
            + (coalesce(max(CASE WHEN rn = (9*(cnt-1))//10 + 2 THEN qty END),
                        max(CASE WHEN rn = (9*(cnt-1))//10 + 1 THEN qty END))
               - max(CASE WHEN rn = (9*(cnt-1))//10 + 1 THEN qty END))
              * max((9*(cnt-1)) % 10) AS BIGINT) AS p90_qty_x10
        FROM r GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // --------------------- pivot: lang distribution per source (wide agg)
    QueryDef("q46_pivot",
      (s, d) => {
        val langs = Seq("de", "en", "es", "fr", "zh")
        T.load(s, d, "documents")
          .groupBy(col("source"))
          .pivot("lang", langs)
          .agg(count(lit(1)))
          .na.fill(0L, langs)
          .orderBy(col("source"))
      },
      Some("""SELECT source,
          count(CASE WHEN lang = 'de' THEN 1 END) AS de,
          count(CASE WHEN lang = 'en' THEN 1 END) AS en,
          count(CASE WHEN lang = 'es' THEN 1 END) AS es,
          count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
          count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
        FROM documents GROUP BY source ORDER BY source""")),

    // ---------------- A1+J7+W11: player-index analog (flagship report)
    QueryDef("q20_user_index",
      (s, d) => {
        val e = T.load(s, d, "events")
        val c = T.load(s, d, "customer")
        val idx = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(cents(col("value")).as("index_cents"))
        idx.join(broadcast(c), idx("user_id") === c("c_custkey"), "left")
          .select(col("user_id"), col("index_cents"), col("c_mktsegment"))
          .orderBy(col("index_cents").desc, col("user_id"))
          .limit(20)
      },
      Some("""SELECT user_id,
          CAST(round(sum(value * 100), 0) AS BIGINT) AS index_cents,
          any_value(c_mktsegment) AS c_mktsegment
        FROM events LEFT JOIN customer ON user_id = c_custkey
        WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY index_cents DESC, user_id LIMIT 20"""))
  )
}
