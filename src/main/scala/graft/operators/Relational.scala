package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator catalog (SURVEY.md §2.8 / §7 step 3).
  *
  * Each query is a named `(SparkSession, sfDir) => DataFrame` with a DuckDB
  * oracle in [[oracles]]. Conventions that make the DuckDB diff exact:
  *
  *  - money/ratio aggregates sum through DECIMAL(38,6) (exact, engine-
  *    independent), then surface as DOUBLE (`castDouble` of an exact decimal
  *    is deterministic in both engines). Plain `sum(double)` would differ in
  *    the last bits because the two engines add in different orders.
  *  - averages/ratios are computed as double-division of exact aggregates,
  *    never decimal division (engines disagree on decimal division scale).
  *  - timestamps surface as `date_format(..)` strings or DATEs, never raw
  *    TIMESTAMP (Spark reads events.ts at µs, DuckDB at ns — see Tables).
  *  - every query ends in a total ORDER BY so row order is deterministic.
  *
  * Scale notes are inline per query: what shuffles, what broadcasts, what
  * gets pushed down — written for the 1000-executor / 100 TB case even
  * though tests run at local[32].
  */
object Relational {

  private val lit1 = lit(1.0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / projection / filter -------------------------------------
    // Filter + arithmetic projection. Both predicates push down to the
    // parquet scan (PushedFilters), and only 4 columns are read (ReadSchema)
    // — at 100 TB this is the difference between reading ~25% and 100% of
    // the table.
    "q02_filter_project" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("date") &&
                col("l_shipdate") <  lit("1999-01-01").cast("date") &&
                col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * col("l_discount")).cast("decimal(38,6)").cast("double").as("disc_revenue"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- aggregation ------------------------------------------------------
    // TPC-H Q1 shape: hash aggregate with partial (map-side) + final phases;
    // the only shuffle is 4 grouping keys wide. Scales linearly with input.
    "q01_agg_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit1 - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit1 - col("l_discount")) * (lit1 + col("l_tax"))).as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // group-by with HAVING; distinct counts force a second shuffle keyed on
    // (group, distinct-col) — Spark plans expand+two-phase agg natively.
    "q13_distinct_count" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .filter(col("n_rows") > 10)
        .orderBy("l_returnflag")
    }),

    // ROLLUP: Spark expands grouping sets map-side (Expand node) — one
    // shuffle, rows ×(levels+1). GROUPING() disambiguates NULL-as-total.
    "q24_rollup" -> ((s, dir) => {
      Tables.orders(s, dir)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"),
             grouping("o_orderstatus").cast("int").as("g_status"),
             grouping("o_orderpriority").cast("int").as("g_priority"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("sum_price"), col("n"), col("g_status"), col("g_priority"))
        .orderBy("g_status", "g_priority", "status", "priority")
    }),

    // conditional aggregation (sum over CASE WHEN) — single pass, no extra
    // shuffle vs. separate filtered aggs.
    "q23_case_when" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))).as("finished_price"),
          dsum(when(col("o_orderstatus") =!= "F", col("o_totalprice")).otherwise(lit(0.0))).as("open_price"),
          sum(when(col("o_totalprice") > 250000, 1L).otherwise(0L)).as("n_big"))
        .orderBy("o_orderpriority")
    }),

    // ---- joins -------------------------------------------------------------
    // Small-dim join: part (20k rows @sf0.1, ~MBs even at 100 TB scale
    // factors since dims grow slower than facts) is explicitly broadcast —
    // no shuffle of the 100 TB fact side at all.
    "q03_join_broadcast" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_extendedprice") * (lit1 - col("l_discount"))).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    // Fact-fact equi-join: both sides large → sort-merge join on the
    // shuffled key. Join key = orderkey on both sides; the aggregation
    // reuses the join's hash partitioning (no extra shuffle for groupBy on
    // o_orderpriority after AQE coalescing? no — different key, one more
    // narrow shuffle of pre-aggregated rows).
    "q04_join_sortmerge" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.hint("merge")
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate")) // shipped after order
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_line_items"),
             dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // 5-way star join: region/nation/customer broadcast (dims), the two
    // fact tables sort-merge on orderkey. Mirrors TPC-H Q5. At 100 TB the
    // dims stay broadcastable; only lineitem⋈orders shuffles.
    "q05_star_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
                col("o_orderdate") <  lit("1998-01-01").cast("date"))
        .groupBy("r_name", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit1 - col("l_discount"))).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // left outer join + null-handling aggregation: customers with order
    // stats, keeping order-less customers (count(order)=0).
    "q06_outer_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_orders"),
             coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_price"))
        .orderBy("c_custkey")
    }),

    // full outer join with NULLs on BOTH sides: customers' 1997-only vs
    // 1998-only order activity. Single-key sort-merge; null-extension is
    // symmetric — the join that left/right outer can't express without a
    // union hack.
    "q37_full_outer_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      def yearAgg(y: Int, n: String) =
        o.filter(year(col("o_orderdate")) === y)
          .groupBy("o_custkey").agg(count(lit(1)).as(n))
      yearAgg(1997, "n_1997").join(yearAgg(1998, "n_1998"), Seq("o_custkey"), "full_outer")
        .orderBy("o_custkey")
    }),

    // semi join (EXISTS): planned as LeftSemi — probe side streams, no
    // duplication of matches; cheaper than inner+distinct at scale.
    "q07_semi_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // anti join (NOT EXISTS): customers with no 1997 order (filter applied
    // to the build side *before* the join — at scale the anti join's right
    // side should always be pre-filtered, not post-filtered).
    "q08_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(year(col("o_orderdate")) === 1997)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // ---- sort / limit / top-k ----------------------------------------------
    // Global top-k: Spark plans TakeOrderedAndProject — each partition
    // keeps its local top-k, then the driver merges k×partitions rows.
    // Never a full sort of 100 TB.
    "q09_topk" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
    }),

    // multi-column sort + limit/offset pagination.
    "q10_sort_paginate" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy(col("c_mktsegment").asc, col("c_acctbal").desc, col("c_custkey").asc)
        .offset(10).limit(30)
    }),

    // ---- set operations ------------------------------------------------------
    "q11_union_distinct" -> ((s, dir) => {
      val fromCust = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nationkey"))
      val fromSupp = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey"))
      fromCust.union(fromSupp).distinct().orderBy("nationkey")
    }),

    "q12_intersect_except" -> ((s, dir) => {
      // custkeys that ordered in 1996 but not in 1997 (EXCEPT), plus the
      // ones active in both years (INTERSECT) — exercised as one UNION'd
      // result with a tag column.
      val o = Tables.orders(s, dir)
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      val y97 = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
      val onlY96 = y96.except(y97).withColumn("tag", lit("only_1996"))
      val both = y96.intersect(y97).withColumn("tag", lit("both_years"))
      onlY96.union(both).orderBy("tag", "o_custkey")
    }),

    // multiset (bag) semantics: EXCEPT ALL / INTERSECT ALL preserve
    // duplicate counts — a different operator from q12's set versions
    // (planned as anti/semi joins on (row, multiplicity) rather than
    // distinct-then-join).
    "q34_multiset_ops" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ship96 = li.filter(year(col("l_shipdate")) === 1996).select("l_orderkey")
      val recv96 = li.filter(col("l_quantity") >= 25).select("l_orderkey")
      val exceptAll = ship96.exceptAll(recv96)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val intersectAll = ship96.intersectAll(recv96)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      exceptAll.union(intersectAll)
        .select("op", "l_orderkey", "n")
        .orderBy("op", "l_orderkey")
    }),

    // ---- window functions -----------------------------------------------------
    // ranking per partition: single shuffle on the partition key, in-memory
    // sort per key group. row_number/rank/dense_rank in one Window node.
    "q14_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      // row_number/rank surface as BIGINT to match DuckDB's window results.
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rnk")
        .orderBy("o_custkey", "rn", "o_orderkey")
    }),

    // lag/lead over event time per user — sessionization building block.
    "q15_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("gap_sec",
          (col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long")).cast("long"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("prev_type"), col("gap_sec"))
        .orderBy("user_id", "event_id")
    }),

    // running aggregates with explicit frames.
    "q16_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("running_spend",
          sum(col("o_totalprice").cast("decimal(38,6)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("order_seq", row_number().over(w).cast("long"))
        .select("o_custkey", "o_orderkey", "order_seq", "running_spend")
        .orderBy("o_custkey", "order_seq")
    }),

    // remaining window surface: ntile buckets, first/last_value with an
    // explicit full frame, and a RANGE (value-based) frame — peers join the
    // frame by VALUE, so the result is independent of tie order.
    "q33_window_extras" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val byBal = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").asc)
        .rangeBetween(-100L, Window.currentRow)
      Tables.customer(s, dir)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("top_name", first_value(col("c_name")).over(full))
        .withColumn("bottom_name", last_value(col("c_name")).over(full))
        .withColumn("near_balance_sum",
          sum(col("c_acctbal").cast("decimal(38,6)")).over(byBal).cast("double"))
        .select("c_custkey", "c_mktsegment", "c_acctbal", "quartile",
          "top_name", "bottom_name", "near_balance_sum")
        .orderBy("c_custkey")
    }),

    // ---- event-time windows (batch-expressible analogs of §2.5 streaming) ----
    // tumbling 1h: window() assigns each row one bucket — pure map-side,
    // then one hash agg shuffle on (bucket, type).
    "q17_event_tumbling" -> ((s, dir) =>
      tumblingWindows(Tables.events(s, dir)).orderBy("win_start", "event_type")),

    // sliding 1h-window every 30min: each row lands in width/slide = 2
    // buckets (map-side Expand ×2), then the same single shuffle.
    "q18_event_sliding" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(
          date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("n"), col("sum_value"))
        .orderBy("win_start")
    }),

    // ---- JSON / string / date / math scalar functions -------------------------
    "q19_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"),
             sum(col("k").cast("long")).as("sum_k"),
             max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // from_json into a MAP type + map explode — the dynamic-schema JSON
    // path (q19 is the static-path get_json_object). Narrow per-row op;
    // the only shuffle is the final agg.
    "q30_json_map" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          explode(from_json(col("props"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.IntegerType))).as(Seq("key", "value")))
        .groupBy("event_type", "key")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("long")).as("sum_v"),
          max(col("value")).as("max_v"))
        .orderBy("event_type", "key")
    }),

    "q20_string_funcs" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          length(col("c_name")).cast("long").as("name_len"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("seg_key"),
          regexp_replace(col("c_name"), "[0-9]+", "#").as("name_nodigit"))
        .filter(col("c_custkey") % 7 === 0)
        .orderBy("c_custkey")
    }),

    "q21_date_funcs" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).cast("long").as("age_days"))
        .groupBy("y", "m")
        .agg(count(lit(1)).as("n"), min(col("age_days")).as("min_age_days"))
        .orderBy("y", "m")
    }),

    "q22_math_funcs" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 1000 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("price_r1"),
          floor(col("l_quantity")).cast("long").as("qty_floor"),
          ceil(col("l_discount") * 100).cast("long").as("disc_pct_ceil"),
          abs(col("l_quantity") - 25.0).as("qty_dev"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          pow(col("l_tax") + lit(1.0), 2).as("tax_sq"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // NULL semantics — the classic cross-engine parity trap, pinned
    // explicitly: nullif-created nulls, null-safe equality (<=> vs IS NOT
    // DISTINCT FROM), count(col) vs count(*), and nulls as group keys.
    "q35_null_semantics" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("maybe_priority",
          nullif(col("o_orderpriority"), lit("3-MEDIUM")))
      o.groupBy("maybe_priority")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("maybe_priority")).as("n_nonnull"),
          sum(col("maybe_priority").isNull.cast("long")).as("n_null"),
          sum((col("maybe_priority") <=> lit("1-URGENT")).cast("long")).as("n_nullsafe_urgent"))
        .select(
          coalesce(col("maybe_priority"), lit("<NULL>")).as("priority_key"),
          col("n_rows"), col("n_nonnull"), col("n_null"), col("n_nullsafe_urgent"))
        .orderBy("priority_key")
    }),

    // ---- subqueries ------------------------------------------------------------
    // scalar subquery: global avg broadcast into the filter.
    "q25_scalar_subquery" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val avgPrice = o.agg((dsum(col("o_totalprice")) / count(lit(1))).as("a"))
      o.join(broadcast(avgPrice))
        .filter(col("o_totalprice") > col("a") * 1.8)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // correlated EXISTS via aggregation-then-semijoin: customers whose max
    // single order exceeds a threshold (decorrelated form — the scalable
    // plan for a correlated subquery).
    "q26_correlated_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val mx = o.groupBy("o_custkey").agg(max("o_totalprice").as("max_price"))
      c.join(mx, c("c_custkey") === mx("o_custkey"))
        .filter(col("max_price") > 400000)
        .select("c_custkey", "c_name", "max_price")
        .orderBy("c_custkey")
    }),

    // CUBE: all 4 grouping-set combinations expanded map-side (rows ×4,
    // same single shuffle as a plain agg — grouping sets never need
    // multiple passes).
    "q29_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          grouping("o_orderstatus").cast("int").as("g_status"),
          grouping("o_orderpriority").cast("int").as("g_priority"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("g_status"), col("g_priority"))
        .orderBy("g_status", "g_priority", "status", "priority")
    }),

    // PIVOT: wide conditional aggregation — one shuffle on the row key,
    // the column-key dispatch is free map-side (Spark rewrites pivot into
    // CASE WHEN aggregates; values enumerated so the plan is static).
    "q28_pivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0.0)).as("sum_f"),
          coalesce(col("O"), lit(0.0)).as("sum_o"),
          coalesce(col("P"), lit(0.0)).as("sum_p"))
        .orderBy("o_orderpriority")
    }),

    // ---- SQL-text interface (the spark.sql surface over the same tables) ----
    // NOT IN with a nullable-free key still exercises Spark's null-aware
    // anti-join planning (NAAJ) — a genuinely different operator from
    // left_anti (q08): one extra null-check branch per probe row.
    "q31_sql_not_in" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_custkey, c_name
        FROM customer_v
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM orders_v WHERE o_totalprice > 300000)
        ORDER BY c_custkey""")
    }),

    // CTE + correlated EXISTS + window, all as SQL text — the full
    // declarative path (parser → analyzer → same Catalyst plans the
    // DataFrame API produces).
    "q32_sql_cte_exists" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v2")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v2")
      s.sql("""
        WITH big_items AS (
          SELECT l_orderkey FROM lineitem_v2 WHERE l_quantity >= 49
        )
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM orders_v2
        WHERE EXISTS (SELECT 1 FROM big_items WHERE l_orderkey = o_orderkey)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    // LATERAL correlated derived table — "top-3 orders per customer"
    // written the way an analyst writes it (the subquery conceptually
    // re-executes per outer row). Catalyst decorrelates it (the
    // per-partition LIMIT becomes a ranked filter under a
    // DomainJoin-rewritten join), so the physical plan is shuffles +
    // window, never a per-row loop — which is why the form survives a
    // customer table of any size. Same answer shape as q38, arrived at
    // through the opposite interface: SQL-text decorrelation vs a typed
    // bounded aggregator.
    "q43_lateral_topk" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_l")
      Tables.orders(s, dir).createOrReplaceTempView("orders_l")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_l c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_l
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 3
        ) o
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""")
    }),

    // top-k PER GROUP via the bounded TopKAggregator — NOT a row_number
    // window. The window form sorts and shuffles every row; the
    // aggregator's k-bounded state partial-aggregates map-side, so the
    // shuffle carries k rows per group per task instead of the input.
    // The oracle states the same answer in window form — proving the
    // bounded-state plan IS the window semantics.
    "q38_topk_per_group" -> ((s, dir) => {
      import graft.functions.TopKAggregator.top_k
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(top_k(col("o_totalprice").cast("double"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("o_orderpriority"), (col("i") + 1).cast("long").as("rank"),
          col("t.id").as("o_orderkey"), col("t.score").as("price"))
        .orderBy("o_orderpriority", "rank")
    }),

    // explicit GROUPING SETS (the general form behind q24's ROLLUP / q29's
    // CUBE): three hand-picked grouping combinations in ONE pass — the
    // sets expand map-side (×|sets|) into a single shuffle, same as
    // rollup/cube, so at 100 TB this is one aggregation, not three.
    // GROUPING() disambiguates real NULL keys from superaggregate rows.
    "q36_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v3")
      s.sql("""
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        FROM lineitem_v3
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY g_flag, g_status, flag, status""")
    }),

    // lateral explode with position (the generate/flatten relational op):
    // part names unnest to (pos, word) pairs — a narrow generate, no
    // shuffle until the one hash agg on the word key. The position column
    // exercises ordinal semantics (posexplode ⟷ DuckDB's zipped unnest).
    "q39_explode_pos" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .groupBy("word")
        .agg(count(lit(1)).as("n"),
          min(col("pos")).cast("long").as("min_pos"),
          max(col("pos")).cast("long").as("max_pos"),
          countDistinct(col("p_partkey")).as("n_parts"))
        .orderBy("word")
    }),

    // distribution window functions (the q33 leftovers): percent_rank /
    // cume_dist are rank arithmetic — (rank-1)/(n-1) and row/n — whose
    // int-by-int IEEE divisions are correctly rounded identically in any
    // engine, so they sit under the exact gate; nth_value runs over an
    // explicit running frame. Total order (acctbal, custkey) kills peer
    // groups, making every value deterministic.
    "q41_window_distribution" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          nth_value(col("c_custkey"), 2).over(wf).as("second_key"))
        .orderBy("c_custkey")
    }),

    // IGNORE NULLS window navigation — the gap-filling family: LOCF
    // ("last observation carried forward") via last(ignoreNulls) over a
    // running frame, previous/first/nth non-null observation. Nulls are
    // injected deterministically (click events report no value) so the
    // fixture genuinely exercises the skip-nulls machinery. Values are
    // navigated, never combined — no float arithmetic, exact parity.
    "q42_window_ignore_nulls" -> ((s, dir) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, dir)
        .withColumn("v",
          when(col("event_type") === "click", lit(null)).otherwise(col("value")))
        .select(col("user_id"), col("event_id"), col("v"),
          last(col("v"), ignoreNulls = true).over(cum).as("locf_value"),
          lag(col("v"), 1, null, ignoreNulls = true).over(ord).as("prev_obs"),
          first(col("v"), ignoreNulls = true).over(full).as("first_obs"),
          nth_value(col("v"), 2, ignoreNulls = true).over(full).as("second_obs"))
        .orderBy("user_id", "event_id")
    }),

    // EXACT percentiles (q27's approx_percentile is the sketch; this is
    // the ground truth a sketch is validated against). Spark's percentile
    // is a full-sort-per-group aggregate — correct but memory-bound by
    // the widest group, which is why the approx variant exists for 100 TB;
    // both belong in the library. Interpolated values over integer
    // l_quantity are exact binary fractions, so DuckDB's quantile_cont
    // matches bit-for-bit.
    "q40_exact_percentiles" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // aggregate FILTER clause — per-aggregate predicates in ONE pass over
    // the fact table (the alternative is either N scans or N CASE WHEN
    // wrappers; FILTER is the declarative form Catalyst rewrites to the
    // same single hash agg). count_if covers the function-form spelling.
    // Every filtered sum runs in decimal and casts once at the end, the
    // q01 discipline.
    "q44_filter_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_f")
      s.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
               count_if(l_discount = 0.0) AS n_nodisc,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_shipdate >= DATE '1997-01-01') AS DOUBLE) AS recent_qty
        FROM lineitem_f
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    }),

    // ordered string aggregation (LISTAGG / string_agg semantics): collect
    // a group's values, order them, concatenate. Spark spells it
    // concat_ws ∘ sort_array ∘ collect_list — collect_list partial-
    // aggregates map-side and the sort pins a deterministic element order
    // (an unordered listagg is nondeterministic under parallelism and
    // could never be oracle-checked). Group state is O(distinct values) —
    // collect_set over the ~7 order years and 3 statuses here, so the
    // shuffle carries a handful of elements per group per task, not rows;
    // an unbounded-group listagg at 100 TB is a design error, not a
    // missing feature.
    "q45_string_agg" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          concat_ws(",", sort_array(collect_set(year(col("o_orderdate")).cast("long"))))
            .as("years_csv"),
          concat_ws("|", sort_array(collect_set(col("o_orderstatus")))).as("status_csv"))
        .orderBy("o_orderpriority")
    }),

    // argmin/argmax aggregates (max_by / min_by): "the row that achieved
    // the extreme" without a self-join or window — one hash agg carrying
    // a (value, key) pair per group. The ordering key is a STRUCT with
    // the id as tie-break, so the answer is deterministic under any
    // partitioning (a bare max_by(key, price) is nondeterministic on
    // price ties — the same trap as an unordered listagg). The oracle
    // states the identical semantics as ranked windows.
    "q47_argminmax" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
          max(col("o_totalprice")).as("top_price"),
          min(col("o_totalprice")).as("bottom_price"))
        .orderBy("o_orderpriority")
    }),

    // UNPIVOT (melt) — q28's pivot inverted: wide per-group measures to
    // long (group, measure, value) rows, the shape feature stores and
    // metric pipelines want. Spark's native unpivot plans as Expand (each
    // input row fans out to one row per measure — a generate, never a
    // shuffle); the only shuffle here is the tiny upstream agg. Measures
    // are cast to one type (double) because unpivot requires a common
    // value type; counts and decimal-summed prices are exact in double
    // at any realistic magnitude (< 2^53).
    "q46_unpivot" -> ((s, dir) => {
      val wide = Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n_items"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("n_items"), col("sum_qty"), col("sum_price")),
          "measure", "val")
        .orderBy("l_returnflag", "measure")
    }),

    // VARIANT — Spark 4's native semi-structured type (the engine-level
    // successor to get_json_object string probing, q19): parse once into
    // the binary variant encoding, then typed path extraction
    // (variant_get) at column speed. At 100 TB the difference is real —
    // variant parses each props string ONCE and every extraction is a
    // binary offset lookup, where the q19 path re-parses the string per
    // get_json_object call. Values land in the same typed columns, so
    // the ordinary JSON oracle states the identical answer.
    "q48_variant_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", variant_get(col("v"), "$.k", "int"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k").cast("long")).as("sum_k"),
          sum(when(col("k") % 2 === 0, col("k").cast("long")).otherwise(0L)).as("sum_even_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // RECURSIVE CTE — Spark 4's WITH RECURSIVE (the last major ANSI SQL
    // surface Spark lacked): a per-customer successor-chain walk — seed
    // at each customer's first order, step to the next order by date —
    // the linked-list/lineage-trace recursion shape (session stitching,
    // provenance chains). UNION ALL recursion is safe here because the
    // chain is acyclic and strictly advancing: the frontier is one row
    // per customer per step, and depth = max orders per customer
    // (bounded by the domain, far under the 100-level default cap). The
    // oracle states the same answer through the non-recursive window
    // formulation — two independent formulations, one hash-exact result.
    "q49_recursive_cte" -> ((s, dir) => {
      // Spark guards runaway recursion with a cumulative row cap
      // (spark.sql.cteRecursionRowLimit, default 1M) — the 10× probe
      // trips it with a perfectly healthy walk (rows ∝ |orders|, depth
      // unchanged). This recursion is provably finite (the frontier
      // strictly advances along rn), so the cap is raised on an ISOLATED
      // CHILD SESSION (Materialize.loopSession: shared SparkContext,
      // private SQLConf, AQE off) — the caller's session keeps the
      // runaway-recursion guard, and a concurrent runner can never
      // observe the override (ConfHygieneSpec). The temp view registers
      // in the child's private catalog, so it can't clobber a
      // caller-session view either. The whole recursion executes eagerly
      // (Materialize) on the child; the returned frame is served from
      // persisted blocks. The recursion is a fixed-shape per-step join
      // whose wall-clock is DRIVER overhead at this SF (depth ≈ max chain
      // length sequential steps): AQE would re-plan each step's exchanges
      // into extra driver jobs, and the task count per step is sized to
      // the DATA, not the session default (32 tasks/step on a 150 k-row
      // walk was the bisected r10→r11 q49 regression shape: 11.7 → 7.2 s
      // with both fixes).
      val s2 = graft.Materialize.loopSession(s)
      s2.conf.set("spark.sql.cteRecursionRowLimit", "1000000000")
      // the successor table is MATERIALIZED once (Materialize:
      // lineage-keeping persist) before the recursion: a plain
      // CTE would be inlined into every recursive step, re-running the
      // scan + LEAD window sort ~max-chain-length times (measured:
      // 10.5 s → ~3 s at sf0.1). Production recursion over a lineage
      // table does the same — walk a materialized edge table, don't
      // re-derive it per step.
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val chain = graft.Materialize(Tables.orders(s2, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          lead(col("o_orderkey"), 1).over(w).as("nxt_key"),
          row_number().over(w).as("rn")))
      chain.createOrReplaceTempView("orders_chain")
      // shuffle width derived from the materialized row count (~1 task
      // per 500k walk rows, floor 8): at sf0.1 the per-step jobs run
      // 8 tasks instead of 32 (pure scheduling overhead on 150 k rows);
      // at the 100× probe the same rule scales back up to 30 so the
      // chain-build window and final agg keep the cores busy — a
      // measured 1M divisor starved them (112.8 s vs 45-ish at 100×).
      val nRows = chain.count()
      s2.conf.set("spark.sql.shuffle.partitions",
        math.max(8L, nRows / 500000L).toString)
      // frontier-gated broadcast: the frontier is one row per customer,
      // so its size is known BEFORE the walk starts. Small (the common
      // case — here ~15 k rows) ⇒ hint the broadcast and every step is a
      // shuffle-free scan of the chain table; past the gate (a 10⁸-row
      // customer base at three orders of magnitude up) the hint would
      // broadcast a frame that can kill the driver, so the walk falls
      // back to a plain join and lets the planner choose.
      val nCust = chain.filter(col("rn") === 1).count()
      val hint = if (nCust <= 8000000L) "/*+ BROADCAST(w) */ " else ""
      graft.Materialize(s2.sql(s"""
        WITH RECURSIVE walk AS (
          SELECT o_custkey, o_orderkey, 1 AS seq
          FROM orders_chain WHERE rn = 1
          UNION ALL
          SELECT ${hint}n.o_custkey, n.nxt_key, w.seq + 1
          FROM walk w JOIN orders_chain n
            ON n.o_custkey = w.o_custkey AND n.o_orderkey = w.o_orderkey
          WHERE n.nxt_key IS NOT NULL
        )
        SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
               CAST(MAX(seq) AS BIGINT) AS chain_len,
               max_by(o_orderkey, seq) AS last_order
        FROM walk GROUP BY o_custkey ORDER BY custkey"""))
    }),

    // ERROR-SAFE ARITHMETIC — Spark 4 runs ANSI mode by default, where
    // division by zero THROWS; try_divide is the row-survives spelling
    // (the ELT pipeline contract: one bad row must not kill a 100 TB
    // job). Null-counts and min/max of the safe ratio are order-free, so
    // the whole query sits under the exact gate (sums of float ratios
    // would not be — accumulation order). Oracle states the same
    // semantics with NULLIF, the engine-portable form.
    "q50_try_arithmetic" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .withColumn("ratio", expr(
          "try_divide(cast(l_extendedprice as double), cast(l_quantity as double) - 25.0)"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("ratio").isNull, 1)).as("n_div0"),
          max(col("ratio")).as("max_ratio"),
          min(col("ratio")).as("min_ratio"))
        .orderBy("l_returnflag")
    }),

    // CDC APPLY — the lakehouse MERGE kernel: collapse a change stream to
    // its final state (latest change wins per key; a delete marker as the
    // latest change removes the row). Events stand in as the change
    // stream keyed by user_id, ordered by (ts, event_id) (unique ⇒
    // deterministic), with 'error' as the tombstone class. The argmax is
    // ONE hash agg via max_by over a struct ordering key — constant state
    // per key and map-side combinable, vs the window formulation's full
    // per-key sort. That difference is the whole game at 100 TB: a CDC
    // compaction over billions of keys is a combine-then-shuffle of one
    // row per key, never a sort of every change. Doubles pass through
    // untouched (no arithmetic), so the query gates exactly against the
    // ranked-window oracle.
    "q51_cdc_apply" -> ((s, dir) => cdcApply(Tables.events(s, dir))),

    // APPROX-DISTINCT'S EXACT TWIN, under the hash gate. The sketch
    // numbers themselves (HLL++ counts, KLL percentile ranks) are
    // engine-specific internals no cross-engine oracle can hash-match —
    // so the GATED output is the exact ground truth the sketches are
    // validated against (exact distinct parts per flag, exact
    // interpolated quantity percentiles, group sizes), and the
    // approx-vs-exact tolerance assertions live wholly in SketchSpec,
    // which computes approx_count_distinct / approx_percentile over the
    // same table and must land within the configured error bounds of
    // THESE columns. Percentile points are dyadic (1/2, 3/4, 7/8) over
    // integer l_quantity: position and interpolation arithmetic are
    // exact binary fractions, so Spark's percentile and DuckDB's
    // quantile_cont agree bit-for-bit under ANY evaluation order (the
    // q40 argument, extended to the upper tail).
    "q27_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          expr("percentile(l_quantity, array(0.5, 0.75, 0.875))").as("qty_pcts"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("exact_parts"),
          col("qty_pcts").getItem(0).as("qty_p50"),
          col("qty_pcts").getItem(1).as("qty_p75"),
          col("qty_pcts").getItem(2).as("qty_p875"),
          col("n_rows"))
        .orderBy("l_returnflag")
    }),

    // q52: MERGEABLE cardinality sketches (DataSketches HLL). q27's
    // approx_count_distinct answers one question on one scan; at 100 TB the
    // idiom is different: each source/day/partition builds a fixed-size
    // binary sketch ONCE (hll_sketch_agg — map-side combinable, a few KB of
    // state per group regardless of row count), the sketches are stored, and
    // every later cardinality question — union across days, across sources,
    // year-to-date — is answered by merging stored sketches (hll_union_agg)
    // with NO rescan of the data. Register-max merge is lossless: the union
    // of per-group sketches is bit-identical to a single-pass sketch of the
    // whole, pinned in SketchSpec. Here: distinct users per event_type plus
    // the cross-type union (users overlap across types, so the union is
    // strictly less than the sum — the dedup the sketch carries).
    "q52_sketch_union" -> ((s, dir) => {
      val perType = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val byType = perType.select(
        col("event_type"),
        expr("hll_sketch_estimate(sk)").as("approx_users"))
      val allTypes = perType
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
        .select(lit("ALL").as("event_type"), col("approx_users"))
      byType.unionByName(allTypes).orderBy("event_type")
    }),

    // INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view upkeep
    // kernel: a stored per-group PARTIAL state (sum, count — the
    // mergeable form; avg is derived, never stored) is combined with the
    // partial state of a new delta batch by one state-merge agg, and the
    // result must equal a full recompute. At 100 TB this is the
    // difference between re-aggregating the corpus nightly and
    // aggregating only the day's increment: base state is O(groups), the
    // merge shuffles O(2·groups) rows, and only the delta is scanned at
    // update time. Here base/delta split lineitem on l_orderkey % 10
    // (deterministic, partition-invariant); decimal partial sums make
    // merge associativity EXACT, so the maintenance identity
    // merge(partial(base), partial(delta)) == partial(base ∪ delta)
    // sits under the hash gate with the oracle as the full recompute.
    "v01_incremental_agg" -> ((s, dir) =>
      incrementalAgg(Tables.lineitem(s, dir))),

    // SCD TYPE-2 HISTORY BUILD — q51's other half: the lakehouse MERGE
    // that KEEPS history instead of collapsing it. Every change opens a
    // version row with a validity interval [valid_from, valid_to); the
    // next change for the same key closes it; a tombstone ('error')
    // closes the current version WITHOUT opening one (so a user whose
    // last change is a delete has no is_current row — the SCD-2 delete
    // contract). Scale shape: ONE user-keyed shuffle; both window passes
    // (lead for the closing edge, row_number for the version sequence)
    // share the same partitioning+ordering, and each key sorts only its
    // own handful of changes — per-key-linear, never a global sort.
    // Values pass through untouched ⇒ the whole history gates exactly.
    "v02_scd2_history" -> ((s, dir) => {
      scd2History(eventChanges(s, dir))
        .orderBy("user_id", "version_seq")
    }),

    // PARTITION-SCOPED MV REFRESH — the third view-maintenance kernel
    // (v01 merges mergeable partial states; v02 keeps history; v03
    // refreshes by PARTITION): a delta batch touches a few date
    // partitions, so the view is rebuilt ONLY for the months the delta
    // names — untouched months pass through from the stored MV, touched
    // months are recomputed from a partition-pruned scan. This is how
    // lakehouse MVs support NON-MERGEABLE aggregates (the COUNT(DISTINCT
    // custkey) below has no partial state v01-style merge could combine)
    // — recomputing a whole partition needs no algebraic structure.
    // Scale shape: update cost = |delta| + |touched partitions|, never
    // the corpus; on a date-partitioned table the touched-month filter
    // IS the partition-pruning predicate. The delta here is the
    // realistic mix — a late-arriving tail (everything from 2001 on)
    // plus a sparse corrections trickle (okey ≡ 0 mod 997) — and the
    // identity result == full recompute sits under the hash gate.
    "v03_partition_refresh" -> ((s, dir) =>
      partitionRefresh(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month")),
        col("month") >= "2001-01-01" || col("o_orderkey") % 997 === 0)),

    // SNAPSHOT-AS-OF READ (time travel) — the lakehouse read that makes
    // v02's history useful: the table AS OF time T is every version row
    // whose validity interval covers T (valid_from ≤ T < valid_to, open
    // intervals unbounded). One filter over the history — at scale this
    // is a partition-pruned scan of the version table, no join, no
    // state; users first seen after T and users tombstoned before T are
    // both absent BY the interval algebra (the delete contract v02's
    // spec pins). T is mid-fixture so all three populations exist.
    "v04_asof_snapshot" -> ((s, dir) => {
      scd2History(eventChanges(s, dir))
        .filter(col("valid_from") <= SnapshotSec &&
          (col("valid_to").isNull || col("valid_to") > SnapshotSec))
        .select(col("user_id"), col("version_seq"), col("state"), col("value"),
          col("valid_from"), col("valid_to"))
        .orderBy("user_id")
    }),

    // SNAPSHOT DIFF — what changed between two points in time: v04's
    // as-of read at T and at T+7d, full-outer-joined per user and
    // classified added / removed / changed / unchanged (the audit query
    // behind every "what did last week's loads do" investigation, and
    // the semantic the lakehouse CDF/table_changes feature serves). One
    // history build, two interval filters, one user-keyed join whose
    // sides are each ≤ |users| rows; counts BIGINT ⇒ exact gate.
    "v05_snapshot_diff" -> ((s, dir) =>
      snapshotDiff(scd2History(Tables.events(s, dir)
        .withColumn("ts_sec", col("ts").cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          col("event_type"), col("value"))),
        SnapshotSec, SnapshotSec + 7L * 86400L)),

    // DELETION PROPAGATION — the lakehouse-side answer to a right-to-be-
    // forgotten (or licensing-takedown) request against a TRAINING
    // corpus: deleting source docs is the easy half; the audit is which
    // DERIVED artifacts the tombstones invalidate. Composes the shipped
    // derivation rules — t10's stride chunks and t11's per-source packed
    // token stream — against a deterministic tombstone set (doc_id ≡ 0
    // mod 53): per source, docs deleted, chunks invalidated (t10's
    // count arithmetic), distinct packed sequences made dirty (a
    // sequence is dirty iff it contains ≥1 token of a deleted doc —
    // t11's interval arithmetic, exploded per deleted doc over its
    // ≤ n_tokens/512+2 covered sequence ids), and the dirty fraction.
    // Scale shape: one token-count scan + t11's within-source window;
    // the explode is bounded by deleted docs' sequence spans, never the
    // corpus; output is |sources| rows.
    // RETENTION / VACUUM PLANNING — the table-maintenance sibling of
    // v02's SCD-2 history: given a retention window (7 days before the
    // v04 snapshot instant), report per state how many superseded
    // versions are safely vacuumable (their validity ENDED before the
    // cutoff — current versions are never candidates) and what fraction
    // of the history that reclaims. The plan is manifest-shaped: one
    // pass over the history frame, |states| output rows, all integers
    // plus one division — the arithmetic a VACUUM/retention job runs
    // before touching any file.
    "v07_vacuum_plan" -> ((s, dir) => {
      val hist = scd2History(Tables.events(s, dir)
        .withColumn("ts_sec", col("ts").cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          col("event_type"), col("value")))
      val cutoff = SnapshotSec - 7L * 86400L
      hist.groupBy("state")
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("valid_to").isNotNull && col("valid_to") < cutoff, 1L)
            .otherwise(0L)).as("n_vacuumable"),
          min("valid_from").as("earliest_from"))
        .select(col("state"), col("n_versions"), col("n_vacuumable"), col("earliest_from"),
          (col("n_vacuumable").cast("double") / col("n_versions").cast("double"))
            .as("vacuum_frac"))
        .orderBy("state")
    }),

    "v06_delete_propagation" -> ((s, dir) => deletePropagation(Tables.documents(s, dir)))
  )

  /** q17 core over any events frame, batch or stream (s02 runs it as a
    * complete-mode streaming aggregate): 1-hour tumbling counts and exact
    * value sums per event type.
    */
  private[graft] def tumblingWindows(e: DataFrame): DataFrame =
    e.groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** q51 core over any events frame: the latest-wins state per user goes
    * through `drain` (identity in batch; s18 runs the streaming state to
    * its sink) before tombstones filter out.
    */
  private[graft] def cdcApply(e: DataFrame, drain: DataFrame => DataFrame = identity): DataFrame = {
    val ord = struct(col("ts_sec"), col("event_id"))
    drain(e.withColumn("ts_sec", col("ts").cast("long"))
        .groupBy("user_id")
        .agg(
          max_by(col("event_type"), ord).as("last_type"),
          max_by(col("value"), ord).as("last_value"),
          max_by(col("ts_sec"), ord).as("last_ts_sec"),
          count(lit(1)).as("n_changes")))
      .filter(col("last_type") =!= "error")
      .select(col("user_id"), col("last_type"), col("last_value"),
        col("last_ts_sec"), col("n_changes"))
      .orderBy("user_id")
  }

  /** v02/v04 input: the events table as per-user change rows. */
  private def eventChanges(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_sec", col("ts").cast("long"))
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        col("event_type"), col("value"))

  /** v06 core over any (doc_id, source, text) frame — extracted so the
    * interval corners the fixture may not hit (a deleted doc sharing a
    * sequence with its neighbor, a deletion-free source, a doc ending
    * exactly on a sequence boundary) are unit-testable on crafted rows.
    */
  private[operators] def deletePropagation(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokenCountWs
    import graft.operators.TextAnalysis.{ChunkStride, SeqBudget}
    val del = col("doc_id") % 53 === 0
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stream = docs.select(col("doc_id"), col("source"),
        tokenCountWs(col("text")).as("n_tokens"), del.as("deleted"))
      .filter(col("n_tokens") > 0)
      .withColumn("cum", sum("n_tokens").over(w))
    val seqTotals = stream.groupBy("source")
      .agg(expr(s"(max(cum) - 1) div $SeqBudget + 1").as("n_seqs_total"))
    val dirty = stream.filter(col("deleted"))
      .select(col("source"),
        explode(expr(s"sequence((cum - n_tokens) div $SeqBudget, (cum - 1) div $SeqBudget)")).as("seq"))
      .groupBy("source").agg(countDistinct("seq").as("n_seqs_dirty"))
    val chunks = docs.filter(del && length(col("text")) > 0)
      .groupBy("source")
      .agg(sum(expr(s"(length(text) - 1) div $ChunkStride + 1")).as("n_chunks_invalidated"))
    val deleted = docs.filter(del).groupBy("source").agg(count(lit(1)).as("n_docs_deleted"))
    docs.select("source").distinct()
      .join(deleted, Seq("source"), "left")
      .join(chunks, Seq("source"), "left")
      .join(dirty, Seq("source"), "left")
      .join(seqTotals, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_docs_deleted"), lit(0L)).as("n_docs_deleted"),
        coalesce(col("n_chunks_invalidated"), lit(0L)).as("n_chunks_invalidated"),
        coalesce(col("n_seqs_dirty"), lit(0L)).as("n_seqs_dirty"),
        coalesce(col("n_seqs_total"), lit(0L)).as("n_seqs_total"),
        when(coalesce(col("n_seqs_total"), lit(0L)) === 0, 0.0)
          .otherwise(coalesce(col("n_seqs_dirty"), lit(0L)).cast("double")
            / col("n_seqs_total").cast("double"))
          .as("dirty_frac"))
      .orderBy("source")
  }

  /** v05 core over a v02-shaped history — extracted so every status leg
    * (added, removed via tombstone, changed, unchanged) is unit-testable
    * on crafted version chains.
    */
  private[operators] def snapshotDiff(hist: DataFrame, t1: Long, t2: Long): DataFrame = {
    def at(t: Long): DataFrame = hist
      .filter(col("valid_from") <= t && (col("valid_to").isNull || col("valid_to") > t))
      .select(col("user_id"), col("version_seq"))
    at(t1).withColumnRenamed("version_seq", "v1")
      .join(at(t2).withColumnRenamed("version_seq", "v2"), Seq("user_id"), "full_outer")
      .select(when(col("v1").isNull, "added")
        .when(col("v2").isNull, "removed")
        .when(col("v1") === col("v2"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_users"))
      .orderBy("status")
  }

  /** v04: the snapshot instant — 2024-01-16 00:00:00 UTC, the middle of
    * the events fixture's 30-day span at every SF.
    */
  val SnapshotSec = 1705363200L

  /** v03 core over (o_orderkey, o_custkey, o_totalprice, month) rows with
    * a caller-supplied delta predicate — extracted so the refresh paths
    * the shipped split may not all produce (a month existing ONLY in the
    * delta, an untouched month, a mixed month) are unit-testable on
    * crafted rows.
    */
  private[operators] def partitionRefresh(o: DataFrame,
                                          isDelta: org.apache.spark.sql.Column): DataFrame = {
    def mv(rows: DataFrame): DataFrame = rows.groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(38,6)")).as("s_total"),
        countDistinct(col("o_custkey")).as("n_customers"))
    val touched = mv(o.filter(isDelta)).select("month")
    val stale = mv(o.filter(!isDelta))   // the "stored" MV state
    val refreshed = mv(o.join(broadcast(touched), Seq("month"), "left_semi"))
    stale.join(broadcast(touched), Seq("month"), "left_anti")
      .unionByName(refreshed)
      .select(col("month"), col("n_orders"),
        col("s_total").cast("double").as("sum_total"), col("n_customers"))
      .orderBy("month")
  }

  /** v02 core over (user_id, event_id, ts_sec, event_type, value) change
    * rows — extracted so the tombstone paths (delete mid-history, delete
    * as the LAST change) are unit-testable on crafted rows.
    */
  private[operators] def scd2History(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    changes
      .withColumn("valid_to", lead(col("ts_sec"), 1).over(w))
      .filter(col("event_type") =!= "error")
      .withColumn("version_seq", row_number().over(w).cast("long"))
      .select(col("user_id"), col("version_seq"),
        col("event_type").as("state"), col("value"),
        col("ts_sec").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** v01 core over lineitem-shaped rows — extracted so the merge paths
    * the shipped split never produces (a group present ONLY in the delta,
    * an empty delta) are unit-testable on crafted rows.
    */
  private[operators] def incrementalAgg(li: DataFrame): DataFrame = {
    def partialState(df: DataFrame): DataFrame =
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(38,6)")).as("s_qty"),
          sum(col("l_extendedprice").cast("decimal(38,6)")).as("s_price"),
          count(lit(1)).as("n"))
    val base = partialState(li.filter(col("l_orderkey") % 10 =!= 0))
    val delta = partialState(li.filter(col("l_orderkey") % 10 === 0))
    base.unionByName(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("s_qty").as("s_qty"), sum("s_price").as("s_price"),
        sum("n").as("n"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("s_qty").cast("double").as("sum_qty"),
        col("s_price").cast("double").as("sum_base_price"),
        (col("s_qty").cast("double") / col("n")).as("avg_qty"),
        col("n").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** v02's version chain: `ch` the change events on second-truncated
    * time, `v` each with the next change's time as `valid_to`. v04, v05
    * and v07 read their history off the same chain.
    */
  private val duckVersionCtes: String =
    """ch AS (
      |  SELECT user_id, event_id, event_type, "value",
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec
      |  FROM events
      |), v AS (
      |  SELECT *, LEAD(ts_sec) OVER (
      |    PARTITION BY user_id ORDER BY ts_sec, event_id) AS valid_to
      |  FROM ch
      |)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the maintenance identity IS the oracle: merged partial states must
    // equal the full recompute (decimal sums are associative, so exact)
    "v01_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // same two windows over the same (user, change-order) key; ties are
    // impossible (event_id unique), so both engines chain identically
    "v02_scd2_history" ->
      s"""WITH $duckVersionCtes
        |SELECT user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS version_seq,
        |  event_type AS state, "value", ts_sec AS valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v WHERE event_type <> 'error'
        |ORDER BY user_id, version_seq""".stripMargin,

    // v02's history restated + the interval-covers-T filter
    "v04_asof_snapshot" ->
      s"""WITH $duckVersionCtes, hist AS (
         |  SELECT user_id,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS version_seq,
         |    event_type AS state, "value", ts_sec AS valid_from, valid_to
         |  FROM v WHERE event_type <> 'error'
         |)
         |SELECT user_id, version_seq, state, "value", valid_from, valid_to
         |FROM hist
         |WHERE valid_from <= $SnapshotSec
         |  AND (valid_to IS NULL OR valid_to > $SnapshotSec)
         |ORDER BY user_id""".stripMargin,

    // two as-of reads of the same restated history, joined and classified
    "v05_snapshot_diff" ->
      s"""WITH $duckVersionCtes, hist AS (
         |  SELECT user_id,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS version_seq,
         |    event_type AS state, ts_sec AS valid_from, valid_to
         |  FROM v WHERE event_type <> 'error'
         |), s1 AS (
         |  SELECT user_id, version_seq AS v1 FROM hist
         |  WHERE valid_from <= $SnapshotSec AND (valid_to IS NULL OR valid_to > $SnapshotSec)
         |), s2 AS (
         |  SELECT user_id, version_seq AS v2 FROM hist
         |  WHERE valid_from <= ${SnapshotSec + 7L * 86400L}
         |    AND (valid_to IS NULL OR valid_to > ${SnapshotSec + 7L * 86400L})
         |)
         |SELECT CASE WHEN v1 IS NULL THEN 'added'
         |            WHEN v2 IS NULL THEN 'removed'
         |            WHEN v1 = v2 THEN 'unchanged'
         |            ELSE 'changed' END AS status,
         |  COUNT(*) AS n_users
         |FROM s1 FULL OUTER JOIN s2 USING (user_id)
         |GROUP BY 1
         |ORDER BY status""".stripMargin,

    // v02/v05's history fragment + the retention predicate; counts
    // BIGINT, one division
    "v07_vacuum_plan" ->
      s"""WITH $duckVersionCtes, hist AS (
         |  SELECT user_id, event_type AS state, ts_sec AS valid_from, valid_to
         |  FROM v WHERE event_type <> 'error'
         |)
         |SELECT state, COUNT(*) AS n_versions,
         |  CAST(SUM(CASE WHEN valid_to IS NOT NULL
         |                 AND valid_to < ${SnapshotSec - 7L * 86400L}
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_vacuumable,
         |  MIN(valid_from) AS earliest_from,
         |  CAST(SUM(CASE WHEN valid_to IS NOT NULL
         |                 AND valid_to < ${SnapshotSec - 7L * 86400L}
         |            THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS vacuum_frac
         |FROM hist
         |GROUP BY state
         |ORDER BY state""".stripMargin,

    // t10's chunk count + t11's window/interval arithmetic restated
    // against the same mod-53 tombstone set; every SUM/COUNT cast to
    // BIGINT (the dtype-strict rule)
    "v06_delete_propagation" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |    CAST(len(${DuckSql.tokens}) AS BIGINT) AS n_tokens,
         |    doc_id % 53 = 0 AS deleted
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_tokens, deleted,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t WHERE n_tokens > 0
         |), tot AS (
         |  SELECT source, (MAX(cum) - 1) // ${graft.operators.TextAnalysis.SeqBudget} + 1 AS n_seqs_total
         |  FROM c GROUP BY source
         |), dirty AS (
         |  SELECT source, COUNT(DISTINCT seq) AS n_seqs_dirty FROM (
         |    SELECT source,
         |      unnest(range((cum - n_tokens) // ${graft.operators.TextAnalysis.SeqBudget},
         |                   (cum - 1) // ${graft.operators.TextAnalysis.SeqBudget} + 1)) AS seq
         |    FROM c WHERE deleted
         |  ) GROUP BY source
         |), chunks AS (
         |  SELECT source,
         |    CAST(SUM((len(text) - 1) // ${graft.operators.TextAnalysis.ChunkStride} + 1) AS BIGINT) AS n_chunks_invalidated
         |  FROM t WHERE deleted AND len(text) > 0 GROUP BY source
         |), deld AS (
         |  SELECT source, COUNT(*) AS n_docs_deleted FROM t WHERE deleted GROUP BY source
         |), base AS (SELECT DISTINCT source FROM documents)
         |SELECT b.source,
         |  COALESCE(deld.n_docs_deleted, 0) AS n_docs_deleted,
         |  COALESCE(chunks.n_chunks_invalidated, 0) AS n_chunks_invalidated,
         |  COALESCE(dirty.n_seqs_dirty, 0) AS n_seqs_dirty,
         |  COALESCE(tot.n_seqs_total, 0) AS n_seqs_total,
         |  CASE WHEN COALESCE(tot.n_seqs_total, 0) = 0 THEN 0.0
         |       ELSE CAST(COALESCE(dirty.n_seqs_dirty, 0) AS DOUBLE)
         |            / CAST(tot.n_seqs_total AS DOUBLE) END AS dirty_frac
         |FROM base b
         |LEFT JOIN deld ON deld.source = b.source
         |LEFT JOIN chunks ON chunks.source = b.source
         |LEFT JOIN dirty ON dirty.source = b.source
         |LEFT JOIN tot ON tot.source = b.source
         |ORDER BY b.source""".stripMargin,

    // the refresh identity IS the oracle: per-month full recompute
    "v03_partition_refresh" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |GROUP BY 1
        |ORDER BY month""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)) AS DOUBLE) AS disc_revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1998-01-01' AND l_shipdate < DATE '1999-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q01_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATE '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q13_distinct_count" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |HAVING COUNT(*) > 10
        |ORDER BY l_returnflag""".stripMargin,

    "q24_rollup" ->
      """SELECT
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority, status, priority""".stripMargin,

    "q23_case_when" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS finished_price,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus <> 'F' THEN o_totalprice ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS open_price,
        |  CAST(SUM(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q03_join_broadcast" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q04_join_sortmerge" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_line_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q05_star_join" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q06_outer_join" ->
      """SELECT c_custkey, c_mktsegment,
        |  COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS sum_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin,

    "q07_semi_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,

    "q08_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND EXTRACT(year FROM o_orderdate) = 1997)
        |ORDER BY c_custkey""".stripMargin,

    "q09_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 25""".stripMargin,

    "q10_sort_paginate" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer
        |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC
        |LIMIT 30 OFFSET 10""".stripMargin,

    "q11_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |) ORDER BY nationkey""".stripMargin,

    "q12_intersect_except" ->
      """WITH y96 AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996),
        |     y97 AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
        |SELECT o_custkey, tag FROM (
        |  SELECT o_custkey, 'only_1996' AS tag FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
        |  UNION ALL
        |  SELECT o_custkey, 'both_years' AS tag FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
        |) ORDER BY tag, o_custkey""".stripMargin,

    "q34_multiset_ops" ->
      """WITH s96 AS (SELECT l_orderkey FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1996),
        |     r96 AS (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25)
        |SELECT op, l_orderkey, n FROM (
        |  SELECT 'except_all' AS op, l_orderkey, COUNT(*) AS n
        |  FROM (SELECT * FROM s96 EXCEPT ALL SELECT * FROM r96) GROUP BY l_orderkey
        |  UNION ALL
        |  SELECT 'intersect_all' AS op, l_orderkey, COUNT(*) AS n
        |  FROM (SELECT * FROM s96 INTERSECT ALL SELECT * FROM r96) GROUP BY l_orderkey
        |) ORDER BY op, l_orderkey""".stripMargin,

    "q14_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
        |    RANK()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders
        |) WHERE rn <= 3
        |ORDER BY o_custkey, rn, o_orderkey""".stripMargin,

    "q15_window_lag" ->
      """SELECT event_id, user_id, event_type,
        |  LAG(event_type, 1) OVER w AS prev_type,
        |  CAST(epoch(date_trunc('second', ts)) - epoch(date_trunc('second', LAG(ts, 1) OVER w)) AS BIGINT) AS gap_sec
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id, event_id""".stripMargin,

    "q16_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER w AS order_seq,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, order_seq""".stripMargin,

    "q33_window_extras" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  FIRST_VALUE(c_name) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_name,
        |  LAST_VALUE(c_name) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC
        |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_balance_sum
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,

    "q17_event_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin,

    "q18_event_sliding" ->
      """SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - k.off), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (VALUES (0), (1800)) AS k(off)
        |GROUP BY 1
        |ORDER BY win_start""".stripMargin,

    "q19_json_extract" ->
      """SELECT event_type,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // the non-recursive window formulation of the same walk: chain_len
    // necessarily equals the order count when the walk visits every
    // order exactly once — which is exactly what the gate proves
    "q49_recursive_cte" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rnd
        |  FROM orders
        |)
        |SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
        |  COUNT(*) AS chain_len,
        |  MAX(CASE WHEN rnd = 1 THEN o_orderkey END) AS last_order
        |FROM r GROUP BY o_custkey
        |ORDER BY custkey""".stripMargin,

    "q50_try_arithmetic" ->
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN l_extendedprice::DOUBLE / NULLIF(l_quantity::DOUBLE - 25.0, 0.0)
        |             IS NULL THEN 1 END) AS n_div0,
        |  MAX(l_extendedprice::DOUBLE / NULLIF(l_quantity::DOUBLE - 25.0, 0.0)) AS max_ratio,
        |  MIN(l_extendedprice::DOUBLE / NULLIF(l_quantity::DOUBLE - 25.0, 0.0)) AS min_ratio
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the max_by hash agg is answer-equal to the ranked window; ties are
    // impossible (event_id unique within a user's (ts_sec, event_id) key)
    "q51_cdc_apply" ->
      """WITH c AS (
        |  SELECT user_id, event_type, "value", event_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT) DESC,
        |               event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_type, "value" AS last_value,
        |  ts_sec AS last_ts_sec, n_changes
        |FROM c WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q48_variant_json" ->
      """SELECT event_type,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(COALESCE(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
        |    THEN CAST(json_extract_string(props, '$.k') AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS sum_even_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q31_sql_not_in" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q43_lateral_topk" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC
        |  LIMIT 3
        |) o
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin,

    "q32_sql_cte_exists" ->
      """WITH big_items AS (
        |  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49
        |)
        |SELECT o_orderpriority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM big_items WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q30_json_map" ->
      """SELECT event_type, u.k AS key,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.' || u.k) AS INT)) AS BIGINT) AS sum_v,
        |  MAX(CAST(json_extract_string(props, '$.' || u.k) AS INT)) AS max_v
        |FROM events, UNNEST(json_keys(props)) AS u(k)
        |GROUP BY event_type, u.k
        |ORDER BY event_type, key""".stripMargin,

    "q20_string_funcs" ->
      """SELECT c_custkey,
        |  UPPER(c_name) AS name_upper,
        |  LENGTH(c_name) AS name_len,
        |  SUBSTRING(c_name, 1, 8) AS name_prefix,
        |  CONCAT_WS('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
        |  REGEXP_REPLACE(c_name, '[0-9]+', '#', 'g') AS name_nodigit
        |FROM customer
        |WHERE c_custkey % 7 = 0
        |ORDER BY c_custkey""".stripMargin,

    "q21_date_funcs" ->
      """SELECT EXTRACT(year FROM o_orderdate) AS y,
        |  EXTRACT(month FROM o_orderdate) AS m,
        |  COUNT(*) AS n,
        |  MIN(CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT)) AS min_age_days
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY y, m""".stripMargin,

    "q22_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(l_extendedprice, 1) AS price_r1,
        |  CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
        |  CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
        |  ABS(l_quantity - 25.0) AS qty_dev,
        |  SQRT(l_quantity) AS qty_sqrt,
        |  POW(l_tax + 1.0, 2) AS tax_sq
        |FROM lineitem
        |WHERE l_orderkey % 1000 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q35_null_semantics" ->
      """SELECT COALESCE(maybe_priority, '<NULL>') AS priority_key,
        |  COUNT(*) AS n_rows,
        |  COUNT(maybe_priority) AS n_nonnull,
        |  CAST(SUM(CASE WHEN maybe_priority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CASE WHEN maybe_priority IS NOT DISTINCT FROM '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_urgent
        |FROM (SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS maybe_priority FROM orders)
        |GROUP BY maybe_priority
        |ORDER BY priority_key""".stripMargin,

    "q25_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) FROM orders) * 1.8
        |ORDER BY o_orderkey""".stripMargin,

    "q26_correlated_agg" ->
      """SELECT c_custkey, c_name, max_price
        |FROM customer JOIN (
        |  SELECT o_custkey, MAX(o_totalprice) AS max_price FROM orders GROUP BY o_custkey
        |) ON c_custkey = o_custkey
        |WHERE max_price > 400000
        |ORDER BY c_custkey""".stripMargin,

    "q38_topk_per_group" ->
      """SELECT o_orderpriority, rn AS rank, o_orderkey, price FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(o_totalprice AS DOUBLE) AS price,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey ASC) AS rn
        |  FROM orders
        |) WHERE rn <= 3
        |ORDER BY o_orderpriority, rank""".stripMargin,

    "q42_window_ignore_nulls" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'click' THEN NULL ELSE "value" END AS v
        |  FROM events
        |)
        |SELECT user_id, event_id, v,
        |  last_value(v IGNORE NULLS) OVER cum AS locf_value,
        |  lag(v IGNORE NULLS) OVER ord AS prev_obs,
        |  first_value(v IGNORE NULLS) OVER var AS first_obs,
        |  nth_value(v, 2 IGNORE NULLS) OVER var AS second_obs
        |FROM t
        |WINDOW ord AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
        |  cum AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  var AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,

    "q41_window_distribution" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  nth_value(c_custkey, 2) OVER (
        |    PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,

    "q40_exact_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS median,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // q27's gated output is the exact ground truth (the sketch numbers
    // are engine-specific; SketchSpec owns the approx-vs-exact bounds)
    "q27_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  quantile_cont(l_quantity, 0.5) AS qty_p50,
        |  quantile_cont(l_quantity, 0.75) AS qty_p75,
        |  quantile_cont(l_quantity, 0.875) AS qty_p875,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q44_filter_agg" ->
      """SELECT l_returnflag,
        |  COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |  COUNT(*) FILTER (WHERE l_discount = 0.0) AS n_nodisc,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_shipdate >= DATE '1997-01-01') AS DOUBLE) AS recent_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q45_string_agg" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  string_agg(DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT), ','
        |             ORDER BY CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)) AS years_csv,
        |  string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS status_csv
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q47_argminmax" ->
      """WITH rmax AS (
        |  SELECT o_orderpriority, o_orderkey AS top_order, o_totalprice AS top_price FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1
        |), rmin AS (
        |  SELECT o_orderpriority, o_orderkey AS bottom_order, o_totalprice AS bottom_price FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
        |    FROM orders) WHERE rn = 1
        |)
        |SELECT o_orderpriority, top_order, bottom_order, top_price, bottom_price
        |FROM rmax JOIN rmin USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,

    // UNION ALL form (not DuckDB's UNPIVOT syntax) so the measure-naming
    // and type rules are stated explicitly rather than inherited from a
    // dialect-specific unpivot implementation
    "q46_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n_items,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, measure, val FROM (
        |  SELECT l_returnflag, 'n_items' AS measure, n_items AS val FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price' AS measure, sum_price AS val FROM wide
        |)
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q39_explode_pos" ->
      """WITH t AS (
        |  SELECT p_partkey, string_split(p_name, ' ') AS w FROM part
        |), g AS (
        |  SELECT p_partkey, unnest(w) AS word, unnest(range(len(w))) AS pos FROM t
        |)
        |SELECT word, COUNT(*) AS n,
        |  MIN(pos) AS min_pos, MAX(pos) AS max_pos,
        |  COUNT(DISTINCT p_partkey) AS n_parts
        |FROM g
        |GROUP BY word
        |ORDER BY word""".stripMargin,

    "q37_full_outer_join" ->
      """WITH y97 AS (
        |  SELECT o_custkey, COUNT(*) AS n_1997 FROM orders
        |  WHERE year(o_orderdate) = 1997 GROUP BY o_custkey
        |), y98 AS (
        |  SELECT o_custkey, COUNT(*) AS n_1998 FROM orders
        |  WHERE year(o_orderdate) = 1998 GROUP BY o_custkey
        |)
        |SELECT COALESCE(y97.o_custkey, y98.o_custkey) AS o_custkey, n_1997, n_1998
        |FROM y97 FULL OUTER JOIN y98 ON y97.o_custkey = y98.o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q36_grouping_sets" ->
      """SELECT
        |  COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,

    "q29_cube" ->
      """SELECT
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority, status, priority""".stripMargin,

    "q28_pivot" ->
      """SELECT o_orderpriority,
        |  COALESCE(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS sum_f,
        |  COALESCE(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS sum_o,
        |  COALESCE(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS sum_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
    // q27_approx_distinct, q52_sketch_union: approximate sketches —
    // intentionally no oracle (HLL/KLL internals are engine-specific; the
    // driver records the weaker rows-only check; SketchSpec pins accuracy
    // and, for q52, lossless sketch mergeability).
  )
}
