package graft.queries

import org.apache.spark.sql.functions._
import Tables._

/** Analytic headliners over the TPC-H-ish tables — the A2 "metrics over an
  * events log" family (SURVEY.md §2.7) generalized to the scan-heavy
  * aggregations a 100 TB deployment would actually run.
  *
  * Scale design:
  *  - Fact table (`lineitem`/`orders`) is only ever scanned once per query;
  *    filters + column pruning push into the parquet reader.
  *  - All dimension joins are explicit `broadcast()` — at 100 TB the facts
  *    are TBs but region/nation/customer/supplier stay broadcastable;
  *    no shuffle of the big side, the only exchange is the final partial →
  *    final aggregation on the (low-cardinality) group keys.
  *  - Top-k uses sort-free TakeOrderedAndProject (orderBy+limit).
  */
object AnalyticsQueries {

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: pricing summary — single scan, partial aggs
    "q1_pricing_summary" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
            .cast("double").as("sum_disc_price"),
          exactAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TPC-H Q3 shape: revenue per order for one market segment, top 10.
    // customer is broadcast; lineitem⋈orders shuffles only the filtered keys.
    "q3_shipping_priority" -> ((s, dir) => {
      val cust = load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = load(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = load(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(broadcast(ord.join(broadcast(cust),
          col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
            .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }),

    // TPC-H Q5 shape: revenue by nation — star join, all dims broadcast
    "q5_nation_volume" -> ((s, dir) => {
      val nat = load(s, dir, "nation")
      val reg = load(s, dir, "region")
      val sup = load(s, dir, "supplier")
      val li = load(s, dir, "lineitem")
        .select("l_suppkey", "l_extendedprice", "l_discount")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name")).agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // TPC-H Q6 shape: forecast revenue — pure scan+filter+agg, fully pushed
    "q6_forecast_revenue" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
        .filter(col("l_quantity") < 24)
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q4 shape: order-priority count with EXISTS — left-semi join
    // (no row multiplication, the semi side never materializes)
    "q4_order_priority" -> ((s, dir) => {
      val lateLines = load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(lateLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q12 shape: conditional aggregation (CASE-sum) after a semi-ish
    // join — one scan of each side, broadcast of the filtered orders keys
    "q12_priority_lines" -> ((s, dir) => {
      val ord = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_returnflag")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(
          sum(when(col("l_returnflag") === "R", 1).otherwise(0))
            .cast("bigint").as("returned_lines"),
          sum(when(col("l_returnflag") =!= "R", 1).otherwise(0))
            .cast("bigint").as("kept_lines"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q14 shape: promo-revenue ratio — conditional DECIMAL sums,
    // single IEEE division at the end
    "q14_promo_effect" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(broadcast(load(s, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (round(sum(when(col("p_type").startsWith("SMALL"),
            col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount").cast("decimal(18,2)")))
            .otherwise(lit(0).cast("decimal(18,2)"))), 2).cast("double") /
            round(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
              .cast("double")).as("promo_ratio"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q18 shape: large-volume orders — aggregate-then-filter
    // (HAVING) feeding a second join; the HAVING side is tiny ⇒ broadcast
    "q18_large_orders" -> ((s, dir) => {
      val big = load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(moneySum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      load(s, dir, "orders")
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          moneyCol(col("o_totalprice")).as("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey")).limit(20)
    }),

    // TPC-H Q17 shape: correlated aggregate threshold — revenue from
    // lineitems below 40% of their part's average quantity. The
    // correlated scalar subquery decorrelates to a per-part aggregate
    // joined back; parts are the small side at any scale of lineitem.
    "q17_small_quantity" -> ((s, dir) => {
      val li = load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val avgQty = li.groupBy(col("l_partkey"))
        .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_qty"))
      li.join(avgQty.toDF("p_key", "avg_qty"),
          col("l_partkey") === col("p_key"))
        .filter(col("l_quantity") < col("avg_qty") * 0.4)
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("small_qty_revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Anti-join shape (the NOT EXISTS family): customers who never placed
    // a large order — the filter pushes into the anti side's scan
    "q_customers_no_orders" -> ((s, dir) =>
      load(s, dir, "customer")
        .join(load(s, dir, "orders")
          .filter(col("o_totalprice") > 300000).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    // Top-k heavy hitters: customer spend, TakeOrderedAndProject (no global sort)
    "topk_customers" -> ((s, dir) => {
      val cust = load(s, dir, "customer").select("c_custkey", "c_name")
      load(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(
          moneySum(col("o_totalprice")).as("spend"),
          count(lit(1)).as("n_orders"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("spend"), col("n_orders"))
        .orderBy(col("spend").desc, col("c_custkey")).limit(20)
    }),

    // TPC-H Q7 shape: trade volume between nation pairs by year — TWO
    // broadcast instances of the same dimension (supplier-side and
    // customer-side nation), dim filters applied before the fact join so
    // the lineitem⋈orders shuffle carries only the ~2/25² of rows that
    // survive. orders-side join is unhinted: AQE picks broadcast at bench
    // SF, shuffle at 100 TB — both correct.
    "q7_nation_trade" -> ((s, dir) => {
      val nats = Seq("NATION_1", "NATION_2")
      val n1 = load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin(nats: _*))
      val n2 = load(s, dir, "nation")
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin(nats: _*))
      val supN = load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      val custN = load(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      val ordN = load(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
          "l_shipdate")
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ordN, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("bigint").as("l_year"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape: one nation's market share inside one region's
    // customer revenue, by order year — conditional share ratio over a
    // 5-table star; every dimension chain (customer→nation→region,
    // supplier→nation) collapses to a broadcast before touching facts.
    "q8_market_share" -> ((s, dir) => {
      val asiaNat = load(s, dir, "nation")
        .join(broadcast(load(s, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nkey"))
      val custAsia = load(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(broadcast(asiaNat), col("c_nationkey") === col("c_nkey"))
        .select("c_custkey")
      val ordAsia = load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"))
      val supN = load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(load(s, dir, "nation")
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nkey"))
        .select("s_suppkey", "supp_nation")
      val disc = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))
      load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ordAsia, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(
          (round(sum(when(col("supp_nation") === "NATION_5", disc)
            .otherwise(lit(0).cast("decimal(18,2)"))), 2).cast("double") /
            round(sum(disc), 2).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q10 shape: top returned-revenue customers for one quarter —
    // both filters (order quarter, returnflag) push into the scans before
    // the join; customer/nation broadcast; TakeOrderedAndProject top-20.
    "q10_returned_items" -> ((s, dir) => {
      val ord = load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat = load(s, dir, "nation").select("n_nationkey", "n_name")
      load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }),

    // TPC-H Q13 shape: customer order-count distribution — LEFT join so
    // zero-order customers survive with c_count 0, then a second (tiny)
    // aggregation over the counts. count(col) ≡ COUNT(o_orderkey):
    // non-null only.
    "q13_order_distribution" -> ((s, dir) =>
      load(s, dir, "customer").select("c_custkey")
        .join(load(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // TPC-H Q19 shape: disjunctive multi-branch predicate (brand × size ×
    // quantity bands OR'd together) — the filter references both sides, so
    // it evaluates after the broadcast join, but each side's scan still
    // prunes to the referenced columns only.
    "q19_disjunctive_revenue" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(load(s, dir, "part")
          .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q22 shape: above-average-balance customers with no RECENT
    // orders — scalar aggregate broadcast to every row (one-row cross
    // join), then an anti-join against the date-filtered orders (the
    // filter pushes into the anti side's scan); rolls up by market segment.
    "q22_missed_opportunity" -> ((s, dir) => {
      val cust = load(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(load(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), moneySum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // TPC-H Q15 shape: top supplier(s) by 3-month revenue. The max is a
    // 1-row aggregate broadcast back (never a global sort); ties all
    // surface (Q15's "view + scalar max" semantics).
    "q15_top_supplier" -> ((s, dir) => {
      val rev = load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q21 shape (adapted: no l_receiptdate/l_commitdate in this
    // schema, so "late" = returned, l_returnflag = 'R' — the join
    // structure is Q21's: semi-join "another supplier in the order",
    // anti-join "no OTHER supplier returned"). Self-joins are equi on
    // l_orderkey — co-partitioned, never broadcast of the fact side.
    "q21_sole_returns" -> ((s, dir) => {
      val li = load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
      val l1 = li.filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey")
      val fOrders = load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select("o_orderkey")
      val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = l1.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      l1.join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(l2, col("l_orderkey") === col("o2") &&
          col("s2") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l_orderkey") === col("o3") &&
          col("s3") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(10)
    }),

    // TPC-H Q2 shape (adapted: the part→supplier relation comes from
    // lineitem, cost = s_acctbal): for each large part, the cheapest
    // supplier — a correlated scalar min, decorrelated into a window min
    // over the joined relation. Dims broadcast; top-20 by acctbal.
    "q2_min_cost_supplier" -> ((s, dir) => {
      // One partkey exchange serves the (partkey, suppkey) distinct AND
      // the cheapest-supplier window (guide §2.4): hashpartitioning on
      // l_partkey clusters the distinct's keys, survives the broadcast
      // dim joins (BroadcastHashJoin expands its output partitioning
      // across the join equality, so the window's p_partkey requirement
      // is satisfied), and the old plan's second corpus-wide window
      // exchange disappears. Same q20/q16 round-15 pattern.
      val rel = load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .repartition(col("l_partkey"))
        .distinct()
      val sup = load(s, dir, "supplier")
      val nat = load(s, dir, "nation")
      val joined = rel
        .join(broadcast(load(s, dir, "part")
          .filter(col("p_size") >= 45).select("p_partkey", "p_name")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_partkey"))
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      joined.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"),
          moneyCol(col("s_acctbal")).as("s_acctbal"))
        .orderBy(col("s_acctbal"), col("p_partkey")).limit(20)
    }),

    // TPC-H Q16 shape (adapted: the NOT-IN complaint filter = suppliers
    // with negative account balance): distinct supplier count per
    // (brand, size band), excluded suppliers anti-joined out BEFORE the
    // count — the Q16 decorrelation.
    "q16_supplier_counts" -> ((s, dir) => {
      val bad = load(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_key"))
      // ONE suppkey exchange serves the whole chain (guide §2.4):
      // hashpartitioning(l_suppkey) satisfies the (partkey, suppkey)
      // distinct, survives the broadcast anti-join and part join, and
      // satisfies countDistinct's phase-1 (brand, band, suppkey)
      // clustering — the round-15 executed plan at sf1 paid TWO
      // corpus-sized exchanges (5.45M + 5.06M rows) for the same
      // dataflow. Map-side partial dedup only saved 8% of rows here,
      // so the raw-row exchange costs ~the same bytes as the old
      // post-partial one.
      load(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .repartition(col("l_suppkey"))
        .distinct()
        .join(bad, col("l_suppkey") === col("bad_key"), "left_anti")
        .join(broadcast(load(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"),
            expr("p_size div 10").as("size_band"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("size_band"))
        .agg(countDistinct(col("l_suppkey")).cast("bigint")
          .as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("size_band"))
    }),

    // TPC-H Q11 shape (adapted: revenue stands in for stock value —
    // no partsupp in this schema): parts whose revenue exceeds 0.2% of
    // the global total. The global scalar is a 1-row broadcast, the
    // HAVING-vs-subquery comparison is a per-row filter — never a
    // re-aggregation.
    "q11_important_parts" -> ((s, dir) => {
      val perPart = load(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("value"))
      val total = load(s, dir, "lineitem").agg(
        round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("total"),
        countDistinct(col("l_partkey")).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        // relative threshold (1.5× the mean part value) — scale-stable,
        // unlike Q11's absolute fraction which pins to one SF; exact
        // DECIMAL total, so the comparison is bit-identical both engines
        .filter(col("value") > (col("total") / col("n_parts")) * 1.5)
        .join(broadcast(load(s, dir, "part").select("p_partkey", "p_name")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    }),

    // TPC-H Q20 shape (adapted): suppliers who dominate a part's supply —
    // quantity share of the part's total above 50%. Exact DECIMAL sums;
    // the share is one IEEE division of identical inputs on both engines.
    "q20_volume_share" -> ((s, dir) => {
      // ONE exchange serves both the grouping and the window (guide
      // §2.4): hashpartitioning(l_partkey) satisfies the (partkey,
      // suppkey) aggregation's clustered distribution AND the window's
      // partitionBy, so the explicit repartition replaces TWO
      // corpus-sized exchanges (the round-15 executed plan at sf1
      // showed 5.92M + 5.91M rows, 316 + 270 MiB). Map-side partial agg
      // gave back almost nothing here anyway — (partkey, suppkey) pairs
      // are ~unique per lineitem row (5.9M groups from 6M rows).
      val qty = load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity")
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("qty"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      qty.withColumn("total_qty", sum(col("qty")).over(w))
        .withColumn("n_supp", count(lit(1)).over(w))
        // ratios of small ints land on EXACT 6dp halves (41/640 =
        // .0640625): Spark rounds doubles half-up, DuckDB half-to-even.
        // floor(x*1e6 + 0.5)/1e6 is half-up in both engines.
        .withColumn("share",
          floor(col("qty").cast("double") / col("total_qty").cast("double")
            * 1000000.0 + 0.5) / 1000000.0)
        // dominance ≥ 2× the equal share — scale-invariant (a fixed
        // share threshold empties as supplier counts grow with SF)
        .filter(col("share") * col("n_supp") > 2.0)
        .select(col("l_partkey"), col("l_suppkey"),
          col("qty").cast("double").as("qty"),
          col("total_qty").cast("double").as("total_qty"),
          col("n_supp").cast("bigint").as("n_supp"), col("share"))
        .orderBy(col("l_partkey"), col("l_suppkey"))
    }),

    // TPC-H Q9 shape (adapted: no partsupp table, so supply cost =
    // 0.5 × retail price): profit by nation × order-year over parts
    // whose name contains 'red'. Part/supplier/nation dims broadcast;
    // lineitem→orders is the only fact-fact equi-join.
    "q9_product_profit" -> ((s, dir) => {
      val li = load(s, dir, "lineitem")
      val ord = load(s, dir, "orders").select("o_orderkey", "o_orderdate")
      li.join(broadcast(load(s, dir, "part")
          .filter(col("p_name").contains("red"))
          .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(load(s, dir, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        // exact DECIMAL end-to-end: casting a COMPUTED double to decimal
        // rounds at .005 boundaries differently across engines; with all
        // factors cast first, every product/sum is exact on both sides
        .agg(round(sum(expr(
          "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(12,2))) - " +
            "CAST(p_retailprice AS DECIMAL(12,2)) * " +
            "CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.5 AS DECIMAL(2,1))")),
          2).cast("double").as("profit"))
        .select(col("n_name"), col("o_year").cast("bigint").as("o_year"),
          col("profit"))
        .orderBy(col("n_name"), col("o_year"))
    }),

    // Cohort retention on the stream table: users grouped by first-seen
    // DAY, activity counted per day offset — the product-analytics
    // matrix (day granularity; the events table spans weeks, so month
    // cohorts would collapse to one row). Two shuffles, both on compact
    // keys (user_id, then (cohort, offset)); the first-seen frame joins
    // co-partitioned on user_id.
    "events_cohort_retention" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("user_id"), col("ts").as("t"))
      val first = ev.groupBy(col("user_id")).agg(min(col("t")).as("t0"))
      ev.join(first, "user_id")
        .select(col("user_id"),
          date_format(col("t0"), "yyyy-MM-dd").as("cohort"),
          datediff(to_date(col("t")), to_date(col("t0")))
            .as("day_offset"))
        .distinct()
        .groupBy(col("cohort"), col("day_offset"))
        .agg(countDistinct(col("user_id")).cast("bigint").as("n_users"))
        .select(col("cohort"),
          col("day_offset").cast("bigint").as("day_offset"),
          col("n_users"))
        .orderBy(col("cohort"), col("day_offset"))
    }),

    // Stream anomaly scan: per-user z-score outliers, top-50 by |z|.
    // The per-user stats frame is user-count-sized (broadcast); the fact
    // side is one scan + one TakeOrdered — no shuffle of events. z is
    // rounded to 6dp so both engines rank identical values (ties broken
    // by event_id).
    "events_anomalies" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val st = ev.groupBy(col("user_id")).agg(
        avg(col("value")).as("mu"),
        stddev_samp(col("value")).as("sd"))
      ev.join(broadcast(st), "user_id")
        .filter(col("sd") > 0)
        .withColumn("z", round((col("value") - col("mu")) / col("sd"), 6))
        .withColumn("z_abs", abs(col("z")))
        .orderBy(col("z_abs").desc, col("event_id")).limit(50)
        .select(col("event_id"), col("user_id"), col("value"), col("z"))
    }),

    // Windowed analytics on the stream table: per-user running totals —
    // the "metrics over time" family (A2) with event-time semantics.
    // Product path: EventsCdc.runningTotals (user_id window shuffle only);
    // the ORDER BY here is oracle-harness determinism.
    "events_sessionized_stats" -> ((s, dir) =>
      graft.operators.EventsCdc.runningTotals(load(s, dir, "events"))
        .orderBy(col("event_id"))),

    // Gap-based sessionization via Spark's session_window() — the
    // Structured-Streaming session primitive, batch form: a session ends
    // after 1 day of user inactivity. The oracle rebuilds the same
    // islands with LAG + running sum. Product path:
    // EventsCdc.sessionWindows, which the streaming twin also runs.
    "events_session_windows" -> ((s, dir) =>
      graft.operators.EventsCdc.sessionWindows(load(s, dir, "events"), "1 day")
        .orderBy(col("user_id"), col("session_start"))),

    // Event-time tumbling windows via Spark's window() — the idiomatic
    // Structured-Streaming aggregation shape, batch form. Window start
    // rendered as a string so both engines compare exactly.
    "events_hourly_window" -> ((s, dir) =>
      load(s, dir, "events")
        .groupBy(
          window(col("ts"), "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))),

    // Event-time bucketing (tumbling day windows, batch form): count+sum per
    // day per type. `ts` is the loader-normalized TIMESTAMP (micros, UTC)
    // — date truncation is exact, no float risk.
    "events_daily_rollup" -> ((s, dir) =>
      load(s, dir, "events")
        .groupBy(
          to_date(col("ts")).as("day"),
          col("event_type")).agg(
          count(lit(1)).as("n"),
          moneySum(col("value")).as("sum_value"))
        .orderBy(col("day"), col("event_type")))
  )

  val oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping_priority" ->
      """SELECT o_orderkey,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY o_orderkey
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_nation_volume" ->
      """SELECT r_name, n_name,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
                COUNT(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q12_priority_lines" ->
      """SELECT o_orderpriority,
                CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_lines,
                CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q14_promo_effect" ->
      """SELECT CAST(ROUND(SUM(CASE WHEN p_type LIKE 'SMALL%'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
                / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                  AS promo_ratio,
                COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-03-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'""",
    "q18_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey,
                  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) > 150)
         SELECT o_orderkey, o_custkey,
                CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS o_totalprice,
                total_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey
         ORDER BY total_qty DESC, o_orderkey LIMIT 20""",
    "q17_small_quantity" ->
      """WITH a AS (
           SELECT l_partkey AS p_key,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*) AS avg_qty
           FROM lineitem GROUP BY l_partkey)
         SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                  AS small_qty_revenue,
                COUNT(*) AS n_lines
         FROM lineitem JOIN a ON l_partkey = p_key
         WHERE l_quantity < avg_qty * 0.4""",
    "q_customers_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000)
         ORDER BY c_custkey""",
    "q6_forecast_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
                COUNT(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "events_cohort_retention" ->
      """WITH ev AS (SELECT user_id, ts AS t FROM events),
         f AS (SELECT user_id, MIN(t) AS t0 FROM ev GROUP BY user_id),
         a AS (SELECT DISTINCT ev.user_id,
                      strftime(t0, '%Y-%m-%d') AS cohort,
                      date_diff('day', CAST(t0 AS DATE), CAST(t AS DATE))
                        AS day_offset
               FROM ev JOIN f ON ev.user_id = f.user_id)
         SELECT cohort, CAST(day_offset AS BIGINT) AS day_offset,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM a GROUP BY cohort, day_offset
         ORDER BY cohort, day_offset""",
    "events_anomalies" ->
      """WITH st AS (
           SELECT user_id, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
           FROM events GROUP BY user_id)
         SELECT event_id, user_id, value,
                ROUND((value - mu) / sd, 6) AS z
         FROM events JOIN st USING (user_id)
         WHERE sd > 0
         ORDER BY ABS(ROUND((value - mu) / sd, 6)) DESC, event_id
         LIMIT 50""",
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                    AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON s_suppkey = l_suppkey
         WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         ORDER BY s_suppkey""",
    "q21_sole_returns" ->
      """SELECT s_name, COUNT(*) AS numwait
         FROM lineitem l1
         JOIN supplier ON s_suppkey = l1.l_suppkey
         WHERE l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM orders
                       WHERE o_orderkey = l1.l_orderkey
                         AND o_orderstatus = 'F')
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name LIMIT 10""",
    "q2_min_cost_supplier" ->
      """WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         j AS (
           SELECT p_partkey, p_name, s_suppkey, s_name, n_name, s_acctbal,
                  ROW_NUMBER() OVER (PARTITION BY p_partkey
                    ORDER BY s_acctbal, s_suppkey) AS rk
           FROM rel
           JOIN part ON p_partkey = l_partkey AND p_size >= 45
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON n_nationkey = s_nationkey)
         SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
                CAST(ROUND(CAST(s_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE)
                  AS s_acctbal
         FROM j WHERE rk = 1
         ORDER BY s_acctbal, p_partkey LIMIT 20""",
    "q16_supplier_counts" ->
      """WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         ok AS (SELECT * FROM rel
                WHERE l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
         SELECT p_brand, p_size // 10 AS size_band,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM ok JOIN part ON p_partkey = l_partkey
         GROUP BY p_brand, p_size // 10
         ORDER BY supplier_cnt DESC, p_brand, size_band""",
    "q11_important_parts" ->
      """WITH pp AS (
           SELECT l_partkey,
                  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                    AS value
           FROM lineitem GROUP BY l_partkey),
         t AS (
           SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                    AS total,
                  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
           FROM lineitem)
         SELECT p_partkey, p_name, value
         FROM pp CROSS JOIN t
         JOIN part ON p_partkey = l_partkey
         WHERE value > (total / n_parts) * 1.5
         ORDER BY value DESC, p_partkey""",
    "q20_volume_share" ->
      """WITH q AS (
           SELECT l_partkey, l_suppkey,
                  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
           FROM lineitem GROUP BY l_partkey, l_suppkey),
         t AS (
           SELECT l_partkey, SUM(qty) AS total_qty,
                  COUNT(*) AS n_supp
           FROM q GROUP BY l_partkey)
         SELECT l_partkey, l_suppkey,
                CAST(qty AS DOUBLE) AS qty,
                CAST(total_qty AS DOUBLE) AS total_qty,
                CAST(n_supp AS BIGINT) AS n_supp,
                FLOOR(CAST(qty AS DOUBLE) / CAST(total_qty AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0 AS share
         FROM q JOIN t USING (l_partkey)
         WHERE FLOOR(CAST(qty AS DOUBLE) / CAST(total_qty AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0 * n_supp > 2.0
         ORDER BY l_partkey, l_suppkey""",
    "q9_product_profit" ->
      """SELECT n_name,
                CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
                CAST(ROUND(SUM(
                  CAST(l_extendedprice AS DECIMAL(12,2)) *
                    (1 - CAST(l_discount AS DECIMAL(12,2))) -
                  CAST(p_retailprice AS DECIMAL(12,2)) *
                    CAST(l_quantity AS DECIMAL(12,2)) *
                    CAST(0.5 AS DECIMAL(2,1))), 2) AS DOUBLE) AS profit
         FROM lineitem
         JOIN part ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation ON n_nationkey = s_nationkey
         JOIN orders ON o_orderkey = l_orderkey
         WHERE p_name LIKE '%red%'
         GROUP BY n_name, YEAR(o_orderdate)
         ORDER BY n_name, o_year""",
    "topk_customers" ->
      """SELECT c_custkey, c_name,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS spend,
                COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY spend DESC, c_custkey LIMIT 20""",
    "q7_nation_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name IN ('NATION_1', 'NATION_2')
           AND n2.n_name IN ('NATION_1', 'NATION_2')
           AND n1.n_name <> n2.n_name
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""",
    "q8_market_share" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                CAST(ROUND(SUM(CASE WHEN n2.n_name = 'NATION_5'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
                / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                  AS mkt_share,
                COUNT(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY 1 ORDER BY o_year""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q13_order_distribution" ->
      """WITH c AS (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         SELECT c_count, COUNT(*) AS custdist
         FROM c GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "q19_disjunctive_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
                COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",
    "q22_missed_opportunity" ->
      """WITH a AS (
           SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*) AS avg_bal
           FROM customer WHERE c_acctbal > 0)
         SELECT c_mktsegment, COUNT(*) AS n_cust,
                CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
         FROM customer, a
         WHERE c_acctbal > a.avg_bal
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "events_sessionized_stats" ->
      """SELECT event_id, user_id,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                  PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
                CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS seq
         FROM events ORDER BY event_id""",
    "events_session_windows" ->
      """WITH m AS (
           SELECT user_id, ts, value,
                  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 1 DAY THEN 1 ELSE 0 END AS brk
           FROM events),
         g AS (
           SELECT user_id, ts, value,
                  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id,
                strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
         FROM g GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "events_hourly_window" ->
      """SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                event_type, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    "events_daily_rollup" ->
      """SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY day, event_type"""
  )
}
