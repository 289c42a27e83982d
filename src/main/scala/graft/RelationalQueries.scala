package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** TPC-H-style capability queries: joins, aggregations, windows, rollup/
  * cube, set ops, top-k — the batch-analytics surface (SURVEY §2.3).
  *
  * Scale discipline (100 TB): dimension tables (region/nation/supplier)
  * are explicitly `broadcast()`; fact-fact joins shuffle on their keys and
  * AQE handles skew; aggregates are all partial-aggregatable built-ins
  * (map-side combine for free); filters sit directly on scans so Catalyst
  * pushes them into parquet.
  *
  * Oracle parity: double sums are wrapped in round(…,2) / avg in
  * round(…,4..6) on BOTH sides (SURVEY §7 watch list 5); every ORDER BY
  * carries a unique tiebreaker; rollup/cube subtotal NULLs are ordered
  * NULLS FIRST explicitly (DuckDB defaults to NULLS LAST).
  */
object RelationalQueries {

  /** Benford first-digit shares, round(1e6·log10(1+1/d)) — ONE literal
    * table threaded into both the Spark entry and the DuckDB mirror
    * (the shared-constant discipline; computing log10 at runtime would
    * ride engine transcendentals for no reason). */
  private val benfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** The bucketed TPC-H epoch: lineitem and orders written
    * `bucketBy(16, orderkey)` once per (session, dir) — the warehouse
    * side of the co-location discipline the index families practice.
    * Two fact tables bucketed identically on their join key then join
    * with ZERO exchange on either side (BucketedJoinSpec pins it): at
    * 100 TB the orderkey shuffle of every lineitem⋈orders query is THE
    * dominant cost, and bucketing pays it once at write time instead of
    * per query. Same acquire/reclaim contract as every epoch index. */
  private[graft] def bucketedTpchFor(s: SparkSession, dir: String)
      : (String, String) = {
    val v = EpochRegistry.acquire(s, "bucketed_tpch", dir) { () =>
      val li = "graft_li_bucketed_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val ord = "graft_ord_bucketed_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val paths = (1 to 2).map(_ => java.nio.file.Files
        .createTempDirectory("graft_bucketed_tpch_").toString)
      Tables.lineitem(s, dir).write.format("parquet")
        .bucketBy(16, "l_orderkey")
        .option("path", paths(0)).saveAsTable(li)
      Tables.orders(s, dir).write.format("parquet")
        .bucketBy(16, "o_orderkey")
        .option("path", paths(1)).saveAsTable(ord)
      EpochRegistry.Resource(s"$li;$ord",
        dropTables = Seq(li, ord), deleteDirs = paths)
    }
    val Array(li, ord) = v.split(';')
    (li, ord)
  }

  /** Register the given frames as uniquely-named temp views, build and
    * analyze the SQL against them, then drop the views — the analyzed
    * plan holds its resolved relations, so the views are parse-time
    * scaffolding only (unique names keep concurrent sessions/dirs from
    * racing on a shared view name). */
  private def viaSql(s: SparkSession, frames: Map[String, DataFrame])(
      build: Map[String, String] => String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val names = frames.map { case (k, _) => k -> s"${k}_$tag" }
    frames.foreach { case (k, df) => df.createOrReplaceTempView(names(k)) }
    try s.sql(build(names))
    finally names.values.foreach(s.catalog.dropTempView(_))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1: wide partial-aggregatable scan agg (pricing summary)
    "q1_pricing_summary" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // TPC-H Q6: tight filter + single agg — predicate-pushdown showcase
    "q6_revenue_filter" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q3: 3-way join + agg + deterministic top-10
    "q3_top_orders" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5: 6-table join with broadcast dims, grouped by nation
    "q5_region_volume" -> ((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val sup = Tables.supplier(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // TPC-H Q14: conditional aggregation as a ratio — two SUM(CASE)
    // folds in ONE pass over the joined scan (no self-join, no second
    // scan); part is dimension-sized → broadcast, so the only shuffle
    // is the single-row final agg
    "q14_promo_share" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
      val p = Tables.part(s, dir)
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
            sum(rev), 4).as("promo_share"),
          round(sum(rev), 2).as("total_revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q18: group-HAVING as a join input — the basket aggregate
    // feeds a fact-fact join (agg BEFORE the join, so only qualifying
    // orderkeys shuffle into it; at 100 TB the HAVING cut makes the
    // probe side orders of magnitude smaller than lineitem)
    "q18_big_baskets" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("o_price"),
          col("total_qty"))
        .orderBy(col("o_price").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q13: histogram-of-histogram — customers LEFT-joined to a
    // filtered orders side (outer join must preserve zero-order
    // customers), per-customer counts re-grouped into a distribution.
    // Two shuffles by construction (custkey, then count value); the
    // second input is already customer-sized, not fact-sized
    "q13_order_histogram" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") =!= "P")
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q22 shape: scalar-subquery threshold + anti join — idle
    // high-balance customers (above the positive-balance mean, no
    // orders since mid-2000). The 1-row global mean broadcasts as a
    // cross join (no driver round-trip); the anti side is an orders
    // scan filtered BEFORE the join so the anti probe is recent-orders
    // sized
    "q22_idle_balances" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("c_nationkey"))
    }),

    // TPC-H Q4 shape: EXISTS → LEFT SEMI join with a cross-side
    // predicate (lineitem shipped >60 days after its order date stands
    // in for the commit/receipt lateness test — the fixture carries no
    // l_commitdate/l_receiptdate). The semi probe carries only
    // (l_orderkey, l_shipdate); at 100 TB the date filter on orders
    // cuts the build side before the shuffle
    "q4_order_priority" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(li,
          col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q7: bidirectional two-nation trade volume — the fact joins
    // shuffle on their keys; BOTH nation copies broadcast (the name
    // filter is a residual the optimizer pushes into the 25-row dims)
    "q7_nation_volume" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val ns = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val nc = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
        .join(broadcast(nc), col("c_nationkey") === col("c_nk"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8: national market share inside a region — two SUM folds
    // (conditional numerator over total) in one pass, the q14 ratio
    // technique over a 6-table join
    "q8_market_share" -> ((s, dir) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val c = Tables.customer(s, dir)
      val asiaNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val ns = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      li.join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"), "left_semi")
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0.0))) /
            sum(rev), 6).as("mkt_share"),
          round(sum(rev), 2).as("total_rev"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9 shape: profit by supplier nation and year. The fixture
    // has no partsupp, so cost is proxied as 0.6·p_retailprice·qty —
    // the plan shape (LIKE-filtered part dim broadcast into the fact
    // join, two-level group) is the coverage point, not the cost model
    "q9_profit_proxy" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val ns = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
      li.join(broadcast(Tables.part(s, dir).filter(col("p_name").contains("red"))),
          col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(
          col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity")), 2).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q10: returned-item revenue ranking — top-20 customers by
    // lost revenue in a quarter; the returnflag filter rides the scan,
    // the customer/nation sides broadcast or shuffle by key
    "q10_returned_items" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, dir).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        // exact integer cents (the EventQueries technique): per-row
        // cents round identically in both engines (same IEEE product),
        // and integer sums are order-independent — no round(sum(double))
        // boundary flake on any group
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"))
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("acctbal"), col("n_name"),
          col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q15: top supplier — the revenue "view" aggregated once,
    // its global max broadcast back as a 1-row cross join (the q22
    // scalar-subquery technique; no driver round-trip, no second scan
    // of lineitem)
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir).filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev") === col("max_rev"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_rev"), 2).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q16 shape: distinct-supplier counts per part attribute
    // with an excluded-supplier anti join (negative-balance suppliers
    // stand in for the comment-matched complaints list the fixture
    // lacks). countDistinct shuffles once on the group keys
    "q16_supplier_parts" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(
        col("p_brand") =!= "Brand#4" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // TPC-H Q17: small-quantity revenue loss — the correlated AVG
    // subquery decorrelated by hand: per-part averages computed ONCE
    // over the brand-restricted fact slice (semi-reduced by the
    // broadcast part dim BEFORE the agg, so the avg side is
    // brand-sized, not corpus-sized), then joined back on partkey
    "q17_small_quantity" -> ((s, dir) => {
      val brandParts = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
      val liBrand = Tables.lineitem(s, dir)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
      val avgQty = liBrand.groupBy(col("l_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      liBrand.join(broadcast(avgQty), Seq("l_partkey"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q19: disjunctive join predicates — three (brand, size,
    // quantity) bands OR-ed inside the join condition; Catalyst
    // extracts the common p_partkey equi-key so the join stays
    // hash-based with the disjunction as a residual filter
    "q19_disjunctive" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p),
          col("l_partkey") === col("p_partkey") && (
            (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(16, 30) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#19" && col("p_size").between(31, 50) &&
              col("l_quantity").between(20, 40))))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q20 shape: nested semi-joins — suppliers in one nation
    // whose 1996 shipped quantity of PROMO parts clears a volume
    // threshold (the partsupp availability test the fixture can't
    // express). The qualifying set reduces BEFORE touching supplier:
    // fact → semi(part) → agg → HAVING, then supplier semi-joins it
    "q20_volume_suppliers" -> ((s, dir) => {
      val promo = Tables.part(s, dir)
        .filter(col("p_type") === "PROMO").select(col("p_partkey"))
      val qualified = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 100)
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q21 shape: EXISTS + NOT EXISTS over the same fact — the
    // sole-late-supplier census. "Late" = shipped >90 days after the
    // order date (no commit/receipt dates in the fixture). Both
    // correlated quantifiers decorrelate to per-order AGGREGATES
    // (EXISTS another supplier ⇔ distinct-supplier count ≥ 2;
    // NOT EXISTS another LATE supplier ⇔ late-supplier count = 1,
    // whose min() IS the sole supplier) — two shuffles on l_orderkey
    // instead of distinct + semi + anti re-probes of the fact; the
    // DuckDB oracle keeps the EXISTS/NOT-EXISTS formulation, so the
    // rewrite is validated, not assumed. A first draft did run the
    // literal semi/anti plan: 2.2 s vs 1.4 s here at sf0.1, and the
    // gap is the re-probed fact, which only widens at 100 TB
    "q21_waiting_supplier" -> ((s, dir) => {
      val soleLate = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("late_cnt"),
          min(col("l_suppkey")).as("late_supp"))
        .filter(col("late_cnt") === 1)
      val multiSupp = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("a_key"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"))
        .filter(col("n_supp") >= 2)
      soleLate
        .join(multiSupp, col("l_orderkey") === col("a_key"), "left_semi")
        .join(broadcast(Tables.supplier(s, dir)),
          col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // co-located fact-fact join over the bucketed epoch tables: both
    // sides bucketBy(16, orderkey), so the merge join consumes bucket
    // layout directly — ZERO exchange on either fact (the one-time
    // bucketed write paid the orderkey shuffle for every future join;
    // BucketedJoinSpec pins the exchange-free plan). The merge hint
    // keeps toy-scale orders from broadcasting, which would hide the
    // co-location being demonstrated; revenue in exact integer cents
    "join_bucketed_colocated" -> ((s, dir) => {
      val (liT, ordT) = bucketedTpchFor(s, dir)
      s.table(liT).hint("merge")
        .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),

    // rollup with grouping() — hierarchical subtotals
    "agg_rollup" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"),
          grouping(col("r_name")).cast("int").as("gr_r"),
          grouping(col("n_name")).cast("int").as("gr_n"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    // explicit GROUPING SETS — the non-hierarchical subtotal shape
    // rollup/cube can't express (per-region, per-nation, grand total,
    // but NOT per (region, nation))
    "agg_grouping_sets" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupingSets(Seq(Seq(col("r_name")), Seq(col("n_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"),
          grouping(col("r_name")).cast("int").as("gr_r"),
          grouping(col("n_name")).cast("int").as("gr_n"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    // cube over two low-cardinality dims
    "agg_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    // window functions: row_number / running sum / lag per customer
    "window_running" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rn"),
        round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_total"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // the rank-family windows not exercised elsewhere: percent_rank,
    // ntile, cume_dist (ratios of ints — deterministic doubles; rounded
    // 6dp on both sides as belt-and-braces)
    "window_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice"), col("p_partkey"))
      Tables.part(s, dir).select(
          col("p_brand"), col("p_partkey"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          ntile(4).over(w).as("quartile"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("p_brand"), col("p_partkey"))
    }),

    // top-k per group via row_number window
    "topk_per_group" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      p.select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          row_number().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 3)
        .orderBy(col("p_brand"), col("rk"))
    }),

    // basket-pair mining (the market-basket/recsys primitive): parts
    // co-purchased in one order, counted across orders, top-20 by
    // support. The self-join keys on the order — pair explosion is
    // bounded by basket size² (~7² here, bounded in any retail schema),
    // the shuffle is the orderkey partitioning the fact already has,
    // the agg combines map-side, and top-k is TakeOrderedAndProject
    "join_copurchase_pairs" -> ((s, dir) => {
      // materialize the distinct basket once (ivfTopK RDD-persist leaf
      // pattern): both self-join sides otherwise re-run the scan +
      // partial-distinct lineage (r20)
      val li0 = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val liRdd = li0.rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val li = s.createDataFrame(liRdd, li0.schema)
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("part_a"),
          col("b.l_partkey").as("part_b"))
      val out = pairs.groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
      // force the k-bounded result and RELEASE the leaf (VERDICT r20
      // #6): the persisted basket no longer waits for ContextCleaner
      // GC — no persisted RDD outlives the query invocation
      try s.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
      finally { liRdd.unpersist(); () }
    }),

    // entity resolution: dirty part names (3rd char deleted for every
    // %10 part) re-linked to the catalog by last-token blocking +
    // length-band prune + levenshtein verify, best match per dirty
    // record — record linkage without all-pairs
    "join_entity_blocking" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val clean = p.select(col("p_partkey").as("clean_id"),
        col("p_name").as("name"))
      val dirty = p.filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey").as("dirty_id"),
          concat(substring(col("p_name"), 1, 2),
            expr("substring(p_name, 4)")).as("name"))
      graft.operators.ScaleOps.blockingResolve(dirty, clean, maxEdit = 2)
        .orderBy(col("dirty_id"))
    }),

    // the same ER blocking with the Jaro-Winkler scorer — the native
    // codegen'd graft_jaro_winkler expression (semantics pinned to the
    // oracle's boost-threshold variant), best match by round(jw,6)
    "join_entity_blocking_jw" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val clean = p.select(col("p_partkey").as("clean_id"),
        col("p_name").as("name"))
      val dirty = p.filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey").as("dirty_id"),
          concat(substring(col("p_name"), 1, 2),
            expr("substring(p_name, 4)")).as("name"))
      graft.operators.ScaleOps.blockingResolveJw(dirty, clean, minSim = 0.9)
        .orderBy(col("dirty_id"))
    }),

    // semi + anti join (EXISTS / NOT EXISTS)
    "join_semi_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).select(col("o_custkey"))
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("status"))
      val without = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      withOrders.unionAll(without).orderBy(col("c_custkey"))
    }),

    // correlated LATERAL subquery — top-k-per-group WITHOUT a window:
    // each nation drives its own ordered-limit scan of customers. At
    // scale Catalyst rewrites the lateral to the same shuffled
    // rank-filter a window would plan, so this is a surface feature
    // (the SQL shape analysts reach for), not a new execution cost
    "join_lateral_topk" -> ((s, dir) => {
      viaSql(s, Map("nation" -> Tables.nation(s, dir),
          "customer" -> Tables.customer(s, dir))) { v =>
        s"""SELECT n.n_name, t.c_name, t.c_acctbal
           |FROM ${v("nation")} n JOIN LATERAL (
           |  SELECT c_name, c_acctbal FROM ${v("customer")} c
           |  WHERE c.c_nationkey = n.n_nationkey
           |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
           |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin
      }
    }),

    // RECURSIVE CTE (Spark 4) — the calendar-spine warehouse pattern:
    // a YEAR series generated by recursion, left-joined to per-year
    // order rollups. Each recursion step is one scheduled iteration of
    // the loop executor, so the spine recurses at the COARSE grain
    // (~7 years) and the bound is derived once at plan time (a two-value
    // aggregate read driver-side — the same plan-time-scalar class as
    // pointer dereferencing); recursing per-month with the bound as a
    // scalar subquery re-ran an orders aggregate EVERY iteration
    // (80 scans, 11.6 s — the anti-pattern this shape documents against;
    // a fine-grained spine belongs to sequence()/explode, see
    // events_resample)
    "orders_recursive_spine" -> ((s, dir) => {
      val b = Tables.orders(s, dir)
        .agg(min(year(col("o_orderdate"))).as("y0"),
          max(year(col("o_orderdate"))).as("y1")).head()
      val (y0, y1) = (b.getInt(0), b.getInt(1))
      viaSql(s, Map("orders" -> Tables.orders(s, dir))) { v =>
        s"""WITH RECURSIVE years AS (
           |  SELECT $y0 AS y
           |  UNION ALL
           |  SELECT y + 1 FROM years WHERE y < $y1),
           |oc AS (SELECT year(o_orderdate) AS y, count(*) AS n_orders,
           |    round(sum(o_totalprice), 2) AS total_price
           |  FROM ${v("orders")} GROUP BY 1)
           |SELECT years.y AS year, coalesce(oc.n_orders, 0) AS n_orders,
           |  coalesce(oc.total_price, 0.0) AS total_price
           |FROM years LEFT JOIN oc ON oc.y = years.y
           |ORDER BY year""".stripMargin
      }
    }),

    // set operators: union / intersect / except
    "set_ops" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
      val bldg = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")).distinct()
      val negative = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
      auto.union(bldg).intersect(withOrders).except(negative)
        .orderBy(col("c_custkey"))
    }),

    // correlated-scalar-subquery semantics via a window (cheapest parts
    // per brand) — one shuffle instead of a re-scan per row
    "corr_subquery_min" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val w = Window.partitionBy(col("p_brand"))
      p.withColumn("brand_min", min(col("p_retailprice")).over(w))
        .filter(col("p_retailprice") === col("brand_min"))
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("p_partkey"))
    }),

    // bag-semantics set operators
    "set_ops_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val loPrio = o.filter(col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW"))
        .select(col("o_custkey"))
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      loPrio.intersectAll(open).exceptAll(
          o.filter(col("o_totalprice") > 400000).select(col("o_custkey")))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("o_custkey"))
    }),

    // ordered string aggregation (deterministic listagg)
    "agg_stringagg" -> ((s, dir) => {
      Tables.nation(s, dir)
        .groupBy(col("n_regionkey"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))
    }),

    // distinct aggregation
    "distinct_agg" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderstatus")).as("n_status"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // scalar string/math functions
    "scalar_funcs" -> ((s, dir) => {
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 10)).as("name10"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).as("brand_num"),
        (col("p_size") % 7).as("size_mod"),
        round(col("p_retailprice") * 0.1, 2).as("price_tenth"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey"))
    }),

    // pivot: status columns per priority (explicit value list keeps the
    // output schema static — required at scale and for the oracle)
    "agg_pivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))
    }),

    // unpivot (melt): wide part metrics to long (metric, value) rows
    "unpivot_metrics" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "metric", "value")
        .orderBy(col("p_partkey"), col("metric"))
    }),

    // typed Dataset path: groupByKey + custom Aggregator[IN,BUF,OUT]
    "typed_stats_agg" -> ((s, dir) => {
      import s.implicits._
      val ds = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
      val stats = new graft.functions.StatsAggregator().toColumn
      ds.groupByKey(_._1).mapValues(_._2).agg(stats.name("stats"))
        .toDF("l_returnflag", "stats")
        .select(col("l_returnflag"),
          round(col("stats.sum"), 2).as("sum_qty"),
          col("stats.count").as("n"),
          col("stats.min").as("min_qty"),
          col("stats.max").as("max_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // salted two-phase aggregation: skew pattern, result ≡ direct groupBy
    "agg_salted_skew" -> ((s, dir) => {
      graft.operators.ScaleOps.saltedSumCount(
          Tables.lineitem(s, dir),
          Seq("l_returnflag"), "l_quantity",
          saltExpr = col("l_orderkey"), saltBuckets = 16)
        .withColumn("sum_l_quantity", round(col("sum_l_quantity"), 2))
        .orderBy(col("l_returnflag"))
    }),

    // salted equi-join: skew pattern for hot join keys, result ≡ plain
    // join (the salt only changes the partitioning)
    "join_salted_skew" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.operators.ScaleOps.saltedJoin(li, Tables.orders(s, dir),
          bigKey = "l_orderkey", smallKey = "o_orderkey",
          saltBuckets = 8, bigSaltSrc = col("l_linenumber"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // ordered-set aggregates: exact median / quartiles per group
    "agg_percentiles" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // HLL cardinality telemetry (SURVEY §2.3 scale rules): the sketch
    // value itself is engine-specific, so the oracle pins the CONTRACT —
    // the approximation must land within 3·rsd (= 15% at Spark's default
    // rsd 0.05) of the exact distinct count. rsd is one standard
    // deviation, not a bound, so the gate asserts the 3σ envelope — tight
    // enough to catch a broken sketch, loose enough to hold on any data.
    // The exact count rides along as the hash-matched ground truth.
    "agg_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey")).as("n_approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.15)
            .as("within_tol"))
        .orderBy(col("l_returnflag"))
    }),

    // count-min sketch — the THIRD re-aggregatable sketch family
    // (frequency, next to HLL's cardinality and GK's quantiles): one
    // global CMS over l_suppkey (the agg merges per-partition sketches
    // — the distributed property), probed for 5 keys on the driver
    // (KB-sized sketch, a plan-time scalar like the recursive-CTE
    // bounds). CMS only ever OVER-estimates, and by at most eps·N with
    // the configured confidence — both halves of that contract are
    // asserted; exact counts ride along hash-matched.
    "agg_count_min" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val eps = 0.001
      val skBytes = li.agg(
          expr(s"count_min_sketch(l_suppkey, ${eps}d, 0.99d, 42)").as("sk"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skBytes))
      val total = cms.totalCount()
      val ests = (1L to 5L).map(k => (k, cms.estimateCount(k.asInstanceOf[AnyRef])))
        .toDF("l_suppkey", "est")
      li.filter(col("l_suppkey").between(1L, 5L))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_exact"))
        .join(broadcast(ests), Seq("l_suppkey"))
        .select(col("l_suppkey"), col("n_exact"),
          // the HARD half of the CMS contract: it can never undercount
          (col("est") >= col("n_exact")).as("no_undercount"),
          // the PROBABILISTIC half: est ≤ exact + eps·N holds with 0.99
          // confidence PER KEY — deterministic under the pinned seed 42
          // and this fixture, but a testdata/SF change could flip it
          // legitimately (ADVICE r14). Split from no_undercount so a
          // gate break diagnoses as "fixture drift", not "sketch bug".
          (col("est") <= col("n_exact") + lit(math.ceil(eps * total).toLong))
            .as("within_eps_bound"))
        .orderBy(col("l_suppkey"))
    }),

    // revenue concentration — the "what share do the top N hold" OLAP
    // report: per-supplier revenue in exact integer cents, top-10 by
    // (revenue desc, key) over the supplier-sized aggregate (the window
    // sorts thousands of rows, never line items), share in floored ppm
    "agg_topn_share" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val w = Window.orderBy(col("cents").desc, col("l_suppkey"))
      rev.withColumn("rk", row_number().over(w))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("cents")).as("total_cents"),
          sum(when(col("rk") <= 10, col("cents")).otherwise(0L)).as("top10_cents"))
        .withColumn("top10_share_ppm",
          expr("top10_cents * 1000000 div total_cents"))
    }),

    // fixed-width numeric histogram — the OLAP profiling primitive
    // (DuckDB width_bucket / ClickHouse histogram): 10 equal bins over
    // the observed [min, max], bin edges from one broadcast min/max
    // fold, bin ids by integer floor math (cents avoid double-edge
    // ambiguity), empty bins included via a generated spine
    "agg_histogram" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val bounds = li.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val binned = li.crossJoin(broadcast(bounds))
        .select(expr("(cents - lo) * 10 div (hi - lo + 1)").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      bounds.select(explode(sequence(lit(0L), lit(9L))).as("bin"),
          col("lo"), col("hi"))
        .join(binned, Seq("bin"), "left")
        .select(col("bin"),
          expr("lo + bin * (hi - lo + 1) div 10").as("bin_lo_cents"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("bin"))
    }),

    // ANALYZE-style table profile: count, nulls, exact NDV, min/max for
    // five lineitem columns. One column-pruned pass PER column (a
    // 1-column parquet scan each) with a value-grouped pre-aggregate —
    // far cheaper than the multi-distinct Expand, which quintuples the
    // row stream through one wide hash agg (7.3 s → 0.6 s at sf0.1);
    // at 100 TB the per-column scans read the same total bytes the
    // one-pass form would, columnar I/O being per-column anyway, and
    // each profiles independently in parallel. All stats land as
    // BIGINT: prices as cents, the ship timestamp as epoch seconds,
    // flags via ascii codes — so the cross-engine hash compare is exact.
    "stats_table_profile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      def prof(name: String, v: org.apache.spark.sql.Column) =
        li.select(v.as("v")).groupBy(col("v")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_rows"),
            coalesce(sum(when(col("v").isNull, col("c"))), lit(0L)).as("n_nulls"),
            count(col("v")).as("ndv"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .select(lit(name).as("column_name"), col("n_rows"), col("n_nulls"),
            col("ndv"), col("min_v"), col("max_v"))
      // double cast: l_shipdate may arrive as TIMESTAMP_NTZ (default
      // parquet inference) or LTZ (after Tables.events flips
      // inferTimestampNTZ); NTZ→long is rejected, but NTZ→LTZ→long is
      // fine and identical under the UTC session tz
      prof("l_suppkey", col("l_suppkey"))
        .unionAll(prof("l_quantity", col("l_quantity").cast("long")))
        .unionAll(prof("l_extendedprice_cents",
          round(col("l_extendedprice") * 100).cast("long")))
        .unionAll(prof("l_shipdate_s",
          col("l_shipdate").cast("timestamp").cast("long")))
        .unionAll(prof("l_returnflag_ascii",
          ascii(col("l_returnflag")).cast("long")))
        .orderBy(col("column_name"))
    }),

    // weighted median (quantity-weighted price per return flag): the
    // lower weighted median — smallest value whose cumulative weight
    // reaches half the total — via the TWO-LEVEL exact algorithm: a
    // coarse 4096-cent bucket histogram locates the median's bucket
    // (cumulative window over ~2.5k bucket rows per flag), then only
    // THAT bucket's distinct values are sorted with the carried
    // offset. A single cumulative window over all distinct prices
    // measured 1.5 s at sf0.1 (one reducer sorts the flag's whole
    // value domain); this form sorts ~100 rows per flag and is the
    // shape that survives 100 TB
    // GEOMETRIC + HARMONIC means per return flag (r20) — the two
    // Pythagorean means the arithmetic family can't substitute for
    // (geo for multiplicative quantities/ratios, harmonic for rates).
    // Float-sum order dependence is DESIGNED OUT: each row contributes
    // an INTEGER — floor(1e6·ln(cents)) for the log sum (the
    // *_logprob quantization discipline) and 1e12 div cents for the
    // reciprocal sum — so the aggregates are exact BIGINTs on both
    // engines and only the per-group finisher (exp / one division)
    // runs in doubles, rounded once.
    "agg_geo_harmonic_means" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long").as("cents"))
        .select(col("l_returnflag"),
          floor(lit(1000000.0) * log(col("cents").cast("double")))
            .cast("long").as("li"),
          expr("1000000000000 div cents").as("ri"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("li")).as("sl"),
          sum(col("ri")).as("sr"))
        .select(col("l_returnflag"), col("n"),
          expr("""round(exp(CAST(sl AS DOUBLE)
            / (CAST(n AS DOUBLE) * 1000000.0)) / 100.0, 4)""")
            .as("geo_mean_qty"),
          expr("""round(CAST(n AS DOUBLE) * 10000000000.0
            / CAST(sr AS DOUBLE), 4)""").as("harmonic_mean_qty"))
        .orderBy(col("l_returnflag"))
    }),

    "agg_weighted_median" -> ((s, dir) => {
      // raw rows, NOT a distinct-value aggregation: the coarse groupBy
      // collapses 600k rows to ~2.5k buckets entirely in the map-side
      // combine (a groupBy(flag, cents) first would shuffle ~500k
      // near-distinct keys for nothing — measured 1.5 s either way it
      // is the dominant cost)
      val v = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("cw"))
        .withColumn("bucket", expr("cents div 4096"))
      val coarse = v.groupBy(col("l_returnflag"), col("bucket"))
        .agg(sum(col("cw")).as("bw"))
      val wOrdB = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAllB = Window.partitionBy(col("l_returnflag"))
      val cb = coarse
        .withColumn("cumb", sum(col("bw")).over(wOrdB))
        .withColumn("tot", sum(col("bw")).over(wAllB))
      // the bucket holding the weighted median, with the cumulative
      // weight of everything BEFORE it carried as the offset
      val target = cb.filter(col("cumb") * 2 >= col("tot"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("bucket"),
          (col("cumb") - col("bw")).as("offset"), col("tot"))
      val wIn = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      v.join(broadcast(target), Seq("l_returnflag", "bucket"))
        .withColumn("cum", col("offset") + sum(col("cw")).over(wIn))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("cents")).as("wmedian_cents"),
          max(col("tot")).as("total_weight"))
        .orderBy(col("l_returnflag"))
    }),

    // RFM segmentation: quintile recency/frequency/monetary per
    // customer → 3-digit segment code, the classic marketing
    // micro-segmentation. All integers (days, counts, cents); ntile
    // over deterministic (metric, custkey) orders; output is the
    // segment-level census (125 possible codes), never per-customer
    "stats_rfm_segments" -> ((s, dir) => {
      val maxTs = Tables.orders(s, dir)
        .agg(max(col("o_orderdate").cast("timestamp").cast("long")).as("max_s"))
      val rfm = Tables.orders(s, dir)
        .select(col("o_custkey"),
          col("o_orderdate").cast("timestamp").cast("long").as("os"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("o_custkey"))
        .agg(max(col("os")).as("last_s"), count(lit(1)).as("f"),
          sum(col("cents")).as("m"))
        .crossJoin(broadcast(maxTs))
        .select(col("o_custkey"),
          expr("(max_s - last_s) div 86400").as("r_days"),
          col("f"), col("m"))
      def quint(c: org.apache.spark.sql.Column) = ntile(5).over(
        Window.orderBy(c, col("o_custkey"))).cast("long")
      rfm
        .withColumn("rq", quint(col("r_days")))
        .withColumn("fq", quint(col("f").desc))
        .withColumn("mq", quint(col("m").desc))
        .select(col("o_custkey"),
          (col("rq") * 100 + col("fq") * 10 + col("mq")).as("segment"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("segment"))
    }),

    // ABC (Pareto) classification of parts by revenue: rank parts by
    // revenue desc, class A = the head covering ≤ 70% of cumulative
    // revenue, B to 90%, C the tail — the inventory-policy cut. The
    // cumulative window runs over the aggregated PART dimension (NDV
    // rows, not lineitem), the dimension-sized global sort an ABC
    // report fundamentally is
    "stats_abc_parts" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
      val wOrd = Window.orderBy(col("rev").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = rev.agg(sum(col("rev")).as("tot"))
      rev.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("rev")).over(wOrd))
        .select(col("l_partkey"), col("rev"),
          when(col("cum") * 100 <= col("tot") * 70, "A")
            .when(col("cum") * 100 <= col("tot") * 90, "B")
            .otherwise("C").as("abc_class"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("class_rev"))
        .orderBy(col("abc_class"))
    }),

    // join-key skew audit: the planning telemetry behind the salting /
    // AQE-skew decisions — per candidate shuffle key: rows, NDV, the
    // top-1 and top-10 key shares (ppm) and max/avg ratio. One grouped
    // count per key plus a distributed top-10 (TakeOrderedAndProject);
    // nothing driver-side beyond the two singleton aggregates
    "stats_skew_audit" -> ((s, dir) => {
      def audit(name: String, df: DataFrame, key: String) = {
        val c = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        val tot = c.agg(sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("ndv"), max(col("cnt")).as("top1_n"))
        val top10 = c.orderBy(col("cnt").desc, col(key))
          .limit(10).agg(sum(col("cnt")).as("top10_n"))
        tot.crossJoin(top10)
          .select(lit(name).as("key_name"), col("n_rows"), col("ndv"),
            col("top1_n"), col("top10_n"),
            expr("top1_n * 1000000 div n_rows").as("top1_ppm"),
            expr("top10_n * 1000000 div n_rows").as("top10_ppm"),
            expr("top1_n * ndv * 1000000 div n_rows").as("max_avg_ppm"))
      }
      audit("lineitem.l_suppkey", Tables.lineitem(s, dir), "l_suppkey")
        .unionAll(audit("orders.o_custkey", Tables.orders(s, dir), "o_custkey"))
        .unionAll(audit("events.user_id", Tables.events(s, dir), "user_id"))
        .orderBy(col("key_name"))
    }),

    // smoothed target (mean) encoding: per market segment, the
    // Laplace-smoothed mean order value enc = (seg_sum + m·global_mean)
    // / (seg_n + m) with m = 100 — the leakage-resistant categorical
    // feature a training pipeline derives from a label column. All
    // integer cents with truncating div (values non-negative); the
    // global mean is one broadcast singleton
    "stats_target_encoding" -> ((s, dir) => {
      val oc = Tables.orders(s, dir).select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val seg = oc.join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("seg_n"), sum(col("cents")).as("seg_sum"))
      val global = oc.agg(
        expr("sum(cents) div count(1)").as("gm_cents"))
      seg.crossJoin(broadcast(global))
        .select(col("c_mktsegment"), col("seg_n"), col("seg_sum"),
          col("gm_cents"),
          expr("(seg_sum + 100 * gm_cents) div (seg_n + 100)")
            .as("enc_cents"))
        .orderBy(col("c_mktsegment"))
    }),

    // Referential-integrity audit: per FK relationship, total child
    // rows, orphan rows/keys (child keys with no parent), and the
    // orphan rate in ppm — the constraint check a warehouse runs after
    // every load. One left join per relationship (parent side is the
    // distinct-key projection, auto-broadcast when small); the fourth
    // row audits a simulated partial purge (every 10th customer gone)
    // so the non-zero path is exercised too
    "dq_referential_audit" -> ((s, dir) => {
      def audit(name: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String) =
        child.select(col(fk))
          .join(parent.select(col(pk)).distinct()
              .withColumn("hit", lit(1)),
            col(fk) === col(pk), "left")
          .agg(count(lit(1)).as("fk_rows"),
            coalesce(sum(when(col("hit").isNull, 1L)), lit(0L))
              .as("orphan_rows"),
            countDistinct(when(col("hit").isNull, col(fk)))
              .as("orphan_keys"))
          .select(lit(name).as("relationship"), col("fk_rows"),
            col("orphan_rows"), col("orphan_keys"),
            expr("orphan_rows * 1000000 div fk_rows").as("orphan_ppm"))
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      audit("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey")
        .unionAll(audit("lineitem.l_orderkey->orders", li, "l_orderkey",
          o, "o_orderkey"))
        .unionAll(audit("orders.o_custkey->customer", o, "o_custkey",
          c, "c_custkey"))
        .unionAll(audit("orders.o_custkey->customer_purged", o, "o_custkey",
          c.filter(col("c_custkey") % 10 =!= 0), "c_custkey"))
        .orderBy(col("relationship"))
    }),

    // Uniqueness audit (r19) — the key-constraint complement of the
    // referential audit: per declared key, total rows, distinct keys,
    // duplicated rows/keys, and the duplication rate in ppm. The
    // fourth row audits a SIMULATED double-load (orders ∪ every 10th
    // order re-ingested) so the non-zero path is exercised. One
    // grouped count per key — the warehouse post-load constraint
    // check, map-side combined, near-metadata output.
    // BACKLOG CURVE (event-sourced inventory math): cumulative orders
    // placed vs orders fully shipped per day — backlog(d) = open
    // orders at end of day d, the warehouse-ops headline series. An
    // order ships on its LAST line's ship date (one order-keyed max);
    // the day grid is calendar-bounded, so the cumulative window is
    // metadata-sized no matter the fact volume.
    "orders_backlog_curve" -> ((s, dir) => {
      val placed = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("day"))
        .agg(count(lit(1)).as("placed"))
      val shipped = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("shipped"))
      val grid = placed.select(col("day"))
        .unionAll(shipped.select(col("day"))).distinct()
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(placed, Seq("day"), "left")
        .join(shipped, Seq("day"), "left")
        .select(col("day"), coalesce(col("placed"), lit(0L)).as("placed"),
          coalesce(col("shipped"), lit(0L)).as("shipped"))
        .withColumn("cum_placed", sum(col("placed")).over(w))
        .withColumn("cum_shipped", sum(col("shipped")).over(w))
        .withColumn("backlog", col("cum_placed") - col("cum_shipped"))
        .orderBy(col("day"))
    }),

    // FRESHNESS audit — the fourth DQ leg (referential, uniqueness,
    // completeness, freshness): per ingested series, the lag between
    // its newest record and the lake's watermark — the "is this feed
    // stuck?" pager signal. Reference point is the global max event
    // time (a deterministic, mirrorable stand-in for wall-clock now,
    // which would un-gate the entry); one grouped max + a broadcast
    // 1-row watermark.
    "dq_freshness_audit" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"), col("ts_us"))
      val mx = e.agg(max(col("ts_us")).as("wm_us"))
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("ts_us")).as("max_ts_us"))
        .crossJoin(broadcast(mx))
        .select(col("event_type").as("series"), col("n"),
          col("max_ts_us"),
          (col("wm_us") - col("max_ts_us")).as("lag_us"),
          ((col("wm_us") - col("max_ts_us")) <= 86400000000L)
            .as("fresh_1d"))
        .orderBy(col("series"))
    }),

    // COMPLETENESS audit — the third leg of the DQ triad (referential,
    // uniqueness, completeness): per declared column, null and
    // blank-string counts and the completeness ppm. The fixture is
    // fully populated, so the last two rows audit a simulated dirty
    // load (documents ∪ one NULL-text/blank-lang row — the
    // uniqueness-audit trick) to exercise the non-zero path. One agg
    // per column, map-side combined; output is columns-bounded.
    "dq_completeness_audit" -> ((s, dir) => {
      def audit(name: String, df: DataFrame, c: Column,
          blankable: Boolean) =
        df.agg(count(lit(1)).as("n_rows"),
            sum(when(c.isNull, 1L).otherwise(0L)).as("n_null"),
            sum(when(if (blankable) c.isNotNull && c === "" else lit(false),
              1L).otherwise(0L)).as("n_blank"))
          .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
            col("n_blank"),
            expr("(n_rows - n_null - n_blank) * 1000000 div n_rows")
              .as("complete_ppm"))
      val d = Tables.documents(s, dir).select(col("text"), col("lang"))
      val dirty = d.unionAll(s.range(1).select(
        lit(null).cast("string").as("text"), lit("").as("lang")))
      audit("documents.lang", d, col("lang"), blankable = true)
        .unionAll(audit("documents.text", d, col("text"), blankable = true))
        .unionAll(audit("documents_dirty.lang", dirty, col("lang"),
          blankable = true))
        .unionAll(audit("documents_dirty.text", dirty, col("text"),
          blankable = true))
        .unionAll(audit("events.props", Tables.events(s, dir),
          col("props"), blankable = true))
        .unionAll(audit("events.value", Tables.events(s, dir),
          col("value"), blankable = false))
        .orderBy(col("col_name"))
    }),

    // CROSS-TABLE RECONCILIATION AUDIT (r20) — does the order header's
    // o_totalprice equal the sum of its lines' extended·(1−disc)·(1+tax)?
    // The classic warehouse balance check (referential_audit proves the
    // keys RESOLVE; this proves the VALUES reconcile). All integer
    // cents: per line round(·100) each factor, combine as
    // pc·(100−dc)·(100+tc) div 10000, one order-keyed agg, |Δ| ≤ 1¢
    // counts as matched. On this synthetic fixture the headers are
    // drawn independently of the lines, so the audit honestly reports
    // ~0 matches and a wide drift band — exactly what it exists to
    // catch; the distribution columns make the report useful either
    // way.
    "dq_reconciliation_audit" -> ((s, dir) => {
      val exp = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"),
          round(col("l_discount") * 100).cast("long").as("dc"),
          round(col("l_tax") * 100).cast("long").as("tc"))
        .select(col("l_orderkey"),
          expr("pc * (100 - dc) * (100 + tc) div 10000").as("line_cents"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("line_cents")).as("exp_cents"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("oc"))
        .join(exp, col("o_orderkey") === col("l_orderkey"))
        .select(abs(col("oc") - col("exp_cents")).as("diff"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("diff") <= 1, 1L).otherwise(0L)).as("n_match"),
          max(col("diff")).as("max_diff_cents"),
          expr("sum(diff) div count(1)").as("mean_diff_cents"))
        .select(col("n_orders"), col("n_match"),
          expr("(n_orders - n_match) * 1000000 div n_orders")
            .as("mismatch_ppm"),
          col("max_diff_cents"), col("mean_diff_cents"))
    }),

    // ID-SEQUENCE GAP AUDIT (r20) — continuity of the event_id space:
    // holes (max−min+1−distinct) say an upstream producer dropped or
    // filtered rows BEFORE this table (uniqueness_audit catches dups
    // inside it; this catches absences a row-level audit cannot see),
    // the dup count cross-checks the uniqueness story on the same key.
    // One exact global agg, no window, no join.
    "dq_id_gap_audit" -> ((s, dir) =>
      Tables.events(s, dir)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_ids"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .select(col("n_rows"), col("n_ids"), col("min_id"), col("max_id"),
          (col("max_id") - col("min_id") + 1 - col("n_ids")).as("n_gaps"),
          (col("n_rows") - col("n_ids")).as("n_dups"))),

    "dq_uniqueness_audit" -> ((s, dir) => {
      def audit(name: String, df: DataFrame, keys: Seq[String]) = {
        val g = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        g.agg(sum(col("n")).as("total_rows"),
            count(lit(1)).as("distinct_keys"),
            coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
              .as("dup_rows"),
            coalesce(sum(when(col("n") > 1, 1L)), lit(0L)).as("dup_keys"))
          .select(lit(name).as("key"), col("total_rows"),
            col("distinct_keys"), col("dup_rows"), col("dup_keys"),
            expr("dup_rows * 1000000 div total_rows").as("dup_ppm"))
      }
      val o = Tables.orders(s, dir)
      audit("orders.o_orderkey", o, Seq("o_orderkey"))
        .unionAll(audit("lineitem.(l_orderkey,l_linenumber)",
          Tables.lineitem(s, dir), Seq("l_orderkey", "l_linenumber")))
        .unionAll(audit("customer.c_custkey", Tables.customer(s, dir),
          Seq("c_custkey")))
        .unionAll(audit("orders_doubleload.o_orderkey",
          o.unionAll(o.filter(col("o_orderkey") % 10 === 0)),
          Seq("o_orderkey")))
        .orderBy(col("key"))
    }),

    // Pearson correlation matrix over (quantity, extendedprice,
    // discount): ONE scan accumulates every Σx/Σx²/Σxy as an EXACT
    // DECIMAL(38,0) of the cents quantization (order-independent, no
    // float drift crosses the shuffle); the three correlations derive
    // from identical decimal inputs through the same IEEE double ops on
    // both engines, rounded to 6 dp. Accumulating in decimal matters:
    // Σ(price_cents²) overflows BIGINT past ~10⁵ rows
    "stats_corr_matrix" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        round(col("l_quantity") * 100).cast("decimal(19,0)").as("q"),
        round(col("l_extendedprice") * 100).cast("decimal(19,0)").as("p"),
        round(col("l_discount") * 100).cast("decimal(19,0)").as("d"))
      val sums = li.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("q")).as("sq"), sum(col("p")).as("sp"),
        sum(col("d")).as("sd"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("p") * col("p")).as("spp"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("q") * col("p")).as("sqp"),
        sum(col("q") * col("d")).as("sqd"),
        sum(col("p") * col("d")).as("spd"))
      def dbl(c: String) = col(c).cast("double")
      def corr(xy: String, sx: String, sy: String, xx: String, yy: String) =
        round((dbl("n") * dbl(xy) - dbl(sx) * dbl(sy)) /
          (sqrt(dbl("n") * dbl(xx) - dbl(sx) * dbl(sx)) *
            sqrt(dbl("n") * dbl(yy) - dbl(sy) * dbl(sy))), 6)
      def row(xn: String, yn: String, xy: String, sx: String, sy: String,
          xx: String, yy: String) =
        sums.select(lit(xn).as("x"), lit(yn).as("y"),
          col("n").cast("long").as("n"),
          corr(xy, sx, sy, xx, yy).as("corr"))
      row("quantity", "extendedprice", "sqp", "sq", "sp", "sqq", "spp")
        .unionAll(row("quantity", "discount", "sqd", "sq", "sd", "sqq", "sdd"))
        .unionAll(row("extendedprice", "discount", "spd", "sp", "sd", "spp", "sdd"))
        .orderBy(col("x"), col("y"))
    }),

    // k-anonymity audit (k=5) on the (nation, market-segment)
    // quasi-identifier: per-equivalence-class size + at-risk flag —
    // the privacy gate a curated dataset release runs before shipping
    // joinable demographic columns. One groupBy, near-metadata output
    // (|nations| × |segments| rows) at any corpus size
    "dq_k_anonymity" -> ((s, dir) =>
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5L)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))),

    // BENFORD first-digit audit over order totals — the fabricated-
    // data / unit-mixup screen a finance-shaped column gets before it
    // feeds anything downstream. Expected shares are the nine
    // round(1e6·log10(1+1/d)) LITERALS (no transcendental at runtime —
    // both engines carry the identical constants), observed shares in
    // ppm, deviation = |obs − exp|. One grouped pass, 9-row output
    "dq_benford_audit" -> ((s, dir) => {
      val expCase = "CASE digit " + benfordPpm.map { case (d, p) =>
        s"WHEN $d THEN ${p}L" }.mkString(" ") + " END"
      val tot = broadcast(Tables.orders(s, dir)
        .agg(count(lit(1)).as("n_total")))
      Tables.orders(s, dir)
        .select(substring(col("o_totalprice").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .crossJoin(tot)
        .select(col("digit"), col("n"),
          expr("n * 1000000 div n_total").as("observed_ppm"),
          expr(expCase).as("expected_ppm"),
          abs(expr("n * 1000000 div n_total") - expr(expCase))
            .as("deviation_ppm"))
        .orderBy(col("digit"))
    }),

    // GINI concentration of document volume per language — the
    // corpus-balance audit ("is one language's token mass dominated by
    // a few giant docs?"). Exact integer form of the sorted-rank
    // identity G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx), in ppm: every
    // term is a BIGINT, so the audit is hash-exact cross-engine. One
    // per-stratum sort window (the qualityQuantileFilter caveat: a
    // 90%-one-language corpus wants sub-stratification at true scale)
    "stats_gini_by_lang" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
      val t = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars").as("x"))
        .withColumn("i", row_number().over(
          w.orderBy(col("x"), col("doc_id"))).cast("long"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
      t.groupBy(col("lang"), col("n"), col("sx"))
        .agg(sum(col("i") * col("x")).as("six"))
        .select(col("lang"), col("n").as("n_docs"),
          col("sx").as("total_chars"),
          expr("(2 * six - (n + 1) * sx) * 1000000 div (n * sx)")
            .as("gini_ppm"))
        .orderBy(col("lang"))
    }),

    // association rules over the co-purchase pairs: support,
    // directed confidence, and lift in exact integer ppm — the
    // market-basket scoring layered on join_copurchase_pairs' raw
    // counts (lift > 1e6 ⇔ the pair co-occurs above independence)
    "join_assoc_rules" -> ((s, dir) => {
      // four references (order count, part frequencies, both join
      // sides) each re-ran the scan + partial-distinct — leaf it once
      // (ivfTopK RDD-persist pattern, r20)
      val li0 = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val liRdd = li0.rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val li = s.createDataFrame(liRdd, li0.schema)
      val nOrders = broadcast(li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_orders")))
      val pf = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("part_a"),
          col("b.l_partkey").as("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      val out = pairs
        .join(pf.select(col("l_partkey").as("part_a"),
          col("n_part").as("n_a")), Seq("part_a"))
        .join(pf.select(col("l_partkey").as("part_b"),
          col("n_part").as("n_b")), Seq("part_b"))
        .crossJoin(nOrders)
        .select(col("part_a"), col("part_b"), col("n_ab"),
          expr("n_ab * 1000000 div n_a").as("conf_ab_ppm"),
          expr("n_ab * 1000000 div n_b").as("conf_ba_ppm"),
          expr("n_ab * n_orders * 1000000 div (n_a * n_b)").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
        .limit(50)
      // force + release the basket leaf (VERDICT r20 #6 — see
      // join_copurchase_pairs)
      try s.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
      finally { liRdd.unpersist(); () }
    }),

    // DP-SHAPED noisy release: per-(lang, source) doc counts with
    // inverse-CDF Laplace noise (sensitivity-1 counts, b = 1/ε = 1),
    // the standard private-statistics release pipeline. The uniform
    // draw is a SEEDED md5 ppm bucket — deterministic on purpose: the
    // release is reproducible and oracle-testable end to end, and a
    // production deployment swaps exactly one expression (the seed
    // source) for a CSPRNG draw, keeping the shape. Noise quantizes to
    // floor(1e6·ln(·)) ppm (ln is correctly rounded on both engines;
    // the repo-wide log discipline), so the released value is an exact
    // BIGINT. Per-group cost: one hash + one ln — free at any scale
    "dq_dp_counts" -> ((s, dir) => {
      val u = (conv(substring(md5(concat_ws(":", col("lang"), col("source"),
          lit("seed7"))), 1, 6), 16, 10).cast("long") % 1000000
        + lit(0.5)) / lit(1000000.0)
      val noise = floor(lit(1000000.0) *
        when(u < 0.5, log(lit(2.0) * u))
          .otherwise(-log(lit(2.0) * (lit(1.0) - u)))).cast("long")
      Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("source"), col("n"),
          noise.as("noise_ppm"),
          (col("n") * 1000000L + noise).as("released_ppm"))
        .orderBy(col("lang"), col("source"))
    }),

    // l-DIVERSITY audit (l=3) — k-anonymity's complement: a class can
    // be large yet leak if everyone in it shares the SENSITIVE value
    // (here the account-balance band, floor(acctbal/2000) — floor, not
    // div, so negative balances band identically cross-engine). One
    // grouped pass with a distinct-count; near-metadata output
    "dq_l_diversity" -> ((s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal").cast("double") / lit(2000.0))
            .cast("long").as("bal_band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("bal_band")).as("l_distinct"))
        .withColumn("at_risk", col("l_distinct") < 3L)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))),

    // Data-skipping zonemap audit: per-file-bucket min/max of the price
    // column under TWO layouts — natural (orderkey arrival order) vs
    // value-clustered (equi-width price buckets via the broadcast-bounds
    // fold) — and the fraction of buckets a band predicate
    // (cents ∈ [1e6, 2e6]) can PRUNE from each. The measured case for
    // why clustering matters: a zonemap over arrival order overlaps the
    // band almost everywhere; the clustered layout skips ~90% of files
    "layout_skipping_audit" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val natural = li.select(expr("l_orderkey div 64").as("bucket"),
        col("cents"))
      val bounds = li.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val clustered = li.crossJoin(broadcast(bounds))
        .select(expr("(cents - lo) * 64 div (hi - lo + 1)").as("bucket"),
          col("cents"))
      def audit(name: String, df: DataFrame) =
        df.groupBy(col("bucket"))
          .agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(when(col("mx") >= 1000000L && col("mn") <= 2000000L, 1L)
              .otherwise(0L)).as("n_overlap"))
          .select(lit(name).as("layout"), col("n_buckets"), col("n_overlap"),
            expr("(n_buckets - n_overlap) * 1000000 div n_buckets")
              .as("prune_ppm"))
      audit("natural", natural).unionAll(audit("clustered", clustered))
        .orderBy(col("layout"))
    }),

    // Z-order layout audit: morton-interleave (l_partkey, l_suppkey)
    // into a 32-bit z-value (exact integer shift/mask cascade — both
    // engines agree bit-for-bit), bucket the z-range equi-width via the
    // broadcast-bounds fold, and report per-bucket ranges of BOTH
    // dimensions. This is the clustering decision behind data-skipping
    // layouts (OPTIMIZE ZORDER): narrow per-bucket min/max on each
    // dimension is exactly what lets a predicate on either column prune
    // files at 100 TB
    "layout_zorder" -> ((s, dir) => {
      val z = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          graft.operators.ScaleOps.zValue(col("l_partkey"), col("l_suppkey"))
            .as("z"))
      val bounds = z.agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      z.crossJoin(broadcast(bounds))
        .select(expr("(z - lo) * 64 div (hi - lo + 1)").as("bucket"),
          col("l_partkey"), col("l_suppkey"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
        .orderBy(col("bucket"))
    }),

    // bloom filter — the FOURTH sketch family (membership, after
    // HLL/GK/CMS): built distributed over one nation's suppliers
    // (`stat.bloomFilter` merges per-partition filters), 20 keys
    // probed from the KB-sized filter on the driver. The contract is
    // no-false-negatives: a bloom miss PROVES non-membership — the
    // property that lets a 100 TB join prune its big side before the
    // shuffle (Spark's runtime bloom join does exactly this); exact
    // membership rides along hash-matched.
    "agg_bloom_filter" -> ((s, dir) => {
      import s.implicits._
      val sup = Tables.supplier(s, dir)
      // member set: every third supplier — deterministic and non-empty
      // at every SF (an sf-dependent predicate can build an EMPTY
      // filter, which mightContain rejects)
      val bf = sup.filter(col("s_suppkey") % 3 === 0)
        .stat.bloomFilter("s_suppkey", expectedNumItems = 1000, fpp = 0.03)
      val tested = (1L to 20L).map(k => (k, bf.mightContain(k)))
        .toDF("s_suppkey", "bloom_positive")
      sup.filter(col("s_suppkey").between(1L, 20L))
        .select(col("s_suppkey"), (col("s_suppkey") % 3 === 0).as("is_member"))
        .join(broadcast(tested), Seq("s_suppkey"))
        .select(col("s_suppkey"), col("is_member"),
          (col("bloom_positive") || !col("is_member")).as("no_false_negative"))
        .orderBy(col("s_suppkey"))
    }),

    // RE-AGGREGATABLE sketches — the property that makes distributed
    // distinct counting scale: per-group HLL sketches built
    // independently (per supplier nation here), then hll_union_agg
    // merged to ONE global estimate without ever re-touching the rows.
    // Same gate shape as agg_approx_distinct: exact ground truth
    // hash-matched, estimate asserted within tolerance.
    "agg_hll_union" -> ((s, dir) => {
      val sketches = Tables.supplier(s, dir)
        .groupBy(col("s_nationkey"))
        .agg(hll_sketch_agg(col("s_suppkey")).as("sk"),
          countDistinct(col("s_suppkey")).as("n_exact_grp"))
      sketches.agg(
          sum(col("n_exact_grp")).as("n_exact"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
        .select(col("n_exact"),
          (abs(col("n_est") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.15).as("within_tol"))
    }),

    // SKETCHED SET INTERSECTION — the set-op HLL union can't express
    // directly, recovered by inclusion–exclusion:
    // |A∩B| ≈ est(A) + est(B) − est(A∪B). The subtraction AMPLIFIES
    // the sketches' relative error (each term's error is relative to
    // ITS set, not to the usually-smaller intersection) — hence the
    // looser 20% tolerance contract vs the union's 15%, and why
    // production stacks cap the ratio |A∪B|/|A∩B| they trust this
    // for. Exact counts ride along hash-matched (the agg_hll_union
    // gate shape); membership predicates are deterministic key
    // arithmetic so the gate is SF-stable.
    "agg_hll_intersect" -> ((s, dir) => {
      val k = col("s_suppkey")
      Tables.supplier(s, dir).agg(
          countDistinct(when(k % 2 === 0, k)).as("n_a"),
          countDistinct(when(k % 3 === 0, k)).as("n_b"),
          countDistinct(when(k % 6 === 0, k)).as("n_both"),
          hll_sketch_estimate(hll_sketch_agg(when(k % 2 === 0, k)))
            .as("est_a"),
          hll_sketch_estimate(hll_sketch_agg(when(k % 3 === 0, k)))
            .as("est_b"),
          hll_sketch_estimate(hll_sketch_agg(
            when(k % 2 === 0 || k % 3 === 0, k))).as("est_u"))
        .select(col("n_a"), col("n_b"), col("n_both"),
          (abs(col("est_a") + col("est_b") - col("est_u") -
            col("n_both")).cast("double") /
            col("n_both") <= 0.2).as("within_tol"))
    }),

    // approximate quantiles (GK sketch): the rank-error contract is
    // |rank(est) − 0.5n| ≤ n/accuracy, so the estimate must lie between
    // the exact p40 and p60 for accuracy 100 — asserted as a bound, with
    // the exact median riding along hash-matched
    "agg_approx_quantile" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(100)).as("est"),
          expr("percentile(o_totalprice, 0.5)").as("exact_med"),
          expr("percentile(o_totalprice, 0.4)").as("p40"),
          expr("percentile(o_totalprice, 0.6)").as("p60"))
        .select(col("o_orderpriority"),
          round(col("exact_med"), 2).as("median_exact"),
          (col("est") >= col("p40") && col("est") <= col("p60")).as("within_rank_tol"))
        .orderBy(col("o_orderpriority"))
    }),

    // date/time functions
    "date_funcs" -> ((s, dir) => {
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        datediff(lit("2002-01-01").cast("timestamp"), col("o_orderdate")).cast("long").as("days_to_2002"))
        .orderBy(col("o_orderkey"))
    }))

  /** Shared by `dq_freshness_audit` and its streaming twin. */
  private[graft] lazy val freshnessSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
      |mx AS (SELECT max(ts_us) AS wm_us FROM e),
      |g AS (SELECT event_type AS series, count(*)::BIGINT AS n,
      |    max(ts_us) AS max_ts_us FROM e GROUP BY 1)
      |SELECT series, n, max_ts_us,
      |  wm_us - max_ts_us AS lag_us,
      |  (wm_us - max_ts_us) <= 86400000000 AS fresh_1d
      |FROM g CROSS JOIN mx ORDER BY series""".stripMargin

  def oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_revenue_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q14_promo_share" ->
      """SELECT
        |  round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |    sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin,
    "q18_big_baskets" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS o_price, total_qty
        |FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING round(sum(l_quantity), 2) > 250) big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_price DESC, o_orderkey LIMIT 100""".stripMargin,
    "q13_order_histogram" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderstatus <> 'P'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q22_idle_balances" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        |  round(sum(c_acctbal), 2) AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q7_nation_volume" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  round(sum(CASE WHEN ns.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |    sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |WHERE p_type = 'PROMO'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND c_nationkey IN (SELECT n_nationkey FROM nation
        |                      JOIN region ON n_regionkey = r_regionkey
        |                      WHERE r_name = 'ASIA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_profit_proxy" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, round(total_rev, 2) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q16_supplier_parts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#4'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q17_small_quantity" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_items
        |FROM lineitem l JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
        |                          WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
        |        AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 31 AND 50
        |        AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q20_volume_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_name = 'NATION_5')
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01'
        |      AND l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_type = 'PROMO')
        |    GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "join_bucketed_colocated" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  round(sum(c_acctbal), 2) AS sum_bal,
        |  CAST(GROUPING(r_name) AS INT) AS gr_r, CAST(GROUPING(n_name) AS INT) AS gr_n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  round(sum(c_acctbal), 2) AS sum_bal,
        |  CAST(GROUPING(r_name) AS INT) AS gr_r, CAST(GROUPING(n_name) AS INT) AS gr_n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
        |  lag(o_totalprice, 1) OVER w AS prev_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    "window_rank_family" ->
      """SELECT p_brand, p_partkey,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
        |ORDER BY p_brand, p_partkey""".stripMargin,
    "topk_per_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rk FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
        |  FROM part) WHERE rk <= 3
        |ORDER BY p_brand, rk""".stripMargin,
    "join_lateral_topk" ->
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin,
    // same recursion shape; the year bound folds to the same literals
    // via the anchor's own aggregates
    "orders_recursive_spine" ->
      """WITH RECURSIVE years AS (
        |  SELECT (SELECT year(min(o_orderdate))::INT FROM orders) AS y
        |  UNION ALL
        |  SELECT y + 1 FROM years
        |  WHERE y < (SELECT year(max(o_orderdate))::INT FROM orders)),
        |oc AS (SELECT year(o_orderdate)::INT AS y, count(*) AS n_orders,
        |    round(sum(o_totalprice), 2) AS total_price
        |  FROM orders GROUP BY 1)
        |SELECT years.y AS year, coalesce(oc.n_orders, 0) AS n_orders,
        |  coalesce(oc.total_price, 0.0) AS total_price
        |FROM years LEFT JOIN oc ON oc.y = years.y
        |ORDER BY year""".stripMargin,
    "join_copurchase_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS n_orders
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    "join_entity_blocking" ->
      """WITH clean AS (SELECT p_partkey AS clean_id, p_name AS name FROM part),
        |dirty AS (
        |  SELECT p_partkey AS dirty_id,
        |    substr(p_name, 1, 2) || substr(p_name, 4) AS name
        |  FROM part WHERE p_partkey % 10 = 0),
        |cand AS (
        |  SELECT d.dirty_id, c.clean_id, levenshtein(d.name, c.name) AS lev
        |  FROM dirty d JOIN clean c
        |    ON list_extract(string_split(d.name, ' '), -1) =
        |       list_extract(string_split(c.name, ' '), -1)
        |   AND substr(d.name, 1, 2) = substr(c.name, 1, 2)
        |   AND abs(length(d.name) - length(c.name)) <= 2
        |  WHERE levenshtein(d.name, c.name) <= 2)
        |SELECT dirty_id, clean_id, lev FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY dirty_id ORDER BY lev, clean_id) AS rk
        |  FROM cand)
        |WHERE rk = 1 ORDER BY dirty_id""".stripMargin,
    "join_entity_blocking_jw" ->
      """WITH clean AS (SELECT p_partkey AS clean_id, p_name AS name FROM part),
        |dirty AS (
        |  SELECT p_partkey AS dirty_id,
        |    substr(p_name, 1, 2) || substr(p_name, 4) AS name
        |  FROM part WHERE p_partkey % 10 = 0),
        |cand AS (
        |  SELECT d.dirty_id, c.clean_id,
        |    round(jaro_winkler_similarity(d.name, c.name), 6) AS jw
        |  FROM dirty d JOIN clean c
        |    ON list_extract(string_split(d.name, ' '), -1) =
        |       list_extract(string_split(c.name, ' '), -1)
        |   AND substr(d.name, 1, 2) = substr(c.name, 1, 2)
        |  WHERE round(jaro_winkler_similarity(d.name, c.name), 6) >= 0.9)
        |SELECT dirty_id, clean_id, jw FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY dirty_id ORDER BY jw DESC, clean_id) AS rk
        |  FROM cand)
        |WHERE rk = 1 ORDER BY dirty_id""".stripMargin,
    "join_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "set_ops" ->
      """SELECT c_custkey FROM (
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |   UNION
        |   SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY c_custkey""".stripMargin,
    // oracle uses a genuine correlated subquery — same semantics
    "corr_subquery_min" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM part p
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
        |                       WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_brand, p_partkey""".stripMargin,
    "set_ops_all" ->
      """WITH sel AS (
        |  (SELECT o_custkey FROM orders
        |   WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
        |   INTERSECT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |SELECT o_custkey, count(*) AS multiplicity FROM sel
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "agg_stringagg" ->
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "distinct_agg" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_orderstatus) AS n_status,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "scalar_funcs" ->
      """SELECT p_partkey,
        |  upper(substr(p_name, 1, 10)) AS name10,
        |  length(p_name) AS name_len,
        |  regexp_extract(p_brand, '(\d+)', 1) AS brand_num,
        |  p_size % 7 AS size_mod,
        |  round(p_retailprice * 0.1, 2) AS price_tenth,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "agg_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS F,
        |  count(*) FILTER (o_orderstatus = 'O') AS O,
        |  count(*) FILTER (o_orderstatus = 'P') AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "unpivot_metrics" ->
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    "typed_stats_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the oracle is the UNSALTED aggregation — salting must be invisible
    "agg_salted_skew" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_l_quantity,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the oracle is the UNSALTED join — salting must be invisible
    "join_salted_skew" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
        |  true AS within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // suppkeys are unique per supplier row and nations partition the
    // table, so the exact global distinct is the sum of per-nation counts
    "agg_hll_union" ->
      """SELECT CAST(sum(cnt) AS BIGINT) AS n_exact, true AS within_tol FROM (
        |  SELECT count(DISTINCT s_suppkey) AS cnt FROM supplier
        |  GROUP BY s_nationkey)""".stripMargin,
    "agg_hll_intersect" ->
      """SELECT
        |  count(DISTINCT CASE WHEN s_suppkey % 2 = 0 THEN s_suppkey END)
        |    ::BIGINT AS n_a,
        |  count(DISTINCT CASE WHEN s_suppkey % 3 = 0 THEN s_suppkey END)
        |    ::BIGINT AS n_b,
        |  count(DISTINCT CASE WHEN s_suppkey % 6 = 0 THEN s_suppkey END)
        |    ::BIGINT AS n_both,
        |  true AS within_tol
        |FROM supplier""".stripMargin,
    "agg_approx_quantile" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS median_exact,
        |  true AS within_rank_tol
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_topn_share" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER
        |    (ORDER BY cents DESC, l_suppkey) AS rk FROM rev)
        |SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN rk <= 10 THEN cents ELSE 0 END) AS BIGINT) AS top10_cents,
        |  CAST(sum(CASE WHEN rk <= 10 THEN cents ELSE 0 END) AS BIGINT) * 1000000
        |    // CAST(sum(cents) AS BIGINT) AS top10_share_ppm
        |FROM r""".stripMargin,
    // the same floor-integer bin math over cents, empty bins from a
    // generated spine
    "stats_table_profile" ->
      """WITH s AS (SELECT count(*) AS n,
        |  count(DISTINCT l_suppkey) AS sk_ndv, min(l_suppkey) AS sk_min,
        |  max(l_suppkey) AS sk_max, count(l_suppkey) AS sk_nn,
        |  count(DISTINCT CAST(l_quantity AS BIGINT)) AS q_ndv,
        |  min(CAST(l_quantity AS BIGINT)) AS q_min,
        |  max(CAST(l_quantity AS BIGINT)) AS q_max, count(l_quantity) AS q_nn,
        |  count(DISTINCT CAST(round(l_extendedprice * 100) AS BIGINT)) AS p_ndv,
        |  min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p_min,
        |  max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p_max,
        |  count(l_extendedprice) AS p_nn,
        |  count(DISTINCT epoch_us(l_shipdate) // 1000000) AS d_ndv,
        |  min(epoch_us(l_shipdate) // 1000000) AS d_min,
        |  max(epoch_us(l_shipdate) // 1000000) AS d_max,
        |  count(l_shipdate) AS d_nn,
        |  count(DISTINCT l_returnflag) AS f_ndv,
        |  CAST(ascii(min(l_returnflag)) AS BIGINT) AS f_min,
        |  CAST(ascii(max(l_returnflag)) AS BIGINT) AS f_max,
        |  count(l_returnflag) AS f_nn
        |  FROM lineitem)
        |SELECT 'l_suppkey' AS column_name, n AS n_rows, n - sk_nn AS n_nulls,
        |  sk_ndv AS ndv, sk_min AS min_v, sk_max AS max_v FROM s
        |UNION ALL SELECT 'l_quantity', n, n - q_nn, q_ndv, q_min, q_max FROM s
        |UNION ALL SELECT 'l_extendedprice_cents', n, n - p_nn, p_ndv, p_min, p_max FROM s
        |UNION ALL SELECT 'l_shipdate_s', n, n - d_nn, d_ndv, d_min, d_max FROM s
        |UNION ALL SELECT 'l_returnflag_ascii', n, n - f_nn, f_ndv, f_min, f_max FROM s
        |ORDER BY column_name""".stripMargin,
    "agg_geo_harmonic_means" ->
      """WITH q AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |i AS (SELECT l_returnflag,
        |    CAST(floor(1000000.0 * ln(CAST(cents AS DOUBLE))) AS BIGINT)
        |      AS li,
        |    1000000000000 // cents AS ri
        |  FROM q),
        |a AS (SELECT l_returnflag, count(*)::BIGINT AS n,
        |    CAST(sum(li) AS BIGINT) AS sl, CAST(sum(ri) AS BIGINT) AS sr
        |  FROM i GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round(exp(CAST(sl AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * 1000000.0)) / 100.0, 4)
        |    AS geo_mean_qty,
        |  round(CAST(n AS DOUBLE) * 10000000000.0 / CAST(sr AS DOUBLE), 4)
        |    AS harmonic_mean_qty
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "agg_weighted_median" ->
      """WITH v AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS cw
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents,
        |    CAST(sum(cw) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cw) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM v)
        |SELECT l_returnflag, min(cents) AS wmedian_cents,
        |  max(tot) AS total_weight
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "stats_rfm_segments" ->
      """WITH mx AS (SELECT max(epoch_us(o_orderdate) // 1000000) AS max_s
        |  FROM orders),
        |rfm AS (SELECT o_custkey,
        |    (mx.max_s - max(epoch_us(o_orderdate) // 1000000)) // 86400 AS r_days,
        |    count(*) AS f,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey, mx.max_s),
        |q AS (SELECT o_custkey,
        |    CAST(ntile(5) OVER (ORDER BY r_days, o_custkey) AS BIGINT) AS rq,
        |    CAST(ntile(5) OVER (ORDER BY f DESC, o_custkey) AS BIGINT) AS fq,
        |    CAST(ntile(5) OVER (ORDER BY m DESC, o_custkey) AS BIGINT) AS mq
        |  FROM rfm)
        |SELECT rq * 100 + fq * 10 + mq AS segment, count(*) AS n_customers
        |FROM q GROUP BY 1 ORDER BY segment""".stripMargin,
    "stats_abc_parts" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM rev),
        |c AS (SELECT l_partkey, rev,
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, tot
        |  FROM rev CROSS JOIN t)
        |SELECT CASE WHEN cum * 100 <= tot * 70 THEN 'A'
        |    WHEN cum * 100 <= tot * 90 THEN 'B' ELSE 'C' END AS abc_class,
        |  count(*) AS n_parts, CAST(sum(rev) AS BIGINT) AS class_rev
        |FROM c GROUP BY 1 ORDER BY abc_class""".stripMargin,
    "stats_skew_audit" -> {
      def one(name: String, rel: String, key: String) =
        s"""SELECT '$name' AS key_name, n_rows, ndv, top1_n, top10_n,
          |  top1_n * 1000000 // n_rows AS top1_ppm,
          |  top10_n * 1000000 // n_rows AS top10_ppm,
          |  top1_n * ndv * 1000000 // n_rows AS max_avg_ppm
          |FROM (
          |  SELECT (SELECT count(*) FROM $rel)::BIGINT AS n_rows,
          |    (SELECT count(DISTINCT $key) FROM $rel)::BIGINT AS ndv,
          |    (SELECT max(cnt) FROM
          |      (SELECT count(*) AS cnt FROM $rel GROUP BY $key))::BIGINT AS top1_n,
          |    (SELECT sum(cnt) FROM
          |      (SELECT count(*) AS cnt FROM $rel GROUP BY $key
          |       ORDER BY cnt DESC, $key LIMIT 10))::BIGINT AS top10_n)""".stripMargin
      s"""${one("lineitem.l_suppkey", "lineitem", "l_suppkey")}
        |UNION ALL
        |${one("orders.o_custkey", "orders", "o_custkey")}
        |UNION ALL
        |${one("events.user_id", "events", "user_id")}
        |ORDER BY key_name""".stripMargin
    },
    "stats_target_encoding" ->
      """WITH oc AS (SELECT o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT CAST(sum(cents) AS BIGINT) // count(*) AS gm_cents FROM oc),
        |seg AS (SELECT c_mktsegment, count(*) AS seg_n,
        |    CAST(sum(cents) AS BIGINT) AS seg_sum
        |  FROM oc JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment)
        |SELECT c_mktsegment, seg_n, seg_sum, gm_cents,
        |  (seg_sum + 100 * gm_cents) // (seg_n + 100) AS enc_cents
        |FROM seg CROSS JOIN g ORDER BY c_mktsegment""".stripMargin,
    "dq_reconciliation_audit" ->
      """WITH l AS (SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dc,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tc
        |  FROM lineitem),
        |e AS (SELECT l_orderkey,
        |    CAST(sum(pc * (100 - dc) * (100 + tc) // 10000) AS BIGINT)
        |      AS exp_cents
        |  FROM l GROUP BY 1),
        |d AS (SELECT abs(CAST(round(o_totalprice * 100) AS BIGINT)
        |      - exp_cents) AS diff
        |  FROM orders o JOIN e ON o.o_orderkey = e.l_orderkey),
        |a AS (SELECT count(*)::BIGINT AS n_orders,
        |    CAST(sum(CASE WHEN diff <= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match,
        |    max(diff) AS max_diff_cents,
        |    CAST(sum(diff) AS BIGINT) // count(*) AS mean_diff_cents
        |  FROM d)
        |SELECT n_orders, n_match,
        |  (n_orders - n_match) * 1000000 // n_orders AS mismatch_ppm,
        |  max_diff_cents, mean_diff_cents
        |FROM a""".stripMargin,
    "dq_id_gap_audit" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  count(DISTINCT event_id)::BIGINT AS n_ids,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  max(event_id) - min(event_id) + 1 - count(DISTINCT event_id)
        |    AS n_gaps,
        |  count(*) - count(DISTINCT event_id) AS n_dups
        |FROM events""".stripMargin,
    "dq_uniqueness_audit" -> {
      def one(name: String, rel: String, keys: String) =
        s"""SELECT '$name' AS key, CAST(sum(n) AS BIGINT) AS total_rows,
          |  count(*)::BIGINT AS distinct_keys,
          |  coalesce(CAST(sum(n) FILTER (n > 1) AS BIGINT), 0) AS dup_rows,
          |  coalesce(count(*) FILTER (n > 1), 0)::BIGINT AS dup_keys,
          |  coalesce(CAST(sum(n) FILTER (n > 1) AS BIGINT), 0) * 1000000
          |    // CAST(sum(n) AS BIGINT) AS dup_ppm
          |FROM (SELECT count(*) AS n FROM $rel GROUP BY $keys)""".stripMargin
      s"""${one("orders.o_orderkey", "orders", "o_orderkey")}
        |UNION ALL
        |${one("lineitem.(l_orderkey,l_linenumber)", "lineitem",
          "l_orderkey, l_linenumber")}
        |UNION ALL
        |${one("customer.c_custkey", "customer", "c_custkey")}
        |UNION ALL
        |${one("orders_doubleload.o_orderkey",
          "(SELECT * FROM orders UNION ALL SELECT * FROM orders WHERE o_orderkey % 10 = 0)",
          "o_orderkey")}
        |ORDER BY key""".stripMargin
    },
    "dq_freshness_audit" -> freshnessSql,
    "orders_backlog_curve" ->
      """WITH placed AS (SELECT o_orderdate AS day, count(*)::BIGINT
        |    AS placed FROM orders GROUP BY 1),
        |lastship AS (SELECT l_orderkey, max(l_shipdate) AS day
        |  FROM lineitem GROUP BY 1),
        |shipped AS (SELECT day, count(*)::BIGINT AS shipped
        |  FROM lastship GROUP BY 1),
        |grid AS (SELECT day FROM placed
        |  UNION SELECT day FROM shipped),
        |j AS (SELECT grid.day, coalesce(placed, 0)::BIGINT AS placed,
        |    coalesce(shipped, 0)::BIGINT AS shipped
        |  FROM grid LEFT JOIN placed ON grid.day = placed.day
        |  LEFT JOIN shipped ON grid.day = shipped.day)
        |SELECT day, placed, shipped,
        |  CAST(sum(placed) OVER (ORDER BY day) AS BIGINT) AS cum_placed,
        |  CAST(sum(shipped) OVER (ORDER BY day) AS BIGINT) AS cum_shipped,
        |  CAST(sum(placed) OVER (ORDER BY day) AS BIGINT) -
        |    CAST(sum(shipped) OVER (ORDER BY day) AS BIGINT) AS backlog
        |FROM j ORDER BY day""".stripMargin,
    "dq_completeness_audit" -> {
      def one(name: String, rel: String, c: String, blankable: Boolean) = {
        val blank =
          if (blankable) s"sum(CASE WHEN $c = '' THEN 1 ELSE 0 END)"
          else "0"
        s"""SELECT '$name' AS col_name, count(*)::BIGINT AS n_rows,
          |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
          |  coalesce($blank, 0)::BIGINT AS n_blank
          |FROM $rel""".stripMargin
      }
      val dirty = "(SELECT text, lang FROM documents " +
        "UNION ALL SELECT NULL, '')"
      s"""WITH a AS (
        |${one("documents.lang", "documents", "lang", blankable = true)}
        |UNION ALL
        |${one("documents.text", "documents", "text", blankable = true)}
        |UNION ALL
        |${one("documents_dirty.lang", dirty, "lang", blankable = true)}
        |UNION ALL
        |${one("documents_dirty.text", dirty, "text", blankable = true)}
        |UNION ALL
        |${one("events.props", "events", "props", blankable = true)}
        |UNION ALL
        |${one("events.value", "events", "value", blankable = false)})
        |SELECT col_name, n_rows, n_null, n_blank,
        |  (n_rows - n_null - n_blank) * 1000000 // n_rows AS complete_ppm
        |FROM a ORDER BY col_name""".stripMargin
    },
    "dq_referential_audit" ->
      """WITH a AS (
        |  SELECT 'customer.c_nationkey->nation' AS relationship,
        |    count(*) AS fk_rows,
        |    count(*) FILTER (n_nationkey IS NULL) AS orphan_rows,
        |    count(DISTINCT c_nationkey) FILTER (n_nationkey IS NULL) AS orphan_keys
        |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders', count(*),
        |    count(*) FILTER (o_orderkey IS NULL),
        |    count(DISTINCT l_orderkey) FILTER (o_orderkey IS NULL)
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', count(*),
        |    count(*) FILTER (c_custkey IS NULL),
        |    count(DISTINCT o_custkey) FILTER (c_custkey IS NULL)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer_purged', count(*),
        |    count(*) FILTER (p.c_custkey IS NULL),
        |    count(DISTINCT o_custkey) FILTER (p.c_custkey IS NULL)
        |  FROM orders LEFT JOIN
        |    (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0) p
        |    ON o_custkey = p.c_custkey)
        |SELECT relationship, fk_rows, orphan_rows, orphan_keys,
        |  orphan_rows * 1000000 // fk_rows AS orphan_ppm
        |FROM a ORDER BY relationship""".stripMargin,
    "stats_corr_matrix" -> {
      val b = """b AS (SELECT
        |    CAST(round(l_quantity * 100) AS DECIMAL(19,0)) AS q,
        |    CAST(round(l_extendedprice * 100) AS DECIMAL(19,0)) AS p,
        |    CAST(round(l_discount * 100) AS DECIMAL(19,0)) AS d
        |  FROM lineitem),
        |s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
        |    sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
        |    sum(q*q) AS sqq, sum(p*p) AS spp, sum(d*d) AS sdd,
        |    sum(q*p) AS sqp, sum(q*d) AS sqd, sum(p*d) AS spd
        |  FROM b)""".stripMargin
      def corr(xy: String, sx: String, sy: String, xx: String, yy: String) =
        s"round((n::DOUBLE * $xy::DOUBLE - $sx::DOUBLE * $sy::DOUBLE) / " +
          s"(sqrt(n::DOUBLE * $xx::DOUBLE - $sx::DOUBLE * $sx::DOUBLE) * " +
          s"sqrt(n::DOUBLE * $yy::DOUBLE - $sy::DOUBLE * $sy::DOUBLE)), 6)"
      s"""WITH $b
        |SELECT 'quantity' AS x, 'extendedprice' AS y, CAST(n AS BIGINT) AS n,
        |  ${corr("sqp", "sq", "sp", "sqq", "spp")} AS corr FROM s
        |UNION ALL
        |SELECT 'quantity', 'discount', CAST(n AS BIGINT),
        |  ${corr("sqd", "sq", "sd", "sqq", "sdd")} FROM s
        |UNION ALL
        |SELECT 'extendedprice', 'discount', CAST(n AS BIGINT),
        |  ${corr("spd", "sp", "sd", "spp", "sdd")} FROM s
        |ORDER BY x, y""".stripMargin
    },
    "dq_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "dq_benford_audit" -> {
      val expCase = "CASE digit " + benfordPpm.map { case (d, p) =>
        s"WHEN $d THEN CAST($p AS BIGINT)" }.mkString(" ") + " END"
      s"""WITH d AS (SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit FROM orders),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |tot AS (SELECT count(*) AS n_total FROM d)
        |SELECT digit, n,
        |  CAST(n * 1000000 // n_total AS BIGINT) AS observed_ppm,
        |  $expCase AS expected_ppm,
        |  abs(CAST(n * 1000000 // n_total AS BIGINT) - $expCase)
        |    AS deviation_ppm
        |FROM g CROSS JOIN tot ORDER BY digit""".stripMargin
    },
    "stats_gini_by_lang" ->
      """WITH t AS (SELECT lang, doc_id, n_chars AS x FROM documents),
        |r AS (SELECT lang, x,
        |    row_number() OVER (PARTITION BY lang ORDER BY x, doc_id) AS i,
        |    count(*) OVER (PARTITION BY lang) AS n,
        |    sum(x) OVER (PARTITION BY lang) AS sx
        |  FROM t)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  CAST(sx AS BIGINT) AS total_chars,
        |  CAST((2 * sum(i * x) - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
        |    AS gini_ppm
        |FROM r GROUP BY lang, n, sx ORDER BY lang""".stripMargin,
    "join_assoc_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        |pf AS (SELECT l_partkey, count(*) AS n_part FROM li GROUP BY 1),
        |pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*) AS n_ab
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_ab,
        |  CAST(n_ab * 1000000 // fa.n_part AS BIGINT) AS conf_ab_ppm,
        |  CAST(n_ab * 1000000 // fb.n_part AS BIGINT) AS conf_ba_ppm,
        |  CAST(n_ab * n_orders * 1000000 // (fa.n_part * fb.n_part) AS BIGINT)
        |    AS lift_ppm
        |FROM pairs JOIN pf fa ON pairs.part_a = fa.l_partkey
        |JOIN pf fb ON pairs.part_b = fb.l_partkey CROSS JOIN no
        |ORDER BY lift_ppm DESC, part_a, part_b LIMIT 50""".stripMargin,
    "dq_dp_counts" ->
      """WITH g AS (SELECT lang, source, count(*) AS n FROM documents
        |  GROUP BY 1, 2),
        |u AS (SELECT lang, source, n,
        |  (('0x' || substr(md5(lang || ':' || source || ':seed7'), 1, 6))::BIGINT
        |     % 1000000 + 0.5) / 1000000.0 AS u
        |  FROM g),
        |z AS (SELECT lang, source, n,
        |  CAST(floor(1000000.0 * (CASE WHEN u < 0.5 THEN ln(2.0 * u)
        |    ELSE -ln(2.0 * (1.0 - u)) END)) AS BIGINT) AS noise_ppm
        |  FROM u)
        |SELECT lang, source, n, noise_ppm,
        |  CAST(n * 1000000 + noise_ppm AS BIGINT) AS released_ppm
        |FROM z ORDER BY lang, source""".stripMargin,
    "dq_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(DISTINCT CAST(floor(c_acctbal::DOUBLE / 2000.0) AS BIGINT))
        |    AS l_distinct,
        |  count(DISTINCT CAST(floor(c_acctbal::DOUBLE / 2000.0) AS BIGINT)) < 3
        |    AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "layout_skipping_audit" ->
      """WITH li AS (SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM li),
        |nat AS (SELECT l_orderkey // 64 AS bucket, min(cents) AS mn,
        |    max(cents) AS mx FROM li GROUP BY 1),
        |clu AS (SELECT (cents - lo) * 64 // (hi - lo + 1) AS bucket,
        |    min(cents) AS mn, max(cents) AS mx
        |  FROM li CROSS JOIN bounds GROUP BY 1),
        |a AS (
        |  SELECT 'natural' AS layout, count(*)::BIGINT AS n_buckets,
        |    CAST(sum(CASE WHEN mx >= 1000000 AND mn <= 2000000 THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_overlap FROM nat
        |  UNION ALL
        |  SELECT 'clustered', count(*)::BIGINT,
        |    CAST(sum(CASE WHEN mx >= 1000000 AND mn <= 2000000 THEN 1
        |      ELSE 0 END) AS BIGINT) FROM clu)
        |SELECT layout, n_buckets, n_overlap,
        |  (n_buckets - n_overlap) * 1000000 // n_buckets AS prune_ppm
        |FROM a ORDER BY layout""".stripMargin,
    "layout_zorder" ->
      """WITH b0 AS (SELECT l_partkey AS p0, l_suppkey AS s0,
        |    l_partkey & 65535 AS p, l_suppkey & 65535 AS s FROM lineitem),
        |b1 AS (SELECT p0, s0, (p | (p << 8)) & 16711935 AS p,
        |    (s | (s << 8)) & 16711935 AS s FROM b0),
        |b2 AS (SELECT p0, s0, (p | (p << 4)) & 252645135 AS p,
        |    (s | (s << 4)) & 252645135 AS s FROM b1),
        |b3 AS (SELECT p0, s0, (p | (p << 2)) & 858993459 AS p,
        |    (s | (s << 2)) & 858993459 AS s FROM b2),
        |b4 AS (SELECT p0, s0, (p | (p << 1)) & 1431655765 AS p,
        |    (s | (s << 1)) & 1431655765 AS s FROM b3),
        |zt AS (SELECT p0, s0, p | (s << 1) AS z FROM b4),
        |bounds AS (SELECT min(z) AS lo, max(z) AS hi FROM zt)
        |SELECT (z - lo) * 64 // (hi - lo + 1) AS bucket,
        |  count(*) AS n,
        |  min(p0) AS min_part, max(p0) AS max_part,
        |  min(s0) AS min_supp, max(s0) AS max_supp
        |FROM zt, bounds GROUP BY 1 ORDER BY bucket""".stripMargin,
    "agg_histogram" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c),
        |binned AS (SELECT (cents - lo) * 10 // (hi - lo + 1) AS bin,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM c, b GROUP BY 1),
        |spine AS (SELECT u.bin AS bin, lo, hi
        |  FROM b, LATERAL unnest(range(0, 10)) u(bin))
        |SELECT spine.bin AS bin,
        |  lo + spine.bin * (hi - lo + 1) // 10 AS bin_lo_cents,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n
        |FROM spine LEFT JOIN binned ON binned.bin = spine.bin
        |ORDER BY spine.bin""".stripMargin,
    // exact membership hash-matched; a bloom filter admits false
    // positives but NEVER false negatives, so the proof column is TRUE
    "agg_bloom_filter" ->
      """SELECT s_suppkey, s_suppkey % 3 = 0 AS is_member,
        |  true AS no_false_negative
        |FROM supplier WHERE s_suppkey BETWEEN 1 AND 20
        |ORDER BY s_suppkey""".stripMargin,
    // exact frequencies hash-matched; no_undercount is the CMS hard
    // guarantee (always TRUE), within_eps_bound is the 0.99-confidence
    // half — TRUE under the pinned seed/fixture (seed-pinned assumption,
    // ADVICE r14: if a fixture change flips it, suspect the fixture)
    "agg_count_min" ->
      """SELECT l_suppkey, count(*) AS n_exact, true AS no_undercount,
        |  true AS within_eps_bound
        |FROM lineitem WHERE l_suppkey BETWEEN 1 AND 5
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "date_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  quarter(o_orderdate) AS qtr,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin)
}
