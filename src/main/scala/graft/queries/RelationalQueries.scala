package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Indicators, WindowFns}

/** Relational operator inventory (SURVEY §2.2-2.4, §2.6, §2.8) bound to the
  * TPC-H-ish fixture tables, each with a DuckDB oracle twin.
  *
  * Conventions shared with every oracle: computed doubles rounded (4dp, or
  * 2dp for money sums), explicit aliases on both sides, total-order ORDER
  * BY, dates cast to DATE (never raw timestamps — the fixture's ns
  * precision does not survive a Spark round-trip).
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // A1/A3/A6: global aggregate incl. COUNT(DISTINCT)
    // the count-distinct is computed in its OWN branch and cross-joined
    // back (both one-row frames): countDistinct inside a keyless agg
    // forces Spark's distinct-rewrite to key the WHOLE partial
    // aggregation by l_suppkey — every task then drags count/sum/avg/
    // min/max state through a distinct-cardinality hash table (128×
    // crossover: 2.10 s; split: the keyless agg is a tight codegen
    // loop and the distinct branch scans one pruned column — 1.25 s)
    "q01_global_agg" -> ((s, d) => {
      val t = Tables.lineitem(s, d)
      val gl = t.agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        iso(min(to_date(col("l_shipdate")))).as("min_ship"),
        iso(max(to_date(col("l_shipdate")))).as("max_ship"))
      val nd = t.select(col("l_suppkey")).distinct()
        .agg(count(lit(1)).as("n_supp"))
      gl.crossJoin(nd).select(col("n_rows"), col("sum_qty"),
        col("avg_price"), col("n_supp"), col("min_ship"),
        col("max_ship"))
    }),

    // A2/A12: group-count + per-group sums (TPC-H Q1 shape)
    "q02_group_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // A15: multi-agg (sample stddev / mean / count) per key. Prices are
    // whole cents, so the mean is an exact ratio of integers and rounds
    // in integer arithmetic: round(avg, 4) on the double lands on decimal
    // ties (52531.86375) that Spark rounds up and DuckDB down.
    "q03_supplier_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(round(stddev_samp(col("l_extendedprice")), 2).as("std_price"),
          graft.functions.ExactRound.ratio(
            sum(round(col("l_extendedprice") * 100).cast("long")),
            count(lit(1)) * 100, 4).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_suppkey"))),

    // A4/A9: conditional aggregation (share of large orders per priority)
    "q04_cond_agg" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") > 100000, 1).otherwise(0))
            .cast("long").as("n_big"),
          graft.functions.ExactRound.ratio(
            sum(when(col("o_totalprice") > 100000, 1).otherwise(0)) * 100,
            count(lit(1)), 2).as("pct_big"))
        .orderBy(col("o_orderpriority"))),

    // J1 analog: left outer join preserving all left rows
    "q05_left_join_agg" -> ((s, d) => {
      val o = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_spent"))
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy(col("c_custkey"))
    }),

    // J2: 3-way inner equi-join, dims broadcast
    // join-strategy audit (128× crossover, warm best-of-5): broadcast
    // customer 1.84 s; hint-free (SMJ at 30 MB build side) 2.12 s;
    // orders pre-aggregated by custkey then shuffle-joined 2.76 s —
    // the explicit broadcast is the best plan at every size the bench
    // can materialize (the probe side streams, zero shuffle). At
    // cluster scale where customer outgrows executor memory, drop the
    // hint and AQE picks the shuffle join this same query planned at
    // 2.12 s — the declarative form degrades gracefully, it does not
    // wall. Remaining DuckDB gap (~12×, 1.84 s vs 0.21 s) is hash-join
    // probe throughput (row-at-a-time codegen vs vectorized radix
    // join), not plan shape.
    // Layout A/B (BASELINE.md round 9, 128×, warm best-of-3):
    // writing orders+customer bucketed/sorted by custkey
    // (operators.Bucketing) converts the probe to a merge —
    // co-bucketed SMJ 1.69 s, bucketed scan + broadcast 1.49 s, vs
    // 1.97-2.21 s over the flat fixture files. ~25% from layout
    // alone; at 100 TB the bucketed write is the standing fix for a
    // REPEATED join key (one-time write cost, every later join/agg on
    // custkey shuffle-free). The gate query keeps reading the
    // driver's flat fixtures — layout is the user's storage decision,
    // not a query rewrite.
    "q06_join3" -> ((s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("n_name"))),

    // the SAME q06 aggregation through the BUCKETED storage path —
    // orders/customer persisted bucketed+sorted by custkey
    // (Bucketing.ensureExternalBucketed into the run's private stage)
    // and joined co-bucketed. Value-identity with the flat path is
    // ORACLE-pinned every round (q06's SQL verbatim, flat files), on
    // top of BucketingSpec's zero-Exchange plan pin — the layout that
    // measured 1.05-1.19 s vs 1.7-1.8 s flat at 128× and 2.1-2.25 s
    // vs 6.1-6.7 s at 512× (CROSSOVER_r10.json, BENCH_detail.json)
    "q341_join3_bucketed" -> ((s, d) => {
      import graft.operators.Bucketing
      val base = s"${MLQueries.stageDir(d)}/q341"
      val fp = s"src=$d"
      Bucketing.ensureExternalBucketed(s, Tables.orders(s, d),
        "orders_bq341", "o_custkey", 8, s"$base/orders_bq341", fp)
      Bucketing.ensureExternalBucketed(s,
        Tables.customer(s, d)
          .withColumnRenamed("c_custkey", "o_custkey"),
        "customer_bq341", "o_custkey", 8, s"$base/customer_bq341", fp)
      Bucketing
        .cobucketedJoin(s, "orders_bq341", "customer_bq341", "o_custkey")
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("n_name"))
    }),

    // the AGGREGATION side of the same layout: groupBy on the bucket
    // key over the bucketed table plans with zero Exchange
    // (BucketingSpec pins the shape) — this query pins the VALUES:
    // top-10 customers by revenue from the bucketed scan must equal
    // DuckDB's answer over the flat files
    "q342_bucketed_agg" -> ((s, d) => {
      import graft.operators.Bucketing
      val base = s"${MLQueries.stageDir(d)}/q341"
      Bucketing.ensureExternalBucketed(s, Tables.orders(s, d),
        "orders_bq341", "o_custkey", 8, s"$base/orders_bq341",
        s"src=$d")
      s.table("orders_bq341")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)
    }),

    // J4: anti-join (NOT EXISTS) — customers with no recent orders
    "q07_anti_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("2001-01-01").cast("date"))
            .select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    // semi-join (EXISTS) — customers with at least one order
    "q08_semi_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // CUBE marginals with grouping ids — the full 2-dim rollup
    // lattice in ONE pass (Expand), DECIMAL-exact totals
    "q165_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy(col("gid"), col("o_orderstatus"),
          col("o_orderpriority"))),

    // the TPC-H Q13 shape: LEFT join so zero-order customers survive,
    // then a histogram of the per-customer counts — two hash
    // aggregates, the second over the bounded count domain
    "q201_order_count_dist" -> ((s, d) =>
      graft.operators.AnalyticsViews.countDistribution(
          Tables.customer(s, d), Tables.orders(s, d),
          "c_custkey", "o_custkey", "o_orderkey")
        .orderBy(col("n_entities").desc, col("c_count").desc)),

    // the TPC-H Q8 shape: supplier-nation market share inside each
    // region per order year — conditional DECIMAL revenue over total,
    // the ratio exact via scaled longs
    "q202_market_share" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("r_name"), col("n_name"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)").as("rev"))
      rev.groupBy(col("yr"), col("r_name"))
        .agg(coalesce(sum(when(col("n_name") === "NATION_0",
            col("rev"))), lit(0).cast("decimal(28,4)")).as("nr"),
          sum(col("rev")).as("tr"))
        .select(col("yr"), col("r_name"),
          col("nr").cast("double").as("nation_revenue"),
          col("tr").cast("double").as("total_revenue"),
          graft.functions.ExactRound.ratio(
            (col("nr") * 10000).cast("long"),
            (col("tr") * 10000).cast("long"), 4).as("share"))
        .orderBy(col("yr"), col("r_name"))
    }),

    // the TPC-H Q12 shape: fact-fact join + conditional aggregation
    // over the shipping-delay distribution per priority — all-integer
    // day arithmetic, bridge ratios
    "q217_ship_delay" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("delay"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          min(col("delay")).as("min_delay"),
          max(col("delay")).as("max_delay"),
          graft.functions.ExactRound.signedRatio(sum(col("delay")),
            count(lit(1)), 4).as("avg_delay"),
          sum(when(col("delay") > 90, 1L).otherwise(0L)).cast("long")
            .as("n_late"))
        .withColumn("late_share", graft.functions.ExactRound.ratio(
          col("n_late"), col("n_items"), 4))
        .orderBy(col("o_orderpriority"))),

    // the TPC-H Q5 join-pipeline shape: fact-to-fact shuffles on the
    // shared keys, dimension hops broadcast (nation/region are tiny at
    // any SF); revenue sums exactly in DECIMAL before the double cast
    "q156_revenue_by_nation" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("r_name"), col("n_name"))),

    // J5/O4: scalar-subquery semi-filter — rows at the global max date
    "q09_latest_orders" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val maxD = o.agg(max(col("o_orderdate")).as("_max_d"))
      o.join(broadcast(maxD), col("o_orderdate") === col("_max_d"))
        .select(col("o_orderkey"), col("o_custkey"),
          iso(col("o_orderdate")).as("order_date"),
          round(col("o_totalprice"), 2).as("total_price"))
        .orderBy(col("o_orderkey"))
    }),

    // A14: pivot (explicit value list → no discovery job, fixed columns)
    "q19_pivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 2))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy(col("l_returnflag"))),

    // O5: top-k with total-order tiebreak (TakeOrderedAndProject plan)
    "q21_topk_events" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy(col("value").desc, col("event_id"))
        .limit(10)),

    // F-DOW/F-MON/F-NBD: temporal features, pandas Mon=0 convention
    "q25_temporal" -> ((s, d) => {
      val dt = to_date(col("o_orderdate"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), iso(dt).as("order_date"),
          Indicators.dayOfWeekMon0(dt).cast("long").as("dow"),
          month(dt).cast("long").as("month"),
          (Indicators.dayOfWeekMon0(dt) >= 5).as("is_weekend"),
          iso(Indicators.nextTradingDay(dt)).as("next_trading_day"))
        .orderBy(col("o_orderkey"))
    }),

    // P1-P8: combined projection + range/isin/null/positive predicates —
    // all of them must reach the parquet scan as PushedFilters
    "q51_filter_combo" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1998-01-01").cast("date") &&
          col("l_returnflag").isin("A", "R") &&
          col("l_quantity") > 0 && col("l_extendedprice").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"),
          iso(col("l_shipdate")).as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // A16: last row per group, single hash-agg (no sort+filter)
    "q27_latest_per_user" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
        iso(col("ts")).as("date"), col("event_type"), col("value"))
      WindowFns.latestPerKey(e, Seq("user_id"), col("event_id"))
        .orderBy(col("user_id"))
    }),

    // priority mix by order-value quartile (exact disc quartile
    // bucketing × priority cross-tab with exact shares)
    "q333_priority_by_value" -> ((s, d) => {
      val cents = (col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents").asc, col("o_orderkey").asc)
      val ranked = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents.as("cents"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window
              .unboundedFollowing)).cast("long"))
      val q = when(col("rn") * 4 <= col("n"), 1L)
        .when(col("rn") * 2 <= col("n"), 2L)
        .when(col("rn") * 4 <= col("n") * 3, 3L).otherwise(4L)
      val g = ranked.withColumn("quartile", q)
        .groupBy(col("quartile"), col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
      val tot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("quartile"))
      g.withColumn("_t", sum(col("n_orders")).over(tot).cast("long"))
        .select(col("quartile"), col("o_orderpriority"),
          col("n_orders"),
          graft.functions.ExactRound.ratio(col("n_orders"),
            col("_t"), 4).as("share"))
        .orderBy(col("quartile"), col("o_orderpriority"))
    }),

    // discount-band effectiveness: revenue and quantity by discount
    // band per brand — does discounting move volume (exact cents)
    "q331_discount_bands" -> ((s, d) => {
      val cents = (col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val d100 = (col("l_discount").cast("decimal(5,2)") * 100)
        .cast("long")
      val band = when(d100 === 0, "0_none")
        .when(d100 <= 5, "1_low").otherwise(lit("2_high"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), band.as("discount_band"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("l_quantity").cast("long")).cast("long")
            .as("total_qty"),
          (sum(cents).cast("double") / 100).as("revenue"))
        .orderBy(col("p_brand"), col("discount_band"))
    }),

    // ABC (Pareto) classification of parts by revenue: A ≤ 80% of
    // cumulative cents, B ≤ 95%, C the tail — exact integer
    // cumulatives over the bounded part dimension
    "q323_abc_analysis" -> ((s, d) => {
      val cents = (col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(cents).cast("long").as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("l_partkey").asc)
      val tot = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      rev.withColumn("cum", sum(col("c")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))
          .cast("long"))
        .withColumn("t", sum(col("c")).over(tot).cast("long"))
        .withColumn("cls",
          when(col("cum") * 100 <= col("t") * 80, "A")
            .when(col("cum") * 100 <= col("t") * 95, "B")
            .otherwise(lit("C")))
        .groupBy(col("cls"))
        .agg(count(lit(1)).cast("long").as("n_parts"),
          (sum(col("c")).cast("double") / 100).as("revenue"))
        .orderBy(col("cls"))
    }),

    // price-dispersion audit per part: the same part transacting at
    // spread-out prices — exact cents extremes + bridge spread pct
    "q324_price_dispersion" -> ((s, d) => {
      val cents = (col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("long")
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          min(cents).as("mn"), max(cents).as("mx"))
        .where(col("n_lines") >= 5 && col("mn") > 0)
        .select(col("l_partkey"), col("n_lines"),
          (col("mn").cast("double") / 100).as("min_price"),
          (col("mx").cast("double") / 100).as("max_price"),
          graft.functions.ExactRound.ratio(
            (col("mx") - col("mn")) * 100, col("mn"), 4)
            .as("spread_pct"))
        .orderBy(col("l_partkey"))
    }),

    // revenue cohort triangle: first-order YEAR cohorts × order age
    // in years, exact cents
    "q321_cohort_revenue" -> ((s, d) => {
      val cents = (col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val first = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(min(year(col("o_orderdate"))).cast("long").as("cohort"))
      Tables.orders(s, d)
        .join(first, Seq("o_custkey"))
        .groupBy(col("cohort"),
          (year(col("o_orderdate")).cast("long") - col("cohort"))
            .as("age_years"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          countDistinct(col("o_custkey")).cast("long")
            .as("n_customers"),
          (sum(cents).cast("double") / 100).as("revenue"))
        .orderBy(col("cohort"), col("age_years"))
    }),

    // repeat-purchase rate per market segment, exact shares
    "q320_repeat_rate" -> ((s, d) => {
      val perCust = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n_cust"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L))
            .cast("long").as("n_repeat"),
          sum(when(col("n_orders") === 0, 1L).otherwise(0L))
            .cast("long").as("n_never"))
        .select(col("c_mktsegment"), col("n_cust"), col("n_repeat"),
          col("n_never"),
          graft.functions.ExactRound.ratio(col("n_repeat"),
            col("n_cust"), 4).as("repeat_rate"))
        .orderBy(col("c_mktsegment"))
    }),

    // monthly revenue with exact MoM growth percent
    "q316_mom_growth" -> ((s, d) => {
      val cents = (col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val m = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(cents).cast("long").as("c"))
      // unpartitioned lag over the per-MONTH revenue frame —
      // span-bounded (scale-audit r13)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("m"))
      m.withColumn("pc", lag(col("c"), 1).over(w))
        .select(iso(to_date(col("m"))).as("month"), col("n_orders"),
          (col("c").cast("double") / 100).as("revenue"),
          graft.functions.ExactRound.signedRatio(
            (col("c") - col("pc")) * 100, col("pc"), 4)
            .as("mom_growth_pct"))
        .orderBy(col("month"))
    }),

    // component-size histogram via 16-round synchronous min-label
    "q313_components" -> ((s, d) =>
      graft.operators.GraphOps.minLabelComponents(
          graft.operators.GraphOps.coPurchaseEdges(
            Tables.lineitem(s, d), 2), rounds = 16)
        .orderBy(col("size"))),

    // 5-round synchronous PageRank over the co-purchase graph
    "q312_pagerank" -> ((s, d) =>
      graft.operators.GraphOps.pageRank(
          graft.operators.GraphOps.coPurchaseEdges(
            Tables.lineitem(s, d), 2), iters = 5)
        .orderBy(col("v"))),

    // market-basket co-purchase graph: canonical part-pair edges
    "q310_copurchase_edges" -> ((s, d) =>
      graft.operators.GraphOps.coPurchaseEdges(Tables.lineitem(s, d), 2)
        .orderBy(col("pa"), col("pb"))),

    // triangle census + transitivity of the co-purchase graph
    "q311_triangles" -> ((s, d) =>
      graft.operators.GraphOps.triangleStats(
        graft.operators.GraphOps.coPurchaseEdges(
          Tables.lineitem(s, d), 2))),

    // partition-sizing advisor: exact byte/row stats per table →
    // recommended shuffle partitions for a target partition size
    // (ceil division in exact integers; 128 MiB target)
    "q305_partition_advisor" -> ((s, d) => {
      def statsOf(label: String, df: DataFrame,
                  rowBytes: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).cast("long").as("n_rows"),
            sum(rowBytes.cast("long")).cast("long").as("est_bytes"))
          .select(lit(label).as("table_name"), col("n_rows"),
            col("est_bytes"),
            greatest(call_function("div",
              col("est_bytes") + (134217728L - 1), lit(134217728L)),
              lit(1L)).as("recommended_partitions"))
      val li = statsOf("lineitem", Tables.lineitem(s, d),
        // fixed-width columns: 4 longs + 1 int + 4 doubles + 2 chars
        // + ts ≈ 81 bytes
        lit(81))
      val doc = statsOf("documents", Tables.documents(s, d),
        octet_length(col("text")) + lit(40))
      li.union(doc).orderBy(col("table_name"))
    }),

    // exact 10% hash-sample bias audit: full vs sampled mean order
    // value and the signed error — validates the md5 sampler on real
    // data (both means in exact cents, bridge-rounded)
    "q307_sample_bias" -> ((s, d) => {
      val cents = (col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        cents.as("cents"))
      val sampled = graft.operators.Sampling.sampleByHash(
        base, "o_orderkey", 0.1)
      val f = base.agg(count(lit(1)).cast("long").as("n_full"),
        sum(col("cents")).cast("long").as("s_full"))
      val m = sampled.agg(count(lit(1)).cast("long").as("n_sample"),
        sum(col("cents")).cast("long").as("s_sample"))
      f.crossJoin(broadcast(m))
        .select(col("n_full"), col("n_sample"),
          graft.functions.ExactRound.ratio(col("s_full"),
            col("n_full") * 100L, 2).as("mean_full"),
          graft.functions.ExactRound.ratio(col("s_sample"),
            col("n_sample") * 100L, 2).as("mean_sample"),
          graft.functions.ExactRound.ratio(col("n_sample") * 10000,
            col("n_full"), 0).divide(lit(10000.0))
            .as("sample_fraction"))
    }),

    // join-cardinality estimator: |A⋈B| = Σ_k a_k·b_k off the two key
    // histograms — the plan-before-you-join audit (exact, since the
    // histograms are exact); reports the hottest output key too
    "q304_join_cardinality" -> ((s, d) => {
      val a = Tables.orders(s, d).groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).cast("long").as("ca"))
      val b = Tables.lineitem(s, d).groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).cast("long").as("cb"))
      val na = a.agg(count(lit(1)).cast("long").as("n_keys_left"))
      val nb = b.agg(count(lit(1)).cast("long").as("n_keys_right"))
      a.join(b, Seq("k"))
        .agg(count(lit(1)).cast("long").as("n_matching_keys"),
          sum(col("ca") * col("cb")).cast("long").as("join_rows"),
          max(struct((col("ca") * col("cb")).as("p"),
            (-col("k")).as("nk"))).as("hot"))
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .select(col("n_keys_left"), col("n_keys_right"),
          col("n_matching_keys"), col("join_rows"),
          (-col("hot.nk")).as("hottest_key"),
          col("hot.p").as("hottest_rows"))
    }),

    // bipartite degree profile of the supply graph: suppliers per
    // part (distinct-pair degree → bounded histogram)
    "q301_supply_degree" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).cast("long").as("n_parts"))
        .orderBy(col("degree"))),

    // skyline / Pareto front: best customers on (spend ↑, recency ↓)
    // that nobody dominates — one RANGE window, no self-join
    "q299_skyline" -> ((s, d) => {
      val asof = Tables.orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("as_of"))
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast("decimal(14,2)") * 100)
            .cast("long")).cast("long").as("spend_cents"),
          max(to_date(col("o_orderdate"))).as("last_d"))
        .crossJoin(broadcast(asof))
        .select(col("o_custkey"),
          col("spend_cents"),
          datediff(col("as_of"), col("last_d")).cast("long")
            .as("recency_days"))
      graft.operators.AnalyticsViews.skyline2d(cust,
          "spend_cents", "recency_days")
        .select(col("o_custkey"),
          (col("spend_cents").cast("double") / 100).as("total_spend"),
          col("recency_days"))
        .orderBy(col("o_custkey"))
    }),

    // join-key skew diagnostic over the two hot fact keys
    "q292_key_skew" -> ((s, d) =>
      graft.operators.SkewTools.keySkewProfile(Seq(
          ("orders.o_custkey", Tables.orders(s, d), "o_custkey"),
          ("lineitem.l_partkey", Tables.lineitem(s, d), "l_partkey")))
        .orderBy(col("key_label"))),

    // inter-purchase gap profile: exact day gaps, discrete median
    "q290_order_gaps" -> ((s, d) =>
      graft.operators.EventSeries.orderGaps(Tables.orders(s, d))
        .orderBy(col("o_custkey"))),

    // duplicate-booking audit: multiple orders by one customer on the
    // same day — the double-submission screen, one hash agg
    "q285_dup_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"),
          iso(col("o_orderdate")).as("order_date"))
        .agg(count(lit(1)).cast("long").as("n_dups"),
          min(col("o_orderkey")).cast("long").as("first_order"),
          round(sum(col("o_totalprice").cast("decimal(14,2)"))
            .cast("double"), 2).as("total_amount"))
        .where(col("n_dups") > 1)
        .orderBy(col("o_custkey"), col("order_date"))),

    // cross-table referential-integrity audit: orphan facts per edge
    // of the star schema — anti-join counts folded to one row
    "q287_referential_audit" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val orphanLines = l.join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).cast("long").as("c"))
        .select(lit("lineitem_without_order").as("edge"), col("c"))
      val orphanOrders = o.join(
          Tables.customer(s, d).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).cast("long").as("c"))
        .select(lit("order_without_customer").as("edge"), col("c"))
      val orphanParts = l.join(
          Tables.part(s, d).select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_anti")
        .agg(count(lit(1)).cast("long").as("c"))
        .select(lit("lineitem_without_part").as("edge"), col("c"))
      orphanLines.union(orphanOrders).union(orphanParts)
        .select(col("edge"), col("c").as("n_orphans"))
        .orderBy(col("edge"))
    }),

    // exact discrete price quartiles per returnflag: order statistics
    // at rank ⌈p·n⌉ over integer cents — no interpolation, no sketch
    "q283_price_quartiles" -> ((s, d) => {
      val cents = (col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("cents").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      val ranked = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), cents.as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("l_returnflag"))))
      def atQ(num: Int, den: Int) = max(when(col("rn") ===
        call_function("div", col("n") * num + (den - 1),
          lit(den.toLong)), col("cents")))
      ranked.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n"),
          (atQ(1, 4).cast("double") / 100).as("p25"),
          (atQ(1, 2).cast("double") / 100).as("p50"),
          (atQ(3, 4).cast("double") / 100).as("p75"),
          (atQ(95, 100).cast("double") / 100).as("p95"))
        .orderBy(col("l_returnflag"))
    }),

    // IQR outlier counts per returnflag off the same exact quartiles
    // (bounds broadcast back — two passes, zero sort of the fact side)
    "q284_iqr_outliers" -> ((s, d) => {
      val cents = (col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), cents.as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("cents").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      val ranked = base.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("l_returnflag"))))
      def atQ(num: Int, den: Int) = max(when(col("rn") ===
        call_function("div", col("n") * num + (den - 1),
          lit(den.toLong)), col("cents")))
      val bounds = ranked.groupBy(col("l_returnflag"))
        .agg(atQ(1, 4).as("q1"), atQ(3, 4).as("q3"))
        // 1.5·IQR in exact HALF-cent units: scale everything ×2
        .select(col("l_returnflag").as("flag"),
          (col("q1") * 2 - (col("q3") - col("q1")) * 3).as("lo2"),
          (col("q3") * 2 + (col("q3") - col("q1")) * 3).as("hi2"))
      base.join(broadcast(bounds),
          col("l_returnflag") === col("flag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("cents") * 2 < col("lo2"), 1L).otherwise(0L))
            .cast("long").as("n_low"),
          sum(when(col("cents") * 2 > col("hi2"), 1L).otherwise(0L))
            .cast("long").as("n_high"))
        .select(col("l_returnflag"), col("n"), col("n_low"),
          col("n_high"),
          graft.functions.ExactRound.ratio(
            col("n_low") + col("n_high"), col("n"), 4)
            .as("outlier_share"))
        .orderBy(col("l_returnflag"))
    }),

    // customer LTV deciles: exact-cents spend, total-ordered ntile,
    // per-decile exact moments (decile tables are the bounded-
    // dimension regime — the global sort runs over customers, not
    // facts)
    "q280_ltv_deciles" -> ((s, d) => {
      val o = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast("decimal(14,2)") * 100)
          .cast("long")).cast("long").as("cents"))
      val spend = Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("cents"), lit(0L)).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents").desc, col("c_custkey").asc)
      spend.withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("long").as("n_cust"),
          sum(col("cents")).cast("long").as("_sc"),
          (max(col("cents")).cast("double") / 100).as("max_spend"),
          (min(col("cents")).cast("double") / 100).as("min_spend"))
        .select(col("decile"), col("n_cust"),
          (col("_sc").cast("double") / 100).as("total_spend"),
          graft.functions.ExactRound.ratio(col("_sc"),
            col("n_cust") * 100L, 2).as("avg_spend"),
          col("max_spend"), col("min_spend"))
        .orderBy(col("decile"))
    }),

    // TPC-H Q4 shape: priority counts of orders with at least one
    // slow lineitem — equi semi-join with a non-equi residual, no
    // double counting
    "q276_late_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            to_date(col("l_shipdate")) >
              date_add(to_date(col("o_orderdate")), 90),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_late_orders"))
        .orderBy(col("o_orderpriority"))),

    // grouped argmax AFTER aggregation: top revenue supplier per
    // nation via one struct-max (no window, map-side combine)
    "q277_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("s_suppkey"), col("s_name"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)").as("rev"))
        .groupBy(col("n_name"), col("s_suppkey"), col("s_name"))
        .agg(sum(col("rev")).as("revenue"))
      rev.groupBy(col("n_name"))
        .agg(max(struct(col("revenue").as("r"),
          (-col("s_suppkey")).as("k"), col("s_name").as("nm")))
          .as("t"))
        .select(col("n_name"), (-col("t.k")).as("s_suppkey"),
          col("t.nm").as("s_name"),
          col("t.r").cast("double").as("revenue"))
        .orderBy(col("n_name"))
    }),

    // explicit GROUPING SETS lattice (the non-hierarchical cousin of
    // q68 ROLLUP / q165 CUBE): two independent marginals + the grand
    // total in ONE Expand pass, no self-union
    "q259_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2
                    + grouping(o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus, o_orderpriority""")
    }),

    // TPC-H Q17 shape: small-quantity revenue loss for one brand —
    // the correlated per-part avg becomes a co-partitioned partkey
    // join (part filter broadcast BEFORE the agg); the 20% compare
    // and the /7 run in exact integer cents
    "q256_small_qty_loss" -> ((s, d) => {
      val pf = Tables.part(s, d).where(col("p_brand") === "Brand#2")
        .select(col("p_partkey"))
      val lf = Tables.lineitem(s, d)
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("q"),
          (col("l_extendedprice").cast("decimal(14,2)") * 100)
            .cast("long").as("cents"))
      val pa = lf.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("q")).cast("long").as("sq"))
      lf.join(pa, col("l_partkey") === col("pk"))
        .where(col("q") * 5 * col("n") < col("sq"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("cents")).cast("long").as("c"))
        .select(col("n_lines"),
          graft.functions.ExactRound.ratio(coalesce(col("c"), lit(0L)),
            lit(7L), 0).divide(lit(100.0)).as("avg_yearly_loss"))
    }),

    // TPC-H Q18 shape: large-volume orders — lineitem rollup on
    // orderkey (having), then orderkey/custkey joins; top-100 via
    // TakeOrderedAndProject (no global sort)
    "q257_big_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).cast("long")
          .as("total_qty"))
        .where(col("total_qty") > 300)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          iso(col("o_orderdate")).as("order_date"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // TPC-H Q22 shape: rich customers with no RECENT orders — the global
    // positive-balance average compares in EXACT cross-multiplied
    // cents (broadcast 1-row agg), then an anti-join on orders
    "q258_idle_rich" -> ((s, d) => {
      val cents = (col("c_acctbal").cast("decimal(14,2)") * 100)
        .cast("long")
      val c = Tables.customer(s, d).withColumn("cents", cents)
      val avgRow = c.where(col("cents") > 0)
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast("long").as("s"))
      c.crossJoin(broadcast(avgRow))
        .where(col("cents") * col("n") > col("s"))
        .join(Tables.orders(s, d)
            .where(col("o_orderdate") >= lit("1998-01-01").cast("date")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("long").as("n_cust"),
          (sum(col("cents")).cast("double") / 100).as("total_bal"))
        .orderBy(col("c_nationkey"))
    }))

  val oracle: Map[String, String] = Map(
    "q165_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(GROUPING(o_orderstatus, o_orderpriority)
                  AS BIGINT) AS gid,
                count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS total
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, 1, 2""",
    "q156_revenue_by_nation" ->
      """SELECT r_name, n_name, count(*) AS n_items,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q217: Q12 — day-grained delay distribution per priority
    "q217_ship_delay" ->
      """WITH d AS (
           SELECT o_orderpriority,
                  CAST(date_diff('day', o_orderdate, l_shipdate)
                    AS BIGINT) AS delay
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         g AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
                  min(delay) AS min_delay, max(delay) AS max_delay,
                  CAST(sum(delay) AS BIGINT) AS sum_delay,
                  CAST(sum(CASE WHEN delay > 90 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late
           FROM d GROUP BY 1)
         SELECT o_orderpriority, n_items, min_delay, max_delay,
                CAST(CASE WHEN sum_delay < 0
                     THEN -(((-sum_delay) * 20000 + n_items)
                            // (2 * n_items))
                     ELSE (sum_delay * 20000 + n_items)
                          // (2 * n_items) END AS DOUBLE) / 10000
                  AS avg_delay,
                n_late,
                CAST((n_late * 20000 + n_items) // (2 * n_items)
                  AS DOUBLE) / 10000 AS late_share
         FROM g ORDER BY 1""",

    // q201: Q13 — zero-order customers kept by the LEFT join
    "q201_order_count_dist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS n_entities
         FROM (SELECT c_custkey,
                      CAST(count(o_orderkey) AS BIGINT) AS c_count
               FROM customer LEFT JOIN orders ON c_custkey = o_custkey
               GROUP BY 1)
         GROUP BY 1 ORDER BY 2 DESC, 1 DESC""",
    // q202: Q8 — conditional/total DECIMAL revenue, exact share
    "q202_market_share" ->
      """WITH rev AS (
           SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, r_name,
                  n_name,
                  CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,4)) AS rev
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         g AS (
           SELECT yr, r_name,
                  coalesce(sum(CASE WHEN n_name = 'NATION_0'
                    THEN rev END), 0) AS nr,
                  sum(rev) AS tr
           FROM rev GROUP BY 1, 2)
         SELECT yr, r_name,
                CAST(nr AS DOUBLE) AS nation_revenue,
                CAST(tr AS DOUBLE) AS total_revenue,
                CAST((CAST(nr * 10000 AS BIGINT) * 20000
                      + CAST(tr * 10000 AS BIGINT))
                     // (2 * CAST(tr * 10000 AS BIGINT)) AS DOUBLE)
                  / 10000 AS share
         FROM g ORDER BY 1, 2""",
    "q01_global_agg" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity),2) AS sum_qty,
         round(avg(l_extendedprice),4) AS avg_price,
         count(DISTINCT l_suppkey) AS n_supp,
         strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_ship,
         strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_ship FROM lineitem""",
    "q02_group_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_quantity),2) AS sum_qty,
         round(avg(l_discount),6) AS avg_disc
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
    "q03_supplier_stats" ->
      """SELECT l_suppkey, round(stddev_samp(l_extendedprice),2) AS std_price,
         CAST((20000 * sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               + 100 * count(*)) // (200 * count(*)) AS DOUBLE) / 10000
           AS avg_price, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q04_cond_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_big,
         CAST((20000 * sum(CASE WHEN o_totalprice > 100000
                                THEN 1 ELSE 0 END) + count(*))
              // (2 * count(*)) AS DOUBLE) / 100 AS pct_big
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q05_left_join_agg" ->
      """SELECT c_custkey, c_name, coalesce(n_orders, 0) AS n_orders,
         coalesce(total_spent, 0.0) AS total_spent
         FROM customer LEFT JOIN (
           SELECT o_custkey, count(*) AS n_orders,
                  round(sum(o_totalprice),2) AS total_spent
           FROM orders GROUP BY 1) o ON c_custkey = o_custkey
         ORDER BY c_custkey""",
    "q06_join3" ->
      """SELECT n_name, count(*) AS n_orders,
         round(sum(o_totalprice),2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    // q341: the bucketed-layout path must produce EXACTLY the flat
    // answer — q06's oracle verbatim (DuckDB reads the flat files;
    // the engine read the bucketed tables)
    "q341_join3_bucketed" ->
      """SELECT n_name, count(*) AS n_orders,
         round(sum(o_totalprice),2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    // q342: the bucketed-scan aggregation against the flat files
    "q342_bucketed_agg" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice),2) AS revenue
         FROM orders GROUP BY 1
         ORDER BY revenue DESC, o_custkey LIMIT 10""",
    "q07_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= DATE '2001-01-01')
         ORDER BY c_custkey""",
    "q08_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q09_latest_orders" ->
      """SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         round(o_totalprice, 2) AS total_price
         FROM orders WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
         ORDER BY o_orderkey""",
    "q19_pivot" ->
      """SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END),2)
           AS qty_f,
         round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END),2)
           AS qty_o
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q21_topk_events" ->
      """SELECT event_id, user_id, event_type, value FROM events
         ORDER BY value DESC, event_id LIMIT 10""",
    "q25_temporal" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         (dayofweek(o_orderdate) + 6) % 7 AS dow,
         month(o_orderdate) AS month,
         (dayofweek(o_orderdate) + 6) % 7 >= 5 AS is_weekend,
         strftime(CASE WHEN dayofweek(CAST(o_orderdate AS DATE) + 1) = 6
                THEN CAST(o_orderdate AS DATE) + 3
              WHEN dayofweek(CAST(o_orderdate AS DATE) + 1) = 0
                THEN CAST(o_orderdate AS DATE) + 2
              ELSE CAST(o_orderdate AS DATE) + 1 END, '%Y-%m-%d')
           AS next_trading_day
         FROM orders ORDER BY o_orderkey""",
    "q51_filter_combo" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_returnflag IN ('A', 'R')
           AND l_quantity > 0 AND l_extendedprice IS NOT NULL
         ORDER BY l_orderkey, l_linenumber""",
    "q27_latest_per_user" ->
      """WITH e AS (
           SELECT user_id, event_id, strftime(ts, '%Y-%m-%d') AS date, event_type,
                  value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY event_id DESC) AS rn
           FROM events)
         SELECT user_id, event_id, date, event_type, value
         FROM e WHERE rn = 1 ORDER BY user_id""",
    "q333_priority_by_value" ->
      """WITH r AS (
           SELECT o_orderkey, o_orderpriority,
                  row_number() OVER (ORDER BY
                    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                      AS BIGINT) ASC, o_orderkey ASC) AS rn,
                  count(*) OVER () AS n
           FROM orders),
         qq AS (
           SELECT o_orderpriority,
                  CASE WHEN rn * 4 <= n THEN 1
                       WHEN rn * 2 <= n THEN 2
                       WHEN rn * 4 <= n * 3 THEN 3 ELSE 4 END
                    AS quartile
           FROM r),
         g AS (
           SELECT CAST(quartile AS BIGINT) AS quartile,
                  o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n_orders
           FROM qq GROUP BY 1, 2),
         t AS (
           SELECT *, CAST(sum(n_orders) OVER (PARTITION BY quartile)
             AS BIGINT) AS tt
           FROM g)
         SELECT quartile, o_orderpriority, n_orders,
                CAST((n_orders * 20000 + tt) // (2 * tt) AS DOUBLE)
                  / 10000 AS share
         FROM t ORDER BY 1, 2""",
    "q331_discount_bands" ->
      """SELECT p_brand,
                CASE WHEN CAST(CAST(l_discount AS DECIMAL(5,2)) * 100
                       AS BIGINT) = 0 THEN '0_none'
                     WHEN CAST(CAST(l_discount AS DECIMAL(5,2)) * 100
                       AS BIGINT) <= 5 THEN '1_low'
                     ELSE '2_high' END AS discount_band,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                  AS total_qty,
                CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2))
                  * 100 AS BIGINT)) AS DOUBLE) / 100 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q323_abc_analysis" ->
      """WITH rev AS (
           SELECT l_partkey,
                  CAST(sum(CAST(CAST(l_extendedprice
                    AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
                    AS c
           FROM lineitem GROUP BY 1),
         cum AS (
           SELECT l_partkey, c,
                  CAST(sum(c) OVER (ORDER BY c DESC, l_partkey ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(sum(c) OVER () AS BIGINT) AS t
           FROM rev),
         cls AS (
           SELECT CASE WHEN cum * 100 <= t * 80 THEN 'A'
                       WHEN cum * 100 <= t * 95 THEN 'B'
                       ELSE 'C' END AS cls, c
           FROM cum)
         SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
                CAST(sum(c) AS DOUBLE) / 100 AS revenue
         FROM cls GROUP BY 1 ORDER BY 1""",
    "q324_price_dispersion" ->
      """WITH g AS (
           SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines,
                  CAST(min(CAST(CAST(l_extendedprice
                    AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
                    AS mn,
                  CAST(max(CAST(CAST(l_extendedprice
                    AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
                    AS mx
           FROM lineitem GROUP BY 1)
         SELECT l_partkey, n_lines,
                CAST(mn AS DOUBLE) / 100 AS min_price,
                CAST(mx AS DOUBLE) / 100 AS max_price,
                CAST(((mx - mn) * 100 * 20000 + mn) // (2 * mn)
                  AS DOUBLE) / 10000 AS spread_pct
         FROM g WHERE n_lines >= 5 AND mn > 0 ORDER BY 1""",
    "q321_cohort_revenue" ->
      """WITH f AS (
           SELECT o_custkey,
                  CAST(min(year(o_orderdate)) AS BIGINT) AS cohort
           FROM orders GROUP BY 1)
         SELECT cohort,
                CAST(year(o_orderdate) AS BIGINT) - cohort
                  AS age_years,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(count(DISTINCT orders.o_custkey) AS BIGINT)
                  AS n_customers,
                CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2))
                  * 100 AS BIGINT)) AS DOUBLE) / 100 AS revenue
         FROM orders JOIN f USING (o_custkey)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q320_repeat_rate" ->
      """WITH pc AS (
           SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1),
         c AS (
           SELECT c_mktsegment, coalesce(n_orders, 0) AS n_orders
           FROM customer LEFT JOIN pc ON c_custkey = o_custkey),
         g AS (
           SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
                  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_repeat,
                  CAST(sum(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_never
           FROM c GROUP BY 1)
         SELECT c_mktsegment, n_cust, n_repeat, n_never,
                CAST((n_repeat * 20000 + n_cust) // (2 * n_cust)
                  AS DOUBLE) / 10000 AS repeat_rate
         FROM g ORDER BY 1""",
    "q316_mom_growth" ->
      """WITH m AS (
           SELECT date_trunc('month', o_orderdate) AS m,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2))
                    * 100 AS BIGINT)) AS BIGINT) AS c
           FROM orders GROUP BY 1),
         g AS (
           SELECT m, n_orders, c, lag(c) OVER (ORDER BY m) AS pc
           FROM m)
         SELECT strftime(CAST(m AS DATE), '%Y-%m-%d') AS month,
                n_orders, CAST(c AS DOUBLE) / 100 AS revenue,
                CAST(CASE WHEN (c - pc) * 100 < 0
                     THEN -((abs((c - pc) * 100) * 20000 + pc)
                            // (2 * pc))
                     ELSE ((c - pc) * 100 * 20000 + pc) // (2 * pc)
                     END AS DOUBLE) / 10000 AS mom_growth_pct
         FROM g ORDER BY 1""",
    "q313_components" -> {
      val rounds = (1 to 16).map { i =>
        s""", n$i AS MATERIALIZED (
             SELECT dst AS v2, min(label) AS nl
             FROM und JOIN l${i - 1} ON src = v GROUP BY dst),
           l$i AS MATERIALIZED (
             SELECT l.v,
                    least(l.label, coalesce(n$i.nl, l.label)) AS label
             FROM l${i - 1} l LEFT JOIN n$i ON l.v = n$i.v2)"""
      }.mkString
      s"""WITH e0 AS MATERIALIZED (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
         und AS MATERIALIZED (
           SELECT pa AS src, pb AS dst FROM e0
           UNION ALL SELECT pb, pa FROM e0),
         l0 AS MATERIALIZED (
           SELECT DISTINCT src AS v, src AS label FROM und)
         $rounds,
         sz AS (
           SELECT label, CAST(count(*) AS BIGINT) AS size
           FROM l16 GROUP BY 1)
         SELECT size, CAST(count(*) AS BIGINT) AS n_components
         FROM sz GROUP BY 1 ORDER BY 1"""
    },
    "q312_pagerank" -> {
      // the 5 synchronous rounds unrolled, each with the SAME 12dp
      // per-contribution rounding as the Spark loop; the (1−d)/n
      // literal is written as (1.0 - 0.85)/n so the binary double
      // matches Scala's (1.0 - damping)
      val rounds = (1 to 5).map { i =>
        s""", c$i AS (
             SELECT dst, CAST(round(pr / CAST(deg AS DOUBLE), 12)
               AS DECIMAL(38,12)) AS c
             FROM und JOIN pr${i - 1} ON src = v JOIN deg USING (src)),
           pr$i AS (
             SELECT dst AS v,
                    (1.0 - 0.85) / n + 0.85 * CAST(sum(c) AS DOUBLE)
                      AS pr
             FROM c$i CROSS JOIN nn GROUP BY dst, n)"""
      }.mkString
      s"""WITH e0 AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
         und AS (
           SELECT pa AS src, pb AS dst FROM e0
           UNION ALL SELECT pb, pa FROM e0),
         deg AS (
           SELECT src, CAST(count(*) AS BIGINT) AS deg
           FROM und GROUP BY 1),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         pr0 AS (SELECT src AS v, 1.0 / n AS pr FROM deg CROSS JOIN nn)
         $rounds
         SELECT v, round(pr * 1000, 6) AS pr_permille
         FROM pr5 ORDER BY v"""
    },
    "q310_copurchase_edges" ->
      """SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                CAST(count(DISTINCT a.l_orderkey) AS BIGINT)
                  AS n_orders
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2
         ORDER BY 1, 2""",
    "q311_triangles" ->
      """WITH e AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
         deg AS (
           SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
             SELECT pa AS v FROM e
             UNION ALL SELECT pb FROM e) t GROUP BY 1),
         w AS (
           SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT)
                    AS n_wedges,
                  CAST(count(*) AS BIGINT) AS n_vertices
           FROM deg),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         tri AS (
           SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM e e1 JOIN e e2 ON e1.pb = e2.pa
           WHERE EXISTS (SELECT 1 FROM e e3
                         WHERE e3.pa = e1.pa AND e3.pb = e2.pb))
         SELECT n_vertices, n_edges, n_wedges, n_triangles,
                CAST((n_triangles * 3 * 20000 + greatest(n_wedges, 1))
                     // (2 * greatest(n_wedges, 1)) AS DOUBLE) / 10000
                  AS transitivity
         FROM ne, w, tri""",
    "q305_partition_advisor" ->
      """WITH li AS (
           SELECT 'lineitem' AS table_name,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(count(*) * 81 AS BIGINT) AS est_bytes
           FROM lineitem),
         doc AS (
           SELECT 'documents',
                  CAST(count(*) AS BIGINT),
                  CAST(sum(strlen(text) + 40) AS BIGINT)
           FROM documents),
         u AS (SELECT * FROM li UNION ALL SELECT * FROM doc)
         SELECT table_name, n_rows, est_bytes,
                greatest((est_bytes + 134217727) // 134217728, 1)
                  AS recommended_partitions
         FROM u ORDER BY 1""",
    "q307_sample_bias" ->
      """WITH base AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(concat('0x', substr(md5(CAST(o_orderkey
                    AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
           FROM orders),
         f AS (
           SELECT CAST(count(*) AS BIGINT) AS n_full,
                  CAST(sum(cents) AS BIGINT) AS s_full
           FROM base),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n_sample,
                  CAST(sum(cents) AS BIGINT) AS s_sample
           FROM base WHERE bucket < 429496730)
         SELECT n_full, n_sample,
                CAST((s_full * 200 + n_full * 100)
                     // (2 * n_full * 100) AS DOUBLE) / 100
                  AS mean_full,
                CAST((s_sample * 200 + n_sample * 100)
                     // (2 * n_sample * 100) AS DOUBLE) / 100
                  AS mean_sample,
                CAST((n_sample * 10000 * 2 + n_full)
                     // (2 * n_full) AS DOUBLE) / 10000
                  AS sample_fraction
         FROM f, m""",
    "q304_join_cardinality" ->
      """WITH a AS (
           SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
           FROM orders GROUP BY 1),
         b AS (
           SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
           FROM lineitem GROUP BY 1),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_left FROM a),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_right
                FROM b),
         j AS (
           SELECT CAST(count(*) AS BIGINT) AS n_matching_keys,
                  CAST(sum(ca * cb) AS BIGINT) AS join_rows,
                  max(struct_pack(p := ca * cb, nk := -k)) AS hot
           FROM a JOIN b USING (k))
         SELECT n_keys_left, n_keys_right, n_matching_keys, join_rows,
                -hot.nk AS hottest_key, hot.p AS hottest_rows
         FROM j, na, nb""",
    "q301_supply_degree" ->
      """WITH pairs AS (
           SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         deg AS (
           SELECT l_partkey, CAST(count(*) AS BIGINT) AS degree
           FROM pairs GROUP BY 1)
         SELECT degree, CAST(count(*) AS BIGINT) AS n_parts
         FROM deg GROUP BY 1 ORDER BY 1""",
    "q299_skyline" ->
      """WITH ext AS (
           SELECT max(CAST(o_orderdate AS DATE)) AS as_of
           FROM orders),
         cust AS (
           SELECT o_custkey,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2))
                    * 100 AS BIGINT)) AS BIGINT) AS spend_cents,
                  CAST(date_diff('day',
                    max(CAST(o_orderdate AS DATE)), as_of) AS BIGINT)
                    AS recency_days
           FROM orders, ext GROUP BY o_custkey, as_of),
         w AS (
           SELECT *,
                  min(recency_days) OVER (ORDER BY spend_cents
                    RANGE BETWEEN 1 FOLLOWING
                    AND UNBOUNDED FOLLOWING) AS ba,
                  min(recency_days) OVER (PARTITION BY spend_cents)
                    AS bp
           FROM cust)
         SELECT o_custkey,
                CAST(spend_cents AS DOUBLE) / 100 AS total_spend,
                recency_days
         FROM w
         WHERE (ba IS NULL OR ba > recency_days)
           AND recency_days = bp
         ORDER BY o_custkey""",
    "q290_order_gaps" ->
      """WITH g AS (
           SELECT o_custkey, o_orderkey,
                  CAST(date_diff('day',
                    lag(o_orderdate) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC),
                    o_orderdate) AS BIGINT) AS gap
           FROM orders),
         gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
         rk AS (
           SELECT o_custkey, gap,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY gap ASC, o_orderkey ASC) AS rn,
                  count(*) OVER (PARTITION BY o_custkey) AS n
           FROM gg),
         a AS (
           SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
                  CAST(sum(gap) AS BIGINT) AS sg,
                  CAST(max(CASE WHEN rn = (n + 1) // 2
                    THEN gap END) AS BIGINT) AS median_gap,
                  CAST(min(gap) AS BIGINT) AS min_gap,
                  CAST(max(gap) AS BIGINT) AS max_gap
           FROM rk GROUP BY 1)
         SELECT o_custkey, n_gaps,
                CAST((sg * 20000 + n_gaps) // (2 * n_gaps) AS DOUBLE)
                  / 10000 AS mean_gap,
                median_gap, min_gap, max_gap
         FROM a WHERE n_gaps >= 2 ORDER BY 1""",
    "q285_dup_orders" ->
      """SELECT o_custkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                CAST(count(*) AS BIGINT) AS n_dups,
                CAST(min(o_orderkey) AS BIGINT) AS first_order,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                  AS DOUBLE), 2) AS total_amount
         FROM orders GROUP BY 1, 2 HAVING count(*) > 1
         ORDER BY 1, 2""",
    "q287_referential_audit" ->
      """SELECT 'lineitem_without_order' AS edge,
                CAST(count(*) AS BIGINT) AS n_orphans
         FROM lineitem WHERE NOT EXISTS (
           SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
         UNION ALL
         SELECT 'order_without_customer',
                CAST(count(*) AS BIGINT)
         FROM orders WHERE NOT EXISTS (
           SELECT 1 FROM customer WHERE c_custkey = o_custkey)
         UNION ALL
         SELECT 'lineitem_without_part',
                CAST(count(*) AS BIGINT)
         FROM lineitem WHERE NOT EXISTS (
           SELECT 1 FROM part WHERE p_partkey = l_partkey)
         ORDER BY 1""",
    "q283_price_quartiles" ->
      """WITH c AS (
           SELECT l_returnflag,
                  CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                    AS BIGINT) AS cents,
                  l_orderkey, l_linenumber
           FROM lineitem),
         rk AS (
           SELECT l_returnflag, cents,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY cents ASC, l_orderkey ASC,
                             l_linenumber ASC) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM c)
         SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
                CAST(max(CASE WHEN rn = (n * 1 + 3) // 4
                  THEN cents END) AS DOUBLE) / 100 AS p25,
                CAST(max(CASE WHEN rn = (n * 1 + 1) // 2
                  THEN cents END) AS DOUBLE) / 100 AS p50,
                CAST(max(CASE WHEN rn = (n * 3 + 3) // 4
                  THEN cents END) AS DOUBLE) / 100 AS p75,
                CAST(max(CASE WHEN rn = (n * 95 + 99) // 100
                  THEN cents END) AS DOUBLE) / 100 AS p95
         FROM rk GROUP BY 1 ORDER BY 1""",
    "q284_iqr_outliers" ->
      """WITH c AS (
           SELECT l_returnflag,
                  CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                    AS BIGINT) AS cents,
                  l_orderkey, l_linenumber
           FROM lineitem),
         rk AS (
           SELECT l_returnflag, cents,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY cents ASC, l_orderkey ASC,
                             l_linenumber ASC) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM c),
         b AS (
           SELECT l_returnflag AS flag,
                  CAST(max(CASE WHEN rn = (n * 1 + 3) // 4
                    THEN cents END) AS BIGINT) AS q1,
                  CAST(max(CASE WHEN rn = (n * 3 + 3) // 4
                    THEN cents END) AS BIGINT) AS q3
           FROM rk GROUP BY 1),
         j AS (
           SELECT c.l_returnflag, c.cents,
                  b.q1 * 2 - (b.q3 - b.q1) * 3 AS lo2,
                  b.q3 * 2 + (b.q3 - b.q1) * 3 AS hi2
           FROM c JOIN b ON c.l_returnflag = b.flag),
         g AS (
           SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN cents * 2 < lo2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                  CAST(sum(CASE WHEN cents * 2 > hi2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
           FROM j GROUP BY 1)
         SELECT l_returnflag, n, n_low, n_high,
                CAST(((n_low + n_high) * 20000 + n) // (2 * n)
                  AS DOUBLE) / 10000 AS outlier_share
         FROM g ORDER BY 1""",
    "q280_ltv_deciles" ->
      """WITH o AS (
           SELECT o_custkey,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2))
                    * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         spend AS (
           SELECT c_custkey, coalesce(cents, 0) AS cents
           FROM customer LEFT JOIN o ON c_custkey = o_custkey),
         t AS (
           SELECT cents,
                  CAST(ntile(10) OVER (ORDER BY cents DESC,
                    c_custkey ASC) AS BIGINT) AS decile
           FROM spend),
         g AS (
           SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
                  CAST(sum(cents) AS BIGINT) AS sc,
                  CAST(max(cents) AS BIGINT) AS mx,
                  CAST(min(cents) AS BIGINT) AS mn
           FROM t GROUP BY 1)
         SELECT decile, n_cust,
                CAST(sc AS DOUBLE) / 100 AS total_spend,
                CAST((sc * 200 + n_cust * 100)
                     // (2 * n_cust * 100) AS DOUBLE) / 100
                  AS avg_spend,
                CAST(mx AS DOUBLE) / 100 AS max_spend,
                CAST(mn AS DOUBLE) / 100 AS min_spend
         FROM g ORDER BY 1""",
    "q276_late_orders" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_late_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND CAST(l_shipdate AS DATE) >
                             CAST(o_orderdate AS DATE) + 90)
         GROUP BY 1 ORDER BY 1""",
    "q277_top_supplier" ->
      """WITH rev AS (
           SELECT n_name, s_suppkey, s_name,
                  sum(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,4))) AS revenue
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           GROUP BY 1, 2, 3),
         top AS (
           SELECT *, row_number() OVER (PARTITION BY n_name
             ORDER BY revenue DESC, s_suppkey ASC) AS rn
           FROM rev)
         SELECT n_name, s_suppkey, s_name,
                CAST(revenue AS DOUBLE) AS revenue
         FROM top WHERE rn = 1 ORDER BY n_name""",
    "q259_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(grouping(o_orderstatus) * 2
                     + grouping(o_orderpriority) AS BIGINT) AS gid,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                 ())
         ORDER BY gid, o_orderstatus, o_orderpriority""",
    "q256_small_qty_loss" ->
      """WITH pf AS (
           SELECT p_partkey FROM part WHERE p_brand = 'Brand#2'),
         lf AS (
           SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
                  CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                    AS BIGINT) AS cents
           FROM lineitem JOIN pf ON l_partkey = p_partkey),
         pa AS (
           SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(q) AS BIGINT) AS sq
           FROM lf GROUP BY 1),
         f AS (
           SELECT cents FROM lf JOIN pa ON l_partkey = pk
           WHERE q * 5 * n < sq),
         g AS (
           SELECT CAST(count(*) AS BIGINT) AS n_lines,
                  coalesce(CAST(sum(cents) AS BIGINT), 0) AS c
           FROM f)
         SELECT n_lines,
                CAST((c * 2 + 7) // 14 AS DOUBLE) / 100
                  AS avg_yearly_loss
         FROM g""",
    "q257_big_orders" ->
      """WITH big AS (
           SELECT l_orderkey,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                    AS total_qty
           FROM lineitem GROUP BY 1
           HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
         SELECT c_custkey, c_name, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                o_totalprice, total_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey
              JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    "q258_idle_rich" ->
      """WITH c AS (
           SELECT c_custkey, c_nationkey,
                  CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100
                    AS BIGINT) AS cents
           FROM customer),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS s
           FROM c WHERE cents > 0),
         r AS (
           SELECT c.c_nationkey, c.cents FROM c, a
           WHERE c.cents * a.n > a.s
             AND NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_orderdate >=
                                   TIMESTAMP '1998-01-01'))
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
                CAST(sum(cents) AS DOUBLE) / 100 AS total_bal
         FROM r GROUP BY 1 ORDER BY 1""")
}
