package graft.pipes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ChFunctions._

/** Relational operator coverage (SURVEY.md §2.2/2.3/2.5/2.6/2.7) over the
  * harness star schema. Each query is shaped like one of the reference's
  * pipe nodes but exercises it on tables large enough to matter for the
  * bench (lineitem = 6 M rows at sf1).
  *
  * Scale notes inline; the common themes:
  *  - dims (region/nation/supplier/part/customer) are broadcast — no
  *    shuffle of the fact side for those joins;
  *  - aggregates are declared so map-side partials apply (sum/count/min/max);
  *  - fractional sums use ChFunctions.exactSum (integer-unit summation) so
  *    results are independent of partition count / merge order.
  */
object TpchPipes {

  /** TPC-H Q1 shape: multi-aggregate scan with group-by on two low-card
    * columns (A1/A3/A8). Only a single shuffle of tiny partial-agg rows. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice"), 2).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J1 inner equi-join fact⋈dim + group: revenue by market segment.
    * customer scales with SF, so no forced hint — the size-based
    * planner/AQE broadcasts it while it fits (it does at every bench
    * SF) and degrades to a shuffle join instead of an OOM when it
    * doesn't; orders never shuffles either way. Only the fixed-card
    * dims (nation 25 rows, region 5) keep literal broadcast() hints
    * in this file. */
  def mktsegmentRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("order_count"),
        exactSum(col("o_totalprice"), 2).as("total_revenue"))
      .orderBy(col("c_mktsegment"))

  /** TPC-H Q3 shape (shipping priority): selective filters on all three
    * tables, fact⋈fact⋈dim join, grouped revenue, global top-k. The
    * plan to want at scale: customer filtered then broadcast by the
    * PLANNER's choice, not a hint (the segment predicate shrinks it
    * before the exchange), both date
    * filters pushed to the parquet scans, lineitem⋈orders the only
    * real shuffle, and the top-k a TakeOrdered — never a global sort.
    * Revenue is integer-unit summed (exactSum), so the DESC ranking
    * and the LIMIT cut are deterministic; ties break on l_orderkey. */
  def q3ShippingPriority(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val cutoff = expr("TIMESTAMP '1998-01-01 00:00:00'")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** TPC-H Q5 shape: 5-way join lineitem⋈orders⋈customer⋈nation⋈region,
    * revenue by nation. All dims broadcast (customer by the planner's
    * size estimate — it scales with SF; nation/region by hint — fixed
    * card); the only shuffle is lineitem⋈orders on orderkey
    * (co-partitioned by AQE) + the final small agg. */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Argmin join (the TPC-H Q2 shape without partsupp): for every
    * part, the supplier that has delivered it at the lowest unit
    * price. Unit prices are floor-scaled to integer milli-units
    * before the min (engine-exact), the per-part argmin is a ranking
    * window with supplier tie-break, and the supplier dimension joins
    * by broadcast while it fits (planner's choice, no hint — supplier
    * scales with SF) — the "best row per group then enrich" pattern
    * with one fact shuffle total. */
  def cheapestSupplierPerPart(spark: SparkSession, dir: String): DataFrame = {
    val unit = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") / col("l_quantity") * 1000 + 0.5)
          .cast("long").as("price_milli"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("price_milli")).as("best_milli"))
    graft.functions.ChFunctions.limitBy(unit, 1, Seq(col("l_partkey")),
        Seq(col("best_milli").asc, col("l_suppkey").asc))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("s_name"),
        (col("best_milli") / lit(1000.0)).as("best_unit_price"))
      .orderBy("l_partkey")
  }

  /** TPC-H Q7 shape (volume shipping): revenue between supplier-nation
    * and customer-nation PAIRS — the one join topology the rest of the
    * suite lacks: the SAME dimension joined twice under different
    * roles (nation as seller vs nation as buyer, disambiguated by
    * alias). Both nation copies broadcast by hint (fixed card); the
    * customer/supplier entity dims broadcast by the planner's size
    * estimate (SF-scaled, no hint); the only real shuffle is
    * lineitem⋈orders, then a tiny pair-matrix aggregation. */
  def nationTradeFlows(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val cn = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
    val sn = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(cn, col("c_nationkey") === col("cn_key"))
      .join(sn, col("s_nationkey") === col("sn_key"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(count(lit(1)).as("n_items"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy("supp_nation", "cust_nation")
  }

  /** TPC-H Q8 shape (national market share): within one region's
    * customer base and one part type, the share of yearly trade
    * volume supplied by a chosen nation — the ratio-of-conditional-
    * aggregate-to-total pattern over the suite's widest join
    * (lineitem⋈part⋈orders⋈customer⋈nation⋈region⋈supplier⋈nation).
    * Numerator and denominator come out of ONE aggregation pass as
    * integer-unit sums (no second scan, no window), and the share is
    * a post-agg projection — deterministic double division of two
    * exact longs, floor-rounded like every ratio in the suite.
    * Scale: part and region filters shrink their dims BEFORE the
    * broadcast; lineitem⋈orders is the only shuffle. customer/part/
    * supplier broadcast by the planner's size estimate (SF-scaled, no
    * hint); nation/region by hint. */
  def q8MarketShare(spark: SparkSession, dir: String,
                    region: String = "AMERICA", partType: String = "ECONOMY",
                    suppNation: String = "NATION_7"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_regionkey"))
    val r = broadcast(Tables.region(spark, dir)
      .filter(col("r_name") === region).select("r_regionkey"))
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === partType).select("p_partkey")
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("sn_key"))
    val sn = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_nationkey"), col("n_name").as("supp_nation")))
    val volUnits = units(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(sn, col("sn_key") === col("sn_nationkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === suppNation, volUnits).otherwise(0L))
          .as("nation_units"),
        sum(volUnits).as("total_units"))
      .select(col("o_year"),
        (col("nation_units") / 10000.0).as("nation_volume"),
        (col("total_units") / 10000.0).as("total_volume"),
        floorRound(col("nation_units") / col("total_units"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Native pivot: order counts per priority × status, via the
    * DataFrame pivot API with EXPLICIT pivot values — at scale, the
    * explicit list is the difference between one pass and a
    * values-discovery pre-query; the plan is the same conditional
    * aggregation orders_status_matrix writes by hand. */
  def ordersPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_finished"),
        coalesce(col("P"), lit(0L)).as("n_pending"))
      .orderBy("o_orderpriority")

  /** The pivot's inverse — native UNPIVOT (melt): the wide
    * status-matrix back to long (priority, status, n) form, the reshape
    * every BI export needs. Spark's Expand-based unpivot emits the 3
    * long rows per wide row in one pass, no join and no union of 3
    * self-reads; runs on the pivot's own output so the pair is
    * round-trip-testable. */
  def ordersUnpivot(spark: SparkSession, dir: String): DataFrame =
    ordersPivot(spark, dir)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_open"), col("n_finished"), col("n_pending")),
        "status_col", "n")
      .withColumn("o_orderstatus",
        when(col("status_col") === "n_open", "O")
          .when(col("status_col") === "n_finished", "F")
          .otherwise("P"))
      .select("o_orderpriority", "o_orderstatus", "n")
      .orderBy("o_orderpriority", "o_orderstatus")

  /** Global top-k (O1 + limit): top 10 customers by order value. The sort
    * after aggregation is on ~#customers rows, and Spark's Limit uses a
    * TakeOrdered physical op — no full global sort materialization. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(exactSum(col("o_totalprice"), 2).as("total_spent"),
        count(lit(1)).as("order_count"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(10)

  /** P10/J8 — `id NOT IN (subquery)` as a left-anti join
    * (users_api_batch.pipe:33): customers with no orders. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** J9 — semi-join: customers having at least one high-value order. */
  def customersWithBigOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** P11/C1 — scalar-subquery predicate (users_api_batch.pipe:6,22):
    * orders above 90% of the max order value. max is exact on doubles, so
    * the threshold is bit-identical across engines. */
  def highValueOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val mx = o.agg(max(col("o_totalprice")).as("__max"))
    o.crossJoin(broadcast(mx))
      .filter(col("o_totalprice") > col("__max") * 0.9)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** J4 left outer join + conditional aggregation: per-customer order
    * stats including customers with no orders (count = 0). */
  def customerOrderStats(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("order_count"),
        exactSum(coalesce(col("o_totalprice"), lit(0.0)), 2).as("total_spent"))
      .orderBy("c_custkey")
  }

  /** A6/O3 — conditional-count matrix with custom CASE ranking
    * (passengers_by_flight_status.pipe:8-17,29-38): order status counts
    * per priority, ordered by hand-ranked priority. */
  def ordersStatusMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("fulfilled"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("open"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("pending"))
      .orderBy(
        when(col("o_orderpriority") === "1-URGENT", 1)
          .when(col("o_orderpriority") === "2-HIGH", 2)
          .when(col("o_orderpriority") === "3-MEDIUM", 3)
          .otherwise(4),
        col("o_orderpriority"))

  /** U1 — UNION ALL of two differently-filtered projections, unified
    * by name (users_api_batch.pipe:40-44). */
  def unionHighLowParts(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val high = p.filter(col("p_size") >= 40)
      .select(col("p_partkey"), col("p_name"), lit("large").as("bucket"))
    val low = p.filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_name"), lit("small").as("bucket"))
    high.unionByName(low).orderBy("p_partkey")
  }

  /** P3 — `SELECT * EXCEPT (…)` as DataFrame drop (users_api_batch.pipe:40,43). */
  def partsExcept(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .drop("p_retailprice", "p_brand")
      .filter(col("p_size") > 45)
      .orderBy("p_partkey")

  /** J7 — CROSS JOIN as scalar-attach (flights_missed_pct_minute.pipe:53-55):
    * each region with the global nation count. */
  def regionsCross(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir)
    val total = Tables.nation(spark, dir).agg(count(lit(1)).as("nation_total"))
    r.crossJoin(broadcast(total)).select("r_regionkey", "r_name", "nation_total")
      .orderBy("r_regionkey")
  }

  /** GROUP BY ROLLUP — subtotal/grand-total lattice over two dims (not
    * in the reference's surface; part of a complete analytics engine).
    * Null ordering pinned to NULLS FIRST on both engines. */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice"), 2).as("revenue"))
      .orderBy(col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** GROUP BY CUBE — the full subtotal lattice (rollup's sibling). */
  def lineitemCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Per-group top-k (LIMIT n BY with n>1 — the general form of the
    * reference's LIMIT 1 BY): top 3 orders by value per market segment. */
  def top3OrdersPerSegment(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
    limitBy(joined, 3, Seq(col("c_mktsegment")),
        Seq(col("o_totalprice").desc, col("o_orderkey")))
      .orderBy(col("c_mktsegment"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** §2.8 scalar-function showcase over lineitem: date_trunc, interval
    * arithmetic, coalesce/nullif, round, CASE, fixed-string padding. */
  def scalarFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        toStartOfDay(col("l_shipdate")).cast("timestamp_ntz").as("ship_day"),
        (col("l_shipdate") + interval(hours = lit(12))).cast("timestamp_ntz").as("ship_noon"),
        subtractHours(col("l_shipdate"), 24).cast("timestamp_ntz").as("ship_prev"),
        toYYYYMM(col("l_shipdate")).as("ship_yyyymm"),
        floorRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("net_price"),
        coalesce(nullIf(col("l_returnflag"), lit("N")), lit("~")).as("flag_or_tilde"),
        toFixedString(col("l_linestatus"), 2).as("status_fixed"),
        when(col("l_quantity") >= 25, "bulk").otherwise("retail").as("order_class"))
      .orderBy("l_orderkey", "l_linenumber")
  /** TPC-H Q4 shape (order priority checking): the EXISTS-correlated
    * subquery — orders that had at least one line shipped more than 60
    * days after the order date — decorrelated to a LEFT SEMI join whose
    * condition mixes the equi key with a residual non-equi predicate
    * comparing both sides' columns. The semi join is the plan to want
    * at scale: lineitem carries only (orderkey, shipdate) into the
    * exchange, each order is emitted at most once with no distinct
    * step, and the date window on orders is pushed to the parquet
    * scan. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val lo = expr("TIMESTAMP '1996-01-01 00:00:00'")
    val hi = expr("TIMESTAMP '1996-07-01 00:00:00'")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    o.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): a correlated
    * scalar AVG subquery — lines whose quantity is below 20% of their
    * part's average — decorrelated into one per-part aggregate joined
    * back to the lines. The 0.2·avg comparison runs in pure integer
    * arithmetic (qc·n·5 < sum_qc ⟺ qty < sum/(5n)): no float average
    * exists anywhere, so the verdict per line is partition-order
    * invariant and engine-exact. Scale: the brand filter shrinks part
    * BEFORE the join, lineitem never shuffles for the dim join at
    * bench SF, and the per-part stats frame (≤ one row per filtered
    * part) re-attaches to the lines. Neither side is hinted: one
    * brand's slice of a 100 TB part table is still tens of millions
    * of rows, so whether it broadcasts is AQE's runtime call. */
  def q17SmallQuantityRevenue(spark: SparkSession, dir: String,
                              brand: String = "Brand#13"): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select("p_partkey")
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("qc"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pc"))
      .join(p, col("l_partkey") === col("p_partkey"))
    val stats = lines.groupBy(col("l_partkey").as("ap"))
      .agg(sum(col("qc")).as("sum_qc"), count(lit(1)).as("n"))
    lines.join(stats, col("l_partkey") === col("ap"))
      .filter(col("qc") * col("n") * lit(5L) < col("sum_qc"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("pc")) / 700.0).as("avg_yearly"))
  }
  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    * OR of brand×size×quantity conjunctions spanning BOTH join sides.
    * The scale lesson is the derived pushdown: the disjunction's
    * union-of-brands filter is applied to part BEFORE the join
    * (Catalyst does not factor common terms out of cross-table ORs),
    * so the build side ships 3 brands' parts instead of the dimension,
    * while the full disjunction evaluates post-join inside codegen.
    * No hint — 3 brands of a 100 TB part table may not fit a
    * broadcast; AQE decides from the measured filtered size. */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brands = Seq("Brand#12", "Brand#23", "Brand#3")
    val p = Tables.part(spark, dir)
      .filter(col("p_brand").isin(brands: _*))
      .select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val disj =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(disj)
      .agg(count(lit(1)).as("n_lines"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
  }

  /** Relative standing inside a group: percent_rank and cume_dist of
    * every order's price within its priority class — the window-rank
    * surface (beyond row_number/ntile/lag/lead used elsewhere). One
    * shuffle on the partition key; ties broken by orderkey so both
    * engines rank identically. */
  def ordersPricePercentile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        floorRound(percent_rank().over(w), 6).as("pct_rank"),
        floorRound(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderkey")
  }
  /** TPC-H Q22 shape (global sales opportunity): customers whose
    * balance beats the GLOBAL average but who never placed a big
    * order — a scalar aggregate subquery feeding a predicate, an anti
    * join, and a grouped rollup in one plan. The average comparison is
    * decorrelated into pure integers (bal_cents · n > sum_cents ⟺
    * bal > sum/n), so no float average exists and the verdict is
    * engine-exact. Scale: the stats frame is one row (broadcast), the
    * anti join's build side is the DISTINCT custkeys of big orders
    * (shrunk before the exchange), and the rollup groups a filtered
    * dimension — the fact table is touched once, for the key set. */
  def q22SalesOpportunity(spark: SparkSession, dir: String,
                          bigOrder: Double = 300000): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_cents"))
    val stats = c.agg(sum(col("bal_cents")).as("sum_cents"),
      count(lit(1)).as("n"))
    val bigBuyers = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > bigOrder)
      .select(col("o_custkey")).distinct()
    c.crossJoin(broadcast(stats))
      .filter(col("bal_cents") * col("n") > col("sum_cents"))
      .join(bigBuyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        (sum(col("bal_cents")) / 100.0).as("total_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q21 shape (suppliers who kept waiting): the DOUBLE-correlated
    * subquery — EXISTS and NOT EXISTS against the same fact table,
    * correlated on the equi key (orderkey) PLUS an inequality on a
    * second column (a DIFFERENT supplier's line) — the one correlation
    * topology the suite's other Q-shapes lack. This corpus has no
    * commit/receipt dates, so "failed" is a returned line
    * (l_returnflag = 'R') in a finished order: per supplier, lines
    * they returned where another supplier was ALSO in the order
    * (multi-supplier: EXISTS) but no OTHER supplier returned theirs
    * (sole blame: NOT EXISTS).
    *
    * Decorrelated into ONE left-semi join on orderkey: both
    * correlations become predicates on a per-order aggregate (at least
    * two suppliers, exactly one of them with a returned line), built in
    * two levels — first to the distinct (orderkey, suppkey) grain, then
    * per order — so it plans with no Expand and no window. The fact
    * table ships only (orderkey, suppkey, returnflag) into the
    * aggregate's exchange, every l1 row is emitted at most once, and
    * the supplier name attaches after the semi join shrinks the frame. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_returnflag")
    val l1 = li.filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderstatus") === "F").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_suppkey")
    // the semi/anti self-joins decorrelate to ONE per-order distinct-
    // supplier aggregate (round-15; guide: aggregate before you
    // shuffle): "∃ another supplier on the order" ⟺ n_supp ≥ 2, and
    // "no OTHER supplier returned" ⟺ the order has exactly one distinct
    // R-supplier (the candidate row is itself an R line, so it is that
    // one). The old shape scanned lineitem three times and shuffled the
    // instance stream through a semi AND an anti join; this shape scans
    // it twice and joins l1 against an order-keyed aggregate.
    // Round-16: the two countDistincts planned as ONE distinct-agg with
    // an Expand (every lineitem row duplicated through the shuffle, one
    // copy per distinct group). The two-level form aggregates to the
    // distinct (orderkey, suppkey) grain FIRST — map-side combinable,
    // no Expand, half the shuffled rows — then counts suppliers per
    // order on the already-tiny frame: count(*) == countDistinct(supp)
    // and sum(has_r) == countDistinct(case R then supp) by construction.
    // The first identity needs l_suppkey non-null (countDistinct skips
    // nulls, count(lit(1)) would count a null-supplier group); it holds
    // because TPC-H declares l_suppkey NOT NULL.
    val ord = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("__r"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("__n_supp"), sum(col("__r")).as("__n_r_supp"))
      .filter(col("__n_supp") >= 2 && col("__n_r_supp") === 1)
      .select(col("l_orderkey").as("o2"))
    l1
      .join(ord, col("l_orderkey") === col("o2"), "left_semi")
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q18 shape (large-volume orders): the IN-subquery-with-
    * HAVING pattern — orders whose total lineitem quantity exceeds the
    * threshold, enriched with the customer. The subquery decorrelates
    * to one map-side-combinable aggregate on the fact's own join key
    * (l_orderkey), so the "IN" is an equi-join of orders against a
    * pre-filtered aggregate — no per-order re-scan. Quantities are
    * integral doubles; their sums are exact integers in IEEE
    * arithmetic, hence partition-order-invariant without integer-unit
    * scaling.
    *
    * Scale: one lineitem shuffle on l_orderkey (shared by the HAVING
    * aggregate and the join — AQE co-partitions), customer un-hinted
    * (broadcasts while it fits). */
  def q18LargeOrders(spark: SparkSession, dir: String,
                     minQty: Double = 200.0): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q6 shape (forecast revenue change): the no-join baseline —
    * a tightly filtered scan with a single global aggregate. The whole
    * query is one parquet scan with ALL THREE predicates pushed to the
    * reader (date range prunable by row-group stats, discount band,
    * quantity cap) and a one-row partial-agg tree; at 100 TB this is
    * the shape whose cost is pure I/O, so the thing to verify is the
    * `PushedFilters` line, not the plan topology. Revenue =
    * Σ extendedprice·discount in integer 4dp units (order-invariant,
    * engine-exact). */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lo = expr("TIMESTAMP '1996-01-01 00:00:00'")
    val hi = expr("TIMESTAMP '1997-01-01 00:00:00'")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        exactSum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"))
  }

  /** TPC-H Q9 shape (product-type profit): a LIKE-contains filter on
    * the part name gating a 4-way join, profit grouped by supplier
    * nation × order year. No partsupp/supplycost in this corpus, so
    * profit is net revenue (extendedprice·(1−discount)) — the join
    * topology and the contains-filter pushdown are the Q9 content.
    * Scale: the substring filter shrinks part before its exchange
    * (contains can't prune row groups, but the dim is filtered before
    * the join either way); nation broadcast by hint; part/supplier
    * un-hinted (SF-scaled); lineitem⋈orders the one big shuffle. */
  def q9ProductProfit(spark: SparkSession, dir: String,
                      nameContains: String = "red"): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").contains(nameContains)).select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q10 shape (returned-item reporting): lost revenue per
    * customer from returned lines in one quarter, top 20. The selective
    * filters (return flag on the fact, one quarter of orders) run
    * before the joins; customer/nation enrich after the revenue frame
    * has shrunk to ≤ #customers rows; the top-k is a TakeOrdered. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val lo = expr("TIMESTAMP '1996-10-01 00:00:00'")
    val hi = expr("TIMESTAMP '1997-01-01 00:00:00'")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val n = broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q12 shape (shipping-mode priority audit), adapted — this
    * corpus has no l_shipmode/commit/receipt dates, so the "mode" is
    * l_linestatus and "late" is shipped > 30 days after the order
    * date. The Q12 content survives: a fact⋈fact join whose residual
    * predicate compares columns across sides, then a two-class
    * conditional count per group — one shuffle, one conditional agg. */
  def q12LatePriorityAudit(spark: SparkSession, dir: String): DataFrame = {
    val lo = expr("TIMESTAMP '1996-01-01 00:00:00'")
    val hi = expr("TIMESTAMP '1997-01-01 00:00:00'")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_orderkey", "l_linestatus", "l_shipdate")
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    li.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1).otherwise(0))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1).otherwise(0))
          .as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** TPC-H Q13 shape (customer order-count distribution): the
    * aggregate-of-an-aggregate histogram — orders per customer
    * (LEFT OUTER, so zero-order customers keep a bucket), then
    * customers per order-count. Two shuffles by construction: the
    * first on custkey carries (custkey) pairs only; the second groups
    * ≤ #distinct-counts rows. The priority exclusion stands in for
    * Q13's comment NOT LIKE. */
  def q13OrderCountDistribution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    Tables.customer(spark, dir).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14 shape (promo revenue share): the conditional-ratio
    * aggregate — % of one month's revenue from PROMO-type parts. Both
    * numerator and denominator come from ONE pass as integer-unit
    * longs (the q8 discipline); the percentage is a post-agg
    * projection, floor-rounded at 4dp. p_type='PROMO' exists verbatim
    * in this corpus, so no adaptation needed. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lo = expr("TIMESTAMP '1996-09-01 00:00:00'")
    val hi = expr("TIMESTAMP '1996-10-01 00:00:00'")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, dir).select("p_partkey", "p_type")
    val volUnits = units(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", volUnits).otherwise(0L))
          .as("promo_units"),
        sum(volUnits).as("total_units"))
      .select(
        (col("promo_units") / 10000.0).as("promo_revenue"),
        (col("total_units") / 10000.0).as("total_revenue"),
        // empty/zero-window guard: NULL instead of a div-by-zero Infinity
        // if the shipdate window is ever parameterized to match no rows
        when(col("total_units") > 0,
          floorRound(col("promo_units") * lit(100.0) / col("total_units"), 4))
          .as("promo_pct"))
  }

  /** TPC-H Q15 shape (top supplier): a scalar MAX over an aggregate
    * view joined back by EQUALITY — the tie-preserving argmax (unlike
    * limitBy's deterministic single winner). Revenue lives in integer
    * units end-to-end, so the equality join is engine-exact — the one
    * pattern where float revenue would silently drop ties. The rev
    * frame is ≤ #suppliers rows; its max is a 1-row broadcast. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val lo = expr("TIMESTAMP '1996-01-01 00:00:00'")
    val hi = expr("TIMESTAMP '1996-04-01 00:00:00'")
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_suppkey"))
      .agg(sum(units(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)).as("rev_units"))
    val mx = rev.agg(max(col("rev_units")).as("__mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_units") === col("__mx"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_units") / 10000.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16 shape (supplier-relationship counts): DISTINCT-count of
    * suppliers per (brand, type, size) over the observed part-supplier
    * relationships (lineitem's distinct pairs stand in for partsupp),
    * minus an excluded-supplier set (negative balance stands in for
    * complaints) — the distinct-agg + decorrelated NOT IN topology.
    * Scale: the pair frame dedups BEFORE the dim join (shrinks the
    * fact to ≤ |partsupp|), the exclusion is a left-anti against a
    * tiny frame, and countDistinct over the grouped pairs is exact.
    *
    * SF note: the complaints set (s_acctbal < 0) is EMPTY at sf0.001
    * (min balance 537.46) — the anti-join is a no-op at smoke scale and
    * only becomes load-bearing at sf0.01+ (where the correctness gate
    * runs, 6/100 suppliers negative). A smoke-only run does NOT cover
    * the exclusion path. */
  def q16SupplierRelationships(spark: SparkSession, dir: String,
                               excludeBrand: String = "Brand#15",
                               sizes: Seq[Int] = Seq(1, 9, 14, 19, 23, 36, 45, 49)): DataFrame = {
    val rel = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey").distinct()
    val complaints = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= excludeBrand && col("p_type") =!= "PROMO" &&
        col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    rel
      .join(complaints, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape (excess-supply correlation), adapted to this
    * schema — there is no partsupp table, so lineitem is the supply
    * evidence: a supplier DOMINATES a part when its shipped quantity
    * exceeds `share` of the part's total shipped quantity across all
    * suppliers. Per qualifying supplier: how many parts it dominates
    * and its widest share. The nested-subquery correlation
    * decorrelates into two aggregates joined on the part key — the
    * (supplier, part) totals and the part totals arrive co-partitioned
    * from the same shuffle key, and the comparison is a per-row
    * predicate, never a re-scan per supplier.
    *
    * share · total is an IEEE double product of a literal and an
    * exact-integer double — identical in any engine; the output share
    * is 4dp floor-rounded for display only (ranking uses counts). */
  def q20DominantSuppliers(spark: SparkSession, dir: String,
                           share: Double = 0.3): DataFrame = {
    val sp = Tables.lineitem(spark, dir)
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("supp_qty"))
    // part totals as a WINDOW over the (part, supplier) aggregate, not
    // a regroup + self-join: the join form re-expanded the sp subtree,
    // scanning + aggregating lineitem twice (round-15 before-plan: two
    // full scan→HashAggregate chains). The window re-partitions only
    // the partsupp-sized aggregate. Quantities are integral doubles,
    // so the window sum equals the regrouped sum exactly (each ≤ 50,
    // totals far under 2^53 — the q18 argument).
    val pt = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    sp.withColumn("part_qty", sum(col("supp_qty")).over(pt))
      .filter(col("supp_qty") > lit(share) * col("part_qty"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_parts_dominated"),
        floorRound(max(col("supp_qty") / col("part_qty")), 4).as("max_share"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("n_parts_dominated"), col("max_share"))
      .orderBy(col("n_parts_dominated").desc, col("s_suppkey"))
  }

  /** TPC-H Q11 shape (important stock), adapted — no partsupp table, so
    * shipped line value is the stock evidence: per-part value of the
    * lineitems sold by ONE nation's suppliers, keeping parts whose value
    * exceeds `fraction` of that nation's grand total. The Q11 topology
    * is the group-vs-global-scalar HAVING: one shuffle builds the
    * per-part aggregate, its 1-row global re-aggregate broadcasts back,
    * and the threshold is a per-row predicate — the scalar subquery
    * never rescans the fact.
    *
    * Scale: supplier⋈nation prunes the fact at the scan-side join
    * (broadcast dims), so only the chosen nation's ~1/25 of lineitem
    * shuffles. Value lives in integer units end-to-end; the
    * long > total·fraction comparison promotes to double, exact well
    * past 2^53 headroom at sf1000. */
  def q11ImportantStock(spark: SparkSession, dir: String,
                        nationName: String = "NATION_15",
                        fraction: Double = 0.0001): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === nationName)
      .select("s_suppkey")
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(units(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .as("value_units"))
    val total = perPart.agg(sum(col("value_units")).as("__total"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_units") > col("__total") * fraction)
      .select(col("p_partkey"), (col("value_units") / 10000.0).as("stock_value"))
      .orderBy(col("value_units").desc, col("p_partkey"))
  }

  /** TPC-H Q5 shape (local supplier volume): revenue per nation within
    * one region, counting only lines where the supplier and the
    * ordering customer share a nation. The "local" constraint is the
    * Q5 content — it lives as a residual equality on the supplier join
    * (c_nationkey = s_nationkey), not a separate filter pass.
    * Scale: lineitem⋈orders is the one fact shuffle; customer joins on
    * custkey (SF-scaled, planner-chosen); supplier is keyed by suppkey
    * with the nation equality as residual; nation⋈region broadcast and
    * pre-filtered to the region, so the nation probe also shrinks the
    * customer side before the fact join. Revenue integer-unit summed. */
  def q5LocalSupplierVolume(spark: SparkSession, dir: String,
                            regionName: String = "ASIA"): DataFrame = {
    val lo = expr("TIMESTAMP '1996-01-01 00:00:00'")
    val hi = expr("TIMESTAMP '1997-01-01 00:00:00'")
    val n = broadcast(
      Tables.nation(spark, dir)
        .join(Tables.region(spark, dir),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === regionName)
        .select("n_nationkey", "n_name"))
    val c = Tables.customer(spark, dir)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey", "n_name")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7 shape (volume shipping): bilateral trade between two
    * named nations by ship year — supplier nation on one side,
    * customer nation on the other, both directions kept. The nation
    * pair filter is applied per side BEFORE the fact join (each dim
    * broadcast pre-filtered to the 2 nations), so the fact shuffle
    * only carries lines touching either nation; the (A,B)|(B,A)
    * disjunction is a residual on the already-joined pair of
    * nation names, 2×2 at most.
    * Ref: the reference's flights dashboard joins two labeled copies
    * of the same dim the same way (origin/destination). */
  def q7VolumeShipping(spark: SparkSession, dir: String,
                       nationA: String = "NATION_12",
                       nationB: String = "NATION_10"): DataFrame = {
    val lo = expr("TIMESTAMP '1996-01-01 00:00:00'")
    val hi = expr("TIMESTAMP '1998-01-01 00:00:00'")
    val nations = Tables.nation(spark, dir)
      .filter(col("n_name").isin(nationA, nationB))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nations.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nations.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey", "cust_nation")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }
}
