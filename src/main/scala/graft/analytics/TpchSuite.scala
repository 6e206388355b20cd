package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.ops.Exact.{meanOf, meanOfLong, moneySum, quant2}

/** The full TPC-H query suite (Q1–Q22), adapted to the synthetic
  * star schema (TESTDATA.md) — the densest public correctness corpus
  * for an analytics engine, here exercising every decorrelation,
  * join-order, and aggregate shape the canonical benchmark defines.
  *
  * Adaptations (the synthetic schema is a TPC-H SUBSET):
  *  - No `partsupp` table → [[partsupp]] derives one from lineitem
  *    with DETERMINISTIC integer columns (both engines compute the
  *    same derivation, so the oracle stays exact).
  *  - No commit/receipt dates → "late" = `l_shipdate > o_orderdate +
  *    60 days` (Q4, Q12, Q21); no ship modes → `l_returnflag` stands
  *    in as the mode dimension (Q12); no phone prefixes →
  *    `c_nationkey % 10` is the country code (Q22); no containers →
  *    `p_size` bands (Q19); no `p_name`/`o_comment` LIKE filters →
  *    brand/priority predicates of similar selectivity.
  *  - Canonical region/nation/brand CONSTANTS are remapped onto this
  *    data's domains (EUROPE/ASIA/AMERICA exist; nations are
  *    NATION_0..24).
  *
  * Every query keeps the canonical PLAN shape — that is the point:
  * scalar subqueries arrive decorrelated (aggregate-then-join, never
  * per-row), dimension tables broadcast, EXISTS/NOT EXISTS are
  * semi/anti joins, HAVING-over-global-scalar is a one-row broadcast
  * cross join. Money follows the repo's Exact discipline: sums via
  * [[moneySum]] (order-independent decimal accumulate), ratios as
  * integer micro-units via DIV — no engine-sensitive float anywhere.
  *
  * Reference for query semantics: TPC-H v3 specification (public).
  */
object TpchSuite {

  /** floor(x·100 + 0.5) as BIGINT — exact cents (pure-IEEE quantize,
    * identical in DuckDB; see Exact.scala). */
  private def cents(x: Column): Column =
    floor(x * lit(100.0) + lit(0.5)).cast("long")

  /** floor(x·10⁴ + 0.5) as BIGINT — tenth-mils, the resolution that
    * keeps `price·(1−disc)` products exact across engines. */
  private def tmil(x: Column): Column =
    floor(x * lit(10000.0) + lit(0.5)).cast("long")

  private def revTmil: Column =
    tmil(col("l_extendedprice") * (lit(1.0) - col("l_discount")))

  /** Derived PARTSUPP — the synthetic schema has no partsupp table,
    * so Q2/Q9/Q11/Q16/Q20 run against this deterministic projection
    * of lineitem: one row per (part, supplier) pair that ever traded,
    * `ps_availqty` = 7 × total quantity shipped, `ps_supplycost_cents`
    * = the cheapest observed unit price in integer cents (BIGINT DIV —
    * exact in both engines).
    *
    * MATERIALIZED ONCE per (session, data dir): the frame is memoized
    * and persisted on first use, so a suite run performs ONE lineitem
    * aggregate and every consumer (Q2 twice within its own plan, Q9,
    * Q11, Q16, Q20, and the SQL-text view) probes the in-memory
    * relation — the same implement-don't-document rule as giniInt /
    * reservoirK. An external `clearCache()` (the verify loop's
    * between-query release) only drops the storage; the next consumer
    * re-persists before use. At 100 TB this is a manifested bucketed
    * table keyed ps_partkey, written once per refresh.
    */
  def partsupp(t: Tables): DataFrame = {
    val df = psMemo.get(t.spark, t.dir)(
      t.lineitem
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg((sum(col("l_quantity")).cast("long") * 7).as("ps_availqty"),
          min(expr("CAST(floor(l_extendedprice*100.0+0.5) AS BIGINT) DIV " +
            "CAST(l_quantity AS BIGINT)")).as("ps_supplycost_cents")))
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  private val psMemo = new graft.core.SessionMemo[DataFrame]

  /** Run TPC-H query `i` (1..22) as DataFrame code. */
  def run(t: Tables, i: Int): DataFrame = Seq[Tables => DataFrame](
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11,
    q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22)(i - 1)(t)

  /** Q1 pricing summary: one wide partial-aggregable scan — every
    * measure is a map-side-combined sum/count; no shuffle beyond the
    * 6-group exchange. */
  def q01(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("sum_charge"),
        meanOfLong(col("l_quantity").cast("long")).as("avg_qty"),
        meanOf(col("l_extendedprice")).as("avg_price"),
        meanOf(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q2 minimum-cost supplier: the correlated `ps_supplycost = (SELECT
    * min ...)` subquery DECORRELATED into a per-part min aggregate
    * joined back on (part, cost) — one aggregate over the
    * region-filtered ps, never a per-row subquery. Dims broadcast. */
  def q02(t: Tables): DataFrame = {
    val eurSupp = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val psEur = partsupp(t)
      .join(eurSupp, col("ps_suppkey") === col("s_suppkey"))
    val minCost = psEur.groupBy(col("ps_partkey").as("mc_partkey"))
      .agg(min("ps_supplycost_cents").as("mc_cost"))
    t.part.filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .join(psEur, col("p_partkey") === col("ps_partkey"))
      .join(minCost, col("ps_partkey") === col("mc_partkey") &&
        col("ps_supplycost_cents") === col("mc_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("ps_supplycost_cents"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** Q3 shipping priority: segment-filtered customer dim broadcast
    * into the orders⋈lineitem join; top-10 under a total order. */
  def q03(t: Tables): DataFrame = {
    val cut = lit("1998-03-15").cast("timestamp")
    t.lineitem.filter(col("l_shipdate") > cut)
      .join(t.orders.filter(col("o_orderdate") < cut),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** Q4 order-priority checking: the canonical EXISTS is a LEFT SEMI
    * join (no commit/receipt dates here — "late" = shipped > 60 days
    * after ordering). */
  def q04(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      .join(t.lineitem,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** Q5 local-supplier volume: the classic 6-table star — all dims
    * broadcast, the extra `c_nationkey = s_nationkey` equi-arm rides
    * the same joins, one group-by-nation exchange at the end. */
  def q05(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders.filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** Q6 forecasting revenue change: pure scan-filter-aggregate — the
    * predicate must reach the parquet scan (PushedFilters). */
  def q06(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(moneySum(col("l_extendedprice") * col("l_discount"))
        .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Q7 volume shipping between two nations, both directions: nation
    * dims broadcast twice under different aliases. */
  def q07(t: Tables): DataFrame = {
    val n1 = t.nation.select(col("n_nationkey").as("n1_key"),
      col("n_name").as("supp_nation"))
    val n2 = t.nation.select(col("n_nationkey").as("n2_key"),
      col("n_name").as("cust_nation"))
    t.lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8 national market share: the share-of-total CASE ratio in exact
    * integer tenth-mils — numerator and denominator are the SAME
    * aggregate pass, divided once via DIV into micro-units. */
  def q08(t: Tables): DataFrame = {
    val dec = DecimalType(38, 0)
    t.lineitem
      .join(broadcast(t.part.filter(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(t.orders.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(t.supplier.select(col("s_suppkey"),
          col("s_nationkey").as("sn_key"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("sn_key2"),
          col("n_name").as("supp_nation"))),
        col("sn_key") === col("sn_key2"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3", revTmil)
          .otherwise(lit(0L))).cast(dec).as("num"),
        sum(revTmil).cast(dec).as("den"))
      .select(col("o_year"),
        expr("CAST(CASE WHEN den > 0 THEN (num * 1000000) div den END " +
          "AS BIGINT)").as("mkt_share_micro"))
      .orderBy("o_year")
  }

  /** Q9 product-type profit: revenue minus derived supply cost, all
    * in exact tenth-mil integers — a BIGINT sum per (nation, year). */
  def q09(t: Tables): DataFrame =
    t.lineitem
      .join(broadcast(t.part.filter(
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))),
        col("l_partkey") === col("p_partkey"))
      .join(partsupp(t), col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(t.orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(revTmil - col("ps_supplycost_cents") * lit(100L) *
        col("l_quantity").cast("long")).as("profit_tmil"))
      .orderBy(col("nation"), col("o_year").desc)

  /** Q10 returned-item reporting: top 20 by revenue under a total
    * order (tie-break on custkey). */
  def q10(t: Tables): DataFrame =
    t.lineitem.filter(col("l_returnflag") === "R")
      .join(t.orders.filter(
          col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Q11 important stock: HAVING-over-a-global-scalar decorrelated —
    * the global value is ONE broadcast row cross-joined in, the
    * fraction compare done in exact integers (value·10⁴ > global). */
  def q11(t: Tables): DataFrame = {
    val natPs = partsupp(t)
      .join(broadcast(t.supplier), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.filter(col("n_name") === "NATION_5")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("ps_partkey"),
        (col("ps_supplycost_cents") * col("ps_availqty")).as("v"))
    val global = natPs.agg(sum("v").as("global_cents"))
    natPs.groupBy("ps_partkey")
      .agg(sum("v").as("value_cents"))
      .crossJoin(broadcast(global))
      .filter(col("value_cents") * 10000L > col("global_cents"))
      .select("ps_partkey", "value_cents")
      .orderBy(col("value_cents").desc, col("ps_partkey"))
  }

  /** Q12 shipping modes & priority: returnflag stands in for the mode
    * dimension; one conditional-sum pass. */
  def q12(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_returnflag").isin("A", "N") &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag").as("ship_mode"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("ship_mode")

  /** Q13 customer order-count distribution: LEFT OUTER join with the
    * filter ON THE JOIN CONDITION (not a post-filter — customers with
    * only excluded orders must still count as zero), then a histogram
    * of counts. */
  def q13(t: Tables): DataFrame =
    t.customer
      .join(t.orders.filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q14 promotion effect: share of promo-part revenue as exact
    * integer micro-units of the same one-pass aggregate. */
  def q14(t: Tables): DataFrame = {
    val dec = DecimalType(38, 0)
    t.lineitem
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revTmil).otherwise(lit(0L)))
          .cast(dec).as("num"),
        sum(revTmil).cast(dec).as("den"),
        count(lit(1)).as("n_lines"))
      .select(
        expr("CAST(CASE WHEN den > 0 THEN (num * 1000000) div den END " +
          "AS BIGINT)").as("promo_share_micro"),
        col("n_lines"))
  }

  /** Q15 top supplier: the revenue view computed once, its max taken
    * as a one-row broadcast, equality-joined back — the canonical
    * view+scalar-subquery shape with zero recomputation. */
  def q15(t: Tables): DataFrame = {
    val rev = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(revTmil).as("total_rev_tmil"))
    val top = rev.agg(max("total_rev_tmil").as("max_rev"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_rev_tmil") === col("max_rev"))
      .join(broadcast(t.supplier), col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_tmil"))
      .orderBy("s_suppkey")
  }

  /** Q16 parts/supplier relationship: NOT IN (complaint suppliers) as
    * a broadcast ANTI join, exact count-distinct per group. */
  def q16(t: Tables): DataFrame =
    partsupp(t)
      .join(broadcast(t.supplier.filter(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("bad_supp"))),
        col("ps_suppkey") === col("bad_supp"), "left_anti")
      .join(broadcast(t.part.filter(col("p_brand") =!= "Brand#5" &&
          col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))),
        col("ps_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))

  /** Q17 small-quantity-order revenue: the correlated per-part AVG
    * decorrelated into one aggregate, the 0.2·avg compare kept in
    * exact integers (qty·5·n < Σqty). */
  def q17(t: Tables): DataFrame = {
    val brand = t.lineitem
      .join(broadcast(t.part.filter(col("p_brand") === "Brand#7")),
        col("l_partkey") === col("p_partkey"))
    val avgQ = brand.groupBy(col("l_partkey").as("ap_key"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_q"),
        count(lit(1)).as("n_q"))
    brand.join(avgQ, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity").cast("long") * 5L * col("n_q") <
        col("sum_q"))
      .agg(sum(tmil(col("l_extendedprice"))).as("sum_pt"),
        count(lit(1)).as("n_lines"))
      // integral div, NOT `/`: Column./ on longs is double division,
      // whose truncation can disagree with exact integer division at
      // scale — div is exact in both engines
      .select(expr("sum_pt div 7").as("weekly_tmil"), col("n_lines"))
  }

  /** Q18 large-volume customers: the HAVING subquery is one grouped
    * aggregate semi-joined back; output re-aggregates per order. */
  def q18(t: Tables): DataFrame = {
    val big = t.lineitem.groupBy(col("l_orderkey").as("big_okey"))
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .filter(col("total_qty") > 320L)
    t.orders.join(big, col("o_orderkey") === col("big_okey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q19 discounted revenue: three OR'd brand/size/quantity arms over
    * one equi-join — the OR stays a post-join filter on a broadcast
    * part dim, never three scans. */
  def q19(t: Tables): DataFrame =
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Q20 potential part promotion: the nested IN-with-aggregate as an
    * aggregate-join chain — 1997 shipments per (part, supplier), the
    * half-stock compare in integers, then a SEMI join up to
    * suppliers. */
  def q20(t: Tables): DataFrame = {
    val shipped = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_partkey").as("sh_pkey"),
        col("l_suppkey").as("sh_skey"))
      .agg(sum(col("l_quantity")).cast("long").as("sh_qty"))
    val excess = partsupp(t)
      .join(broadcast(t.part.filter(col("p_brand") === "Brand#4")
          .select(col("p_partkey").as("b4_pkey"))),
        col("ps_partkey") === col("b4_pkey"), "left_semi")
      .join(shipped, col("ps_partkey") === col("sh_pkey") &&
        col("ps_suppkey") === col("sh_skey"))
      .filter(col("ps_availqty") * 2L > col("sh_qty"))
    t.supplier
      .join(broadcast(t.nation.filter(col("n_name") === "NATION_4")),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(excess.select(col("ps_suppkey")),
        col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** Q21 suppliers who kept orders waiting: EXISTS → semi join on
    * (order, other-supplier) pairs, NOT EXISTS → anti join on the
    * late subset — the double-correlated subquery pair as two
    * distinct-key joins against the same late-lines frame. */
  def q21(t: Tables): DataFrame = {
    val ordersF = t.orders.filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val lines = t.lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ordersF, col("l_orderkey") === col("o_orderkey"))
    val late = lines
      .filter(col("l_shipdate") > col("o_orderdate") +
        expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey").as("okey"), col("l_suppkey").as("skey"))
    val anyPair = lines
      .select(col("l_orderkey").as("okey2"), col("l_suppkey").as("skey2"))
      .distinct()
    val latePair = late.distinct()
      .select(col("okey").as("okey3"), col("skey").as("skey3"))
    val l1 = late
      .join(t.supplier
          .join(broadcast(t.nation.filter(col("n_name") === "NATION_6")),
            col("s_nationkey") === col("n_nationkey"), "left_semi"),
        col("skey") === col("s_suppkey"))
    l1
      .join(anyPair, col("okey") === col("okey2") &&
        col("skey") =!= col("skey2"), "left_semi")
      .join(latePair, col("okey") === col("okey3") &&
        col("skey") =!= col("skey3"), "left_anti")
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Q22 global sales opportunity: the above-average-balance scalar
    * kept EXACT — compare cents·count > Σcents instead of a float
    * average — and NOT EXISTS as an anti join. Country code =
    * c_nationkey % 10 (no phone column in the synthetic schema), and
    * "no orders" reads as no orders SINCE 2000 (every synthetic
    * customer has some lifetime order — the lapsed-customer variant
    * keeps the anti join non-vacuous, same as t215). */
  def q22(t: Tables): DataFrame = {
    val codes = Seq(1, 3, 5, 7, 9).map(_.toString)
    val cust = t.customer
      .withColumn("cntrycode", pmod(col("c_nationkey"), lit(10))
        .cast("long").cast("string"))
      .filter(col("cntrycode").isin(codes: _*))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(sum(cents(col("c_acctbal"))).as("sum_cents"),
        count(lit(1)).as("n_pos"))
    cust
      .crossJoin(broadcast(avgBal))
      .filter(cents(col("c_acctbal")) * col("n_pos") > col("sum_cents"))
      .join(t.orders
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"),
        quant2(sum(cents(col("c_acctbal"))).cast("double") / lit(100.0))
          .as("totacctbal"))
      .orderBy("cntrycode")
  }
}
