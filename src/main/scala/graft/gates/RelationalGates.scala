package graft.gates

import graft.ops._
import Twins._

/** Relational operators (`graft.ops.Relational`), plus the plain
  * DataFrame shapes, skew and geo joins and exact aggregates that need no
  * other module. */
object RelationalGates {
  def gates: Seq[Gate] = Seq(
    Gate("q01_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         | ${mny("l_quantity")} AS sum_qty,
         | ${mny("l_extendedprice")} AS sum_base_price,
         | ${mny(rev)} AS sum_disc_price,
         | ${mny(rev + "*(1.0+l_tax)")} AS sum_charge,
         | ${mean("l_quantity")} AS avg_qty,
         | ${mean("l_discount")} AS avg_disc,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => Relational.pricingSummary(t.lineitem)),
    Gate("q02_filter_pushdown",
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |  AND l_quantity <= 2.0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin,
      t => Relational.filterPushdown(t.lineitem)),
    Gate("q03_segment_revenue",
      s"""SELECT c_mktsegment, ${mny(rev)} AS revenue,
         | count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.segmentRevenue(t.lineitem, t.orders, t.customer)),
    Gate("q04_region_revenue",
      s"""SELECT r_name, n_name, ${mny(rev)} AS revenue, count(*) AS n_lines
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => Relational.regionRevenue(t.lineitem, t.supplier, t.nation, t.region)),
    Gate("q05_exists_priority",
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 30.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.existsPriority(t.orders, t.lineitem)),
    Gate("q06_anti_no_orders",
      s"""SELECT c_mktsegment, count(*) AS n_customers, ${mean("c_acctbal")} AS avg_acctbal
         |FROM customer c
         |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |  AND o.o_orderdate >= TIMESTAMP '1998-01-01')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.antiNoOrders(t.customer, t.orders)),
    Gate("q07_order_count_hist",
      """WITH pc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, count(*) AS n_customers FROM pc GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.orderCountHistogram(t.customer, t.orders)),
    // full outer with both null arms non-vacuous: segment customers
    // vs finished-order counts, side indicator names each arm
    Gate("q50_full_outer",
      // q50 twin: identical pre-aggregated full outer + side indicator
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |o AS (SELECT o_custkey, count(*) AS n_orders FROM orders
        |  WHERE o_orderstatus = 'F' GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment, n_orders,
        |  CASE WHEN c_custkey IS NULL THEN 'orders_only'
        |       WHEN o_custkey IS NULL THEN 'customer_only'
        |       ELSE 'both' END AS side
        |FROM c FULL OUTER JOIN o ON o.o_custkey = c.c_custkey
        |ORDER BY custkey""".stripMargin,
      t => Relational.fullOuterActivity(t.customer, t.orders)),
    // grouped MODE with deterministic tie-break
    Gate("q51_mode",
      // q51 twin: counts + the same (n DESC, value) rank rule
      q51Sql,
      t => Relational.modeQuantity(t.lineitem)),
    // ratio-to-report: per-nation revenue share of the grand total --
    // integer-decimal sums on both levels, one exact share division
    Gate("q52_revenue_share",
      // q52 twin: identical integer-decimal sums at both levels, the
      // same single share division on exact operands
      """WITH g AS (SELECT n_name,
        |  sum(CAST(floor((l_extendedprice*(1.0-l_discount))*10000.0+0.5) AS DECIMAL(18,0))) AS revq
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  GROUP BY 1),
        |t AS (SELECT sum(revq) AS totq FROM g)
        |SELECT n_name,
        |  floor(CAST(revq AS DOUBLE)/10000.0*100.0+0.5)/100.0 AS revenue,
        |  floor(CAST(revq AS DOUBLE)/CAST(totq AS DOUBLE)*1000000.0+0.5)/1000000.0 AS share
        |FROM g CROSS JOIN t ORDER BY n_name""".stripMargin,
      t => Relational.revenueShareByNation(t.lineitem, t.supplier, t.nation)),
    // CUBE over both dims (rollup's sibling; one-pass Expand)
    Gate("q53_cube_qty",
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         | ${mny("l_quantity")} AS sum_qty, count(*) AS n_lines
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      t => Relational.cubeQty(t.lineitem)),
    // PIVOT with declared values: wide per-linestatus revenue columns
    Gate("q54_pivot_revenue",
      // q54 twin: the pivot as portable conditional aggregation — the
      // same exact integer-decimal money sums per declared value
      s"""SELECT l_returnflag,
         | coalesce(floor(CAST(sum(CASE WHEN l_linestatus = 'F'
         |   THEN CAST(floor(($rev)*10000.0+0.5) AS DECIMAL(18,0)) END) AS DOUBLE)
         |   /10000.0*100.0+0.5)/100.0, 0.0) AS rev_f,
         | coalesce(floor(CAST(sum(CASE WHEN l_linestatus = 'O'
         |   THEN CAST(floor(($rev)*10000.0+0.5) AS DECIMAL(18,0)) END) AS DOUBLE)
         |   /10000.0*100.0+0.5)/100.0, 0.0) AS rev_o
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.pivotRevenue(t.lineitem)),
    // UNPIVOT (melt): the wide columns back to rows — one Expand,
    // zero shuffle; round-trips q54 under the gate
    Gate("q55_unpivot_revenue",
      // q55 twin: the q54 aggregation melted by a two-arm UNION ALL
      s"""WITH wide AS (SELECT l_returnflag,
         | coalesce(floor(CAST(sum(CASE WHEN l_linestatus = 'F'
         |   THEN CAST(floor(($rev)*10000.0+0.5) AS DECIMAL(18,0)) END) AS DOUBLE)
         |   /10000.0*100.0+0.5)/100.0, 0.0) AS rev_f,
         | coalesce(floor(CAST(sum(CASE WHEN l_linestatus = 'O'
         |   THEN CAST(floor(($rev)*10000.0+0.5) AS DECIMAL(18,0)) END) AS DOUBLE)
         |   /10000.0*100.0+0.5)/100.0, 0.0) AS rev_o
         |FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, metric, revenue FROM (
         |  SELECT l_returnflag, 'rev_f' AS metric, rev_f AS revenue FROM wide
         |  UNION ALL
         |  SELECT l_returnflag, 'rev_o', rev_o FROM wide)
         |ORDER BY l_returnflag, metric""".stripMargin,
      t => Relational.unpivotRevenue(t.lineitem)),
    // correlated scalar subquery, decorrelated by Catalyst into one
    // aggregate + one equi-join (no per-row re-execution; the plan is
    // spec-asserted) — orders priced above their customer's average
    Gate("q56_correlated_subquery",
      // q56 twin: the SAME correlated-scalar-subquery text — DuckDB
      // decorrelates identically, and the exact integer-quantized mean
      // makes the averages bit-identical
      """SELECT o_orderkey, o_custkey, price, cust_avg FROM (
        |  SELECT o1.o_orderkey, o1.o_custkey,
        |    CAST(floor(o1.o_totalprice * 100.0 + 0.5) / 100.0 AS DOUBLE) AS price,
        |    CAST((SELECT floor(CAST(sum(CAST(floor(o2.o_totalprice * 1000000.0 + 0.5)
        |         AS DECIMAL(18,0))) AS DOUBLE) / 1000000.0 / count(*) * 10000.0 + 0.5) / 10000.0
        |     FROM orders o2 WHERE o2.o_custkey = o1.o_custkey) AS DOUBLE) AS cust_avg
        |  FROM orders o1)
        |WHERE price > cust_avg
        |ORDER BY o_orderkey""".stripMargin,
      t => Relational.priceAboveCustomerAvg(t.orders)),
    // RANGE-framed window: trailing 30 CALENDAR days by date value
    // (not 30 rows), integer day-number frame, all-integer window math
    Gate("q57_range_frame",
      // q57 twin: the same integer day-number RANGE frame
      q57Sql,
      t => Relational.rolling30dOrders(t.orders)),
    // exact grouped median from per-value COUNTS — rank math over the
    // <=50-row histogram, never a fact-table sort
    Gate("q58_exact_median",
      // q58 twin: identical histogram rank math — cumulative counts,
      // min value reaching each middle rank, two-value average
      q58Sql,
      t => Relational.exactMedianQty(t.lineitem)),
    // EWMA (alpha = 1/2) of per-series daily counts: one corpus pass
    // to the per-day histogram, then an in-task sequential fold over
    // each series' sorted |days| array — bit-identical halving
    Gate("t150_ewma",
      // t150 twin: list_reduce seeds with the first element and folds
      // left — exactly the engine's slice-and-seed aggregate
      """WITH daily AS (SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS dt,
        |    CAST(count(*) AS DOUBLE) AS x
        |  FROM lineitem GROUP BY 1, 2),
        |arr AS (SELECT rf, list(x ORDER BY dt) AS a FROM daily GROUP BY rf)
        |SELECT rf, list_reduce(a, (acc, x) -> (acc + x) / 2.0) AS ewma
        |FROM arr ORDER BY rf""".stripMargin,
      t => Relational.ewmaDailyQty(t.lineitem)),
    // incremental connected components: half the co-purchase edges
    // labeled first, the other half FOLDED in — new edges contract
    // onto current components, propagation runs on the contracted
    // graph only; must equal the full-graph closure verbatim
    // per-group 2-sigma outlier counts with ZERO floating point: the
    // cross-multiplied integer test (n*x - S)^2 > 4n(nQ - S^2)
    Gate("t155_outliers",
      // t155 twin: the identical integer test in HUGEINT — nothing to
      // round on either side
      """WITH x AS (SELECT l_returnflag AS rf,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT) AS c
        |  FROM lineitem),
        |st AS (SELECT rf, CAST(count(*) AS HUGEINT) AS n, sum(c) AS s,
        |    sum(c * c) AS q
        |  FROM x GROUP BY 1)
        |SELECT x.rf, CAST(st.n AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN (st.n * x.c - st.s) * (st.n * x.c - st.s)
        |    > 4 * st.n * (st.n * st.q - st.s * st.s) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM x JOIN st ON st.rf = x.rf
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
      t => Relational.outlierCounts(t.lineitem)),
    // market-basket association rules: A-Priori-pruned pair support,
    // confidence and lift from exact integer products, one-row basket
    // total broadcast
    Gate("t154_market_basket",
      // t154 twin: identical pair/item supports, identical quantized
      // confidence and lift divisions
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nb AS (SELECT count(DISTINCT ok) AS nb FROM b),
        |isupp AS (SELECT pk, count(*) AS supp FROM b GROUP BY 1),
        |ps AS (SELECT a.pk AS pa, b2.pk AS pb, count(*) AS pair_supp
        |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT pa, pb, pair_supp,
        |  floor(CAST(pair_supp AS DOUBLE) / sa.supp * 1000000.0 + 0.5) / 1000000.0 AS conf_ab,
        |  floor(CAST(pair_supp AS DOUBLE) / sb.supp * 1000000.0 + 0.5) / 1000000.0 AS conf_ba,
        |  floor(CAST(pair_supp * nb.nb AS DOUBLE) / CAST(sa.supp * sb.supp AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS lift
        |FROM ps JOIN isupp sa ON sa.pk = ps.pa
        |JOIN isupp sb ON sb.pk = ps.pb CROSS JOIN nb
        |ORDER BY pa, pb""".stripMargin,
      t => Relational.marketBasket(t.lineitem)),
    // BLOOM-prefiltered join: the dim key set crosses as a broadcast
    // Bloom bitset, non-matching fact rows die on the scan side of
    // the shuffle; result bit-identical to the plain join
    Gate("t157_bloom_join",
      // t157 twin: the PLAIN join — the Bloom prefilter must be
      // result-invisible at any fpp
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         | ${mny("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7000.0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val dim = t.customer.filter(
          col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 7000.0)
        Skew.bloomFilteredJoin(t.orders, dim, "o_custkey", "c_custkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            graft.ops.Exact.moneySum(col("o_totalprice")).as("total_price"))
          .orderBy("o_orderpriority") }),
    // HEAVY HITTERS: Misra-Gries candidates per partition (O(k)
    // memory), exact recount of candidates only — the
    // full-cardinality groupBy never runs; planted heavy values
    // (low-quantity lines folded onto l_partkey % 7) sit over a long
    // rare tail
    Gate("t158_heavy_hitters",
      // t158 twin: the full-cardinality HAVING the sketch avoids
      """WITH x AS (SELECT CASE WHEN l_quantity <= 3.0 THEN l_partkey % 7
        |    ELSE l_partkey END AS v FROM lineitem)
        |SELECT v, count(*) AS cnt FROM x GROUP BY v
        |HAVING count(*) >= 400 ORDER BY cnt DESC, v""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, when}
        Relational.heavyHitters(t.lineitem,
          when(col("l_quantity") <= 3.0, col("l_partkey") % 7)
            .otherwise(col("l_partkey")), minCount = 400L) }),
    // DETERMINISTIC stratified sample: exactly 20 docs per language
    // by md5 rank of doc_id — reproducible across engines/retries,
    // no RNG state (the twin re-derives the identical sample)
    Gate("t159_stratified_sample",
      // t159 twin: the identical md5-rank sample re-derived
      """WITH r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 20
        |ORDER BY lang, doc_id""".stripMargin,
      t => {
        Relational.stratifiedSample(t.documents, "lang", "doc_id", 20)
        .select("doc_id", "lang").orderBy("lang", "doc_id") }),
    // 2-D SKYLINE (min price, max size): local sorted-sweep skylines
    // per range partition, then one tiny global sweep — no O(n²)
    // dominance join at any stage
    Gate("t160_skyline",
      // t160 twin: the O(n²) dominance definition the sweep replaces
      """WITH pts AS (SELECT DISTINCT CAST(p_retailprice AS DOUBLE) AS p_retailprice,
        |    CAST(p_size AS BIGINT) AS p_size FROM part)
        |SELECT p_retailprice, p_size FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_size""".stripMargin,
      t => Relational.skyline2D(t.part, "p_retailprice", "p_size")),
    // GRID-BUCKETED distance self-join: synthetic integer coords,
    // 3x3 neighbor-cell equi-join + exact Chebyshev filter — the
    // spatial/embedding-cell join with NO cross product (the twin IS
    // the quadratic predicate join)
    Gate("t162_grid_pairs",
      // t162 twin: the quadratic predicate join (DuckDB IEJoin) the
      // grid buckets replace
      """WITH p AS (SELECT c_custkey AS id,
        |    c_custkey * 48271 % 10007 % 300 AS x,
        |    c_custkey * 16807 % 10007 % 300 AS y FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b, b.x - a.x AS dx, b.y - a.y AS dy
        |FROM p a JOIN p b ON a.id < b.id
        |  AND b.x BETWEEN a.x - 4 AND a.x + 4
        |  AND b.y BETWEEN a.y - 4 AND a.y + 4
        |ORDER BY id_a, id_b""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val pts = t.customer.select(col("c_custkey").as("id"),
          (col("c_custkey") * 48271 % 10007 % 300).as("x"),
          (col("c_custkey") * 16807 % 10007 % 300).as("y"))
        GeoOps.chebyshevPairs(pts, d = 4) }),
    // K-ANONYMITY release: md5 pseudonyms, quasi-identifier groups
    // under k=10 suppressed wholesale, each surviving row carries its
    // group size as the anonymity evidence
    Gate("t163_k_anonymity",
      // t163 twin: same pseudonym map, same suppression rule
      """WITH r AS (SELECT md5(CAST(c_custkey AS VARCHAR)) AS pseud,
        |    c_nationkey AS nation,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |g AS (SELECT nation, bal_band, count(*) AS group_size FROM r
        |  GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT r.pseud, r.nation, r.bal_band, g.group_size
        |FROM r JOIN g USING (nation, bal_band)
        |ORDER BY pseud""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor}
        Relational.kAnonymize(t.customer, "c_custkey",
          Seq(col("c_nationkey"), floor(col("c_acctbal") / 1000.0).cast("long")),
          Seq("nation", "bal_band"), k = 10) }),
    // TOP-K AS AN AGGREGATE: bounded O(k) buffer per group with
    // map-side combine — each partition ships <= k entries per group
    // instead of the window-sort's every-row shuffle; twin is the
    // row_number form it replaces
    Gate("t164_topk_aggregate",
      // t164 twin: the window-sort form the bounded-buffer aggregate
      // replaces (identical deterministic (value DESC, id) order)
      """WITH r AS (SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |SELECT c_mktsegment, rnk, c_custkey, c_acctbal FROM r WHERE rnk <= 5
        |ORDER BY c_mktsegment, rnk""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{arrays_zip, col, posexplode}
        t.customer.groupBy("c_mktsegment")
          .agg(graft.functions.TopKAggregate.topK(5)(
            col("c_acctbal"), col("c_custkey")).as("tk"))
          .select(col("c_mktsegment"),
            posexplode(arrays_zip(col("tk.vs"), col("tk.ids"))))
          .select(col("c_mktsegment"), (col("pos") + 1).cast("long").as("rnk"),
            col("col.ids").as("c_custkey"), col("col.vs").as("c_acctbal"))
          .orderBy("c_mktsegment", "rnk") }),
    // per-group LEAST-SQUARES trend in exact integer sufficient
    // statistics (DECIMAL(38,0)); only the final division is float
    Gate("t166_linear_trend",
      // t166 twin: identical integer sufficient statistics in HUGEINT,
      // identical final quantized division
      """WITH x AS (SELECT l_returnflag AS grp,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS HUGEINT) AS x,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT) AS y
        |  FROM lineitem),
        |s AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM x GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS slope,
        |  floor(CAST(sy * sxx - sx * sxy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS intercept
        |FROM s ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, datediff, floor, lit, to_date}
        Relational.linearTrend(t.lineitem, col("l_returnflag"),
          datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).cast("long"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")) }),
    // KEY-SKEW PROFILE: exact collision mass and hottest-key bound
    // per candidate shuffle key — the pre-join planning statistic
    Gate("t167_key_skew",
      // t167 twin: per-key frequency tables, exact integer moments
      """WITH f1 AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |f2 AS (SELECT l_partkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |f3 AS (SELECT l_suppkey AS k, count(*) AS f FROM lineitem GROUP BY 1)
        |SELECT 'l_orderkey' AS key_name, CAST(sum(f) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys, CAST(sum(f * f) AS BIGINT) AS sum_f2,
        |  max(f) AS max_f FROM f1
        |UNION ALL
        |SELECT 'l_partkey', CAST(sum(f) AS BIGINT), count(*),
        |  CAST(sum(f * f) AS BIGINT), max(f) FROM f2
        |UNION ALL
        |SELECT 'l_suppkey', CAST(sum(f) AS BIGINT), count(*),
        |  CAST(sum(f * f) AS BIGINT), max(f) FROM f3
        |ORDER BY key_name""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        Relational.keySkewProfile(t.lineitem, Seq(
          "l_orderkey" -> col("l_orderkey"),
          "l_partkey" -> col("l_partkey"),
          "l_suppkey" -> col("l_suppkey"))) }),
    // INCREMENTAL MV MAINTENANCE: the t156-style change feed folded
    // into a grouped (count, cents-sum) materialized view — must
    // equal the full recompute (the twin) without re-reading the base
    Gate("t169_incremental_mv",
      // t169 twin: the FULL recompute over the mutated base — the
      // incremental fold must land on exactly these integers
      """WITH v2 AS (SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 97 = 7 THEN o_totalprice + 10.0
        |      ELSE o_totalprice END AS tp
        |  FROM orders WHERE o_orderkey % 691 <> 5)
        |SELECT o_orderpriority AS grp, count(*) AS n,
        |  CAST(sum(CAST(floor(tp * 100.0 + 0.5) AS HUGEINT)) AS BIGINT) AS s
        |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor, lit, to_date, when}
        val cut = to_date(lit("1996-01-01"))
        val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), col("o_orderdate"))
        val mut = base.withColumn("o_totalprice",
            when(col("o_orderkey") % 97 === 7, col("o_totalprice") + 10.0)
              .otherwise(col("o_totalprice")))
          .filter(col("o_orderkey") % 691 =!= 5)
        val v1 = base.filter(col("o_orderdate") < cut).drop("o_orderdate")
        val v2 = mut.drop("o_orderdate")
        val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
        val mv0 = v1.groupBy(col("o_orderpriority").as("grp"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
            org.apache.spark.sql.functions.sum(cents).as("s"))
        Relational.incrementalGroupSum(mv0,
            Relational.snapshotDiff(v1, v2, "o_orderkey"),
            col("o_orderpriority"), cents)
          .orderBy("grp") }),
    // NULL-SAFE equi-join (<=>): NULL keys MATCH each other — the
    // join SQL's = silently drops; still a hash join (EqualNullSafe
    // is a supported join key), never a nested loop
    Gate("q59_nullsafe_join",
      // q59 twin: IS NOT DISTINCT FROM — the ANSI spelling of <=>
      """WITH a AS (SELECT nullif(c_nationkey % 7, 3) AS k FROM customer),
        |b AS (SELECT nullif(s_nationkey % 7, 3) AS kb FROM supplier)
        |SELECT k, count(*) AS n_pairs
        |FROM a JOIN b ON k IS NOT DISTINCT FROM kb
        |GROUP BY k ORDER BY k NULLS FIRST""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, expr, lit}
        val a = t.customer.select(expr("nullif(c_nationkey % 7, 3)").as("k"))
        val b = t.supplier.select(expr("nullif(s_nationkey % 7, 3)").as("kb"))
        a.join(b, col("k") <=> col("kb"))
          .groupBy("k").agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("k").asc_nulls_first) }),
    // MULTISET set ops: EXCEPT ALL / INTERSECT ALL keep per-row
    // multiplicity (q13 gates the DISTINCT forms) — the reconcile
    // primitive for comparing two loads of the same feed
    Gate("q60_multiset_setops",
      // q60 twin: the ANSI multiset operators verbatim
      """WITH a AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 2 = 0),
        |b AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 3 = 0),
        |ea AS (SELECT p FROM a EXCEPT ALL SELECT p FROM b),
        |ia AS (SELECT p FROM a INTERSECT ALL SELECT p FROM b)
        |SELECT 'except_all' AS op, p AS o_orderpriority, count(*) AS n
        |FROM ea GROUP BY 2
        |UNION ALL
        |SELECT 'intersect_all' AS op, p AS o_orderpriority, count(*) AS n
        |FROM ia GROUP BY 2
        |ORDER BY op, o_orderpriority""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val a = t.orders.filter(col("o_orderkey") % 2 === 0).select("o_orderpriority")
        val b = t.orders.filter(col("o_orderkey") % 3 === 0).select("o_orderpriority")
        def cnt(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
            .select(lit(tag).as("op"), col("o_orderpriority"), col("n"))
        cnt(a.exceptAll(b), "except_all")
          .unionByName(cnt(a.intersectAll(b), "intersect_all"))
          .orderBy("op", "o_orderpriority") }),
    // TPC-H Q5-shaped snowflake: region→nation broadcast down a
    // 6-table star, date-range filter pushed to the orders scan,
    // customer and supplier co-located on nation — one plan, every
    // dim broadcast, the fact tables shuffle at most once
    Gate("q61_star_join",
      // q61 twin: the same 6-table snowflake as one SQL block
      s"""SELECT n_name, ${mny(rev)} AS revenue, count(*) AS n_lines
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= DATE '1994-01-01'
         |  AND o_orderdate < DATE '1996-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{broadcast, col, count, lit, to_date}
        val nat = t.nation.join(
          broadcast(t.region.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        val cust = t.customer.join(broadcast(nat),
          col("c_nationkey") === col("n_nationkey"))
        val ord = t.orders.filter(
          col("o_orderdate") >= to_date(lit("1994-01-01")) &&
          col("o_orderdate") < to_date(lit("1996-01-01")))
        ord.join(cust, col("o_custkey") === col("c_custkey"))
          .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .groupBy("n_name")
          .agg(graft.ops.Exact.moneySum(
              col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("n_name") }),
    // IGNORE NULLS window navigation: last_value carries the most
    // recent non-null observation forward (running frame),
    // first_value pins the partition's first non-null — the sparse-
    // column navigation SQL's plain first/last can't express
    Gate("q62_ignore_nulls",
      // q62 twin: the ANSI IGNORE NULLS window spelling
      q62Sql,
      t => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, first, last, when}
        val rows = t.orders.filter(col("o_custkey") % 50 === 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            when(col("o_totalprice") > 150000.0, col("o_orderpriority")).as("big_pri"))
        val ord = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        rows.select(col("o_custkey"), col("o_orderkey"),
            last("big_pri", ignoreNulls = true).over(run).as("last_big_pri"),
            first("big_pri", ignoreNulls = true).over(full).as("first_big_pri"))
          .orderBy("o_custkey", "o_orderkey") }),
    // LATEST ROW PER KEY over an out-of-order version stream: ONE
    // max_by aggregate (map-side combine ships <= |keys| rows per
    // partition) instead of the window-sort that shuffles every
    // version — the merge-on-read compaction kernel
    Gate("t170_latest_rows",
      // t170 twin: the window-sort form the one-pass aggregate replaces
      """WITH v AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal, CAST(0 AS BIGINT) AS seq
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'UPD1', c_acctbal + 10.0, 1 FROM customer
        |  WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'UPD2', c_acctbal + 20.0, 2 FROM customer
        |  WHERE c_custkey % 10 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY seq DESC) AS rn FROM v)
        |SELECT c_custkey, seq, c_mktsegment, c_acctbal FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, lit}
        val dim = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
        val versions = dim.withColumn("seq", lit(0L))
          .unionByName(dim.filter(col("c_custkey") % 5 === 0)
            .select(col("c_custkey"), lit("UPD1").as("c_mktsegment"),
              (col("c_acctbal") + 10.0).as("c_acctbal"), lit(1L).as("seq")))
          .unionByName(dim.filter(col("c_custkey") % 10 === 0)
            .select(col("c_custkey"), lit("UPD2").as("c_mktsegment"),
              (col("c_acctbal") + 20.0).as("c_acctbal"), lit(2L).as("seq")))
        Relational.latestRows(versions, "c_custkey", "seq")
          .orderBy("c_custkey") }),
    // REFERENTIAL-INTEGRITY audit: planted orphans (shifted FK
    // values) counted per declared FK — exactly the rows an inner
    // join would silently drop
    Gate("t171_fk_orphans",
      // t171 twin: NOT IN anti-joins over the same planted orphans
      """WITH li AS (SELECT CASE WHEN l_orderkey % 1009 = 17
        |      THEN l_orderkey + 100000000 ELSE l_orderkey END AS k FROM lineitem),
        |lpk AS (SELECT k, count(*) AS f FROM li GROUP BY 1),
        |lo AS (SELECT k, f FROM lpk WHERE k NOT IN (SELECT o_orderkey FROM orders)),
        |od AS (SELECT CASE WHEN o_orderkey % 997 = 13
        |      THEN o_custkey + 100000000 ELSE o_custkey END AS k FROM orders),
        |opk AS (SELECT k, count(*) AS f FROM od GROUP BY 1),
        |oo AS (SELECT k, f FROM opk WHERE k NOT IN (SELECT c_custkey FROM customer))
        |SELECT 'lineitem.l_orderkey->orders' AS fk_name,
        |  (SELECT CAST(sum(f) AS BIGINT) FROM lpk) AS child_rows,
        |  CAST(coalesce(sum(f), 0) AS BIGINT) AS orphan_rows,
        |  count(*) AS orphan_keys, min(k) AS min_orphan_key FROM lo
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT CAST(sum(f) AS BIGINT) FROM opk),
        |  CAST(coalesce(sum(f), 0) AS BIGINT), count(*), min(k) FROM oo
        |ORDER BY fk_name""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, when}
        val li = t.lineitem.withColumn("l_orderkey",
          when(col("l_orderkey") % 1009 === 17, col("l_orderkey") + 100000000L)
            .otherwise(col("l_orderkey")))
        val ord = t.orders.withColumn("o_custkey",
          when(col("o_orderkey") % 997 === 13, col("o_custkey") + 100000000L)
            .otherwise(col("o_custkey")))
        Relational.fkOrphanReport(Seq(
          ("lineitem.l_orderkey->orders", li, "l_orderkey", t.orders, "o_orderkey"),
          ("orders.o_custkey->customer", ord, "o_custkey", t.customer, "c_custkey"))) }),
    // per-group WEIGHTED MEDIAN (price cents weighted by quantity):
    // the window cumsum runs over the per-value histogram, never the
    // fact rows
    Gate("t172_weighted_median",
      // t172 twin: histogram-collapse first, identical cross-multiplied
      // half-weight test
      """WITH h AS (SELECT l_returnflag AS grp,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |g AS (SELECT grp, v, CAST(sum(w) AS BIGINT) AS w FROM h GROUP BY 1, 2),
        |c AS (SELECT grp, v,
        |    sum(w) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY grp) AS tot FROM g)
        |SELECT grp, min(v) AS weighted_median,
        |  CAST(max(tot) AS BIGINT) AS total_weight
        |FROM c WHERE cum * 2 >= tot GROUP BY grp ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor}
        Relational.weightedMedian(t.lineitem, col("l_returnflag"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"),
          col("l_quantity").cast("long")) }),
    // EXACT JOIN-CARDINALITY profile: predicted output rows for three
    // candidate joins from per-key frequency products — the decision
    // statistic BEFORE launching a 100 TB join
    Gate("t174_join_cardinality",
      // t174 twin: per-key frequency products summed — the exact
      // cardinality the profile predicts
      """WITH fl1 AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |fr1 AS (SELECT o_orderkey AS k, count(*) AS f FROM orders GROUP BY 1),
        |fl2 AS (SELECT l_partkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |fr2 AS (SELECT p_partkey AS k, count(*) AS f FROM part GROUP BY 1),
        |fl3 AS (SELECT o_custkey AS k, count(*) AS f FROM orders GROUP BY 1),
        |fr3 AS (SELECT c_custkey AS k, count(*) AS f FROM customer GROUP BY 1)
        |SELECT 'lineitem_x_orders' AS join_name,
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fl1) AS left_rows,
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fr1) AS right_rows,
        |  (SELECT CAST(coalesce(sum(a.f * b.f), 0) AS BIGINT)
        |    FROM fl1 a JOIN fr1 b ON a.k = b.k) AS est_rows
        |UNION ALL
        |SELECT 'lineitem_x_part',
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fl2),
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fr2),
        |  (SELECT CAST(coalesce(sum(a.f * b.f), 0) AS BIGINT)
        |    FROM fl2 a JOIN fr2 b ON a.k = b.k)
        |UNION ALL
        |SELECT 'lineitem_x_lineitem',
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fl2),
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fl2),
        |  (SELECT CAST(coalesce(sum(a.f * b.f), 0) AS BIGINT)
        |    FROM fl2 a JOIN fl2 b ON a.k = b.k)
        |UNION ALL
        |SELECT 'orders_x_customer',
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fl3),
        |  (SELECT CAST(sum(f) AS BIGINT) FROM fr3),
        |  (SELECT CAST(coalesce(sum(a.f * b.f), 0) AS BIGINT)
        |    FROM fl3 a JOIN fr3 b ON a.k = b.k)
        |ORDER BY join_name""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        Relational.joinCardinality(Seq(
          ("lineitem_x_orders", t.lineitem, col("l_orderkey"), t.orders, col("o_orderkey")),
          ("lineitem_x_part", t.lineitem, col("l_partkey"), t.part, col("p_partkey")),
          // the many-to-many arm: a partkey self-join EXPLODES (est >>
          // left+right) — exactly what the profile exists to catch
          ("lineitem_x_lineitem", t.lineitem, col("l_partkey"), t.lineitem, col("l_partkey")),
          ("orders_x_customer", t.orders, col("o_custkey"), t.customer, col("c_custkey")))) }),
    // EQUI-WIDTH HISTOGRAM in two passes (tiny bounds aggregate
    // broadcast back, then one hash agg on the bin index) — never a
    // sort; integer bin math buckets identically on any engine
    Gate("t175_histogram",
      // t175 twin: identical integer bin math (// is floor division;
      // numerators are non-negative, matching Spark's div)
      """WITH v AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM orders),
        |b AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
        |x AS (SELECT v, lo, hi, (hi - lo + 20) // 20 AS w FROM v CROSS JOIN b)
        |SELECT (v - lo) // w AS bin,
        |  min(lo + ((v - lo) // w) * w) AS bin_lo,
        |  min(lo + ((v - lo) // w + 1) * w - 1) AS bin_hi,
        |  count(*) AS cnt
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor}
        Relational.histogramInt(t.orders,
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long"), bins = 20) }),
    // CROSS-TABLE RECONCILIATION: the copy lost every 911th order,
    // duplicated every 1013th, and corrupted every 509th by one cent;
    // 64 bucketed integer checksums localize ALL of it without a
    // row-level join
    Gate("t177_reconciliation",
      // t177 twin: identical planted drift, identical bucket checksums
      """WITH s AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders),
        |d0 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 911 <> 5
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 1013 = 7),
        |d AS (SELECT o_orderkey AS k, CAST(floor(
        |    (CASE WHEN o_orderkey % 509 = 11 THEN o_totalprice + 0.01
        |      ELSE o_totalprice END) * 100.0 + 0.5) AS BIGINT) AS v FROM d0),
        |ss AS (SELECT k % 64 AS bucket, count(*) AS n_src,
        |    CAST(sum((k * 1000003) % 2147483647) AS BIGINT) AS ksum_src,
        |    CAST(sum(v) AS BIGINT) AS vsum_src FROM s GROUP BY 1),
        |dd AS (SELECT k % 64 AS bucket, count(*) AS n_dst,
        |    CAST(sum((k * 1000003) % 2147483647) AS BIGINT) AS ksum_dst,
        |    CAST(sum(v) AS BIGINT) AS vsum_dst FROM d GROUP BY 1)
        |SELECT bucket, coalesce(n_src, 0) AS n_src, coalesce(n_dst, 0) AS n_dst,
        |  coalesce(ksum_src, 0) AS ksum_src, coalesce(ksum_dst, 0) AS ksum_dst,
        |  coalesce(vsum_src, 0) AS vsum_src, coalesce(vsum_dst, 0) AS vsum_dst
        |FROM ss FULL OUTER JOIN dd USING (bucket)
        |WHERE coalesce(n_src, 0) <> coalesce(n_dst, 0)
        |  OR coalesce(ksum_src, 0) <> coalesce(ksum_dst, 0)
        |  OR coalesce(vsum_src, 0) <> coalesce(vsum_dst, 0)
        |ORDER BY bucket""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor, when}
        val dst = t.orders.filter(col("o_orderkey") % 911 =!= 5)
          .unionByName(t.orders.filter(col("o_orderkey") % 1013 === 7))
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 509 === 11, col("o_totalprice") + 0.01)
              .otherwise(col("o_totalprice")))
        Relational.reconciliationReport(t.orders, dst, col("o_orderkey"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long"), buckets = 64) }),
    // GRID NEAREST NEIGHBOR: each point's closest other point within
    // Chebyshev radius 4 — cell candidates + ONE argmin aggregate per
    // point (min(struct(dist, id)) partial-aggregates; no per-point
    // sort); twin is the quadratic candidate join + rank
    Gate("t178_geo_nn",
      // t178 twin: quadratic candidate join + deterministic (dist, id)
      // rank — the definition the grid argmin must reproduce
      """WITH p AS (SELECT c_custkey AS id,
        |    c_custkey * 48271 % 10007 % 300 AS x,
        |    c_custkey * 16807 % 10007 % 300 AS y FROM customer),
        |c AS (SELECT a.id AS id, greatest(abs(a.x - b.x), abs(a.y - b.y)) AS dist,
        |    b.id AS nid
        |  FROM p a JOIN p b ON a.id <> b.id
        |    AND b.x BETWEEN a.x - 4 AND a.x + 4
        |    AND b.y BETWEEN a.y - 4 AND a.y + 4),
        |r AS (SELECT id, dist, nid,
        |    row_number() OVER (PARTITION BY id ORDER BY dist, nid) AS rn FROM c)
        |SELECT id, nid AS nn_id, dist AS nn_dist FROM r WHERE rn = 1
        |ORDER BY id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val pts = t.customer.select(col("c_custkey").as("id"),
          (col("c_custkey") * 48271 % 10007 % 300).as("x"),
          (col("c_custkey") * 16807 % 10007 % 300).as("y"))
        GeoOps.nearestNeighbor(pts, d = 4) }),
    // ITEM-ITEM collaborative filtering: basket-cosine top-3 partners
    // per part ("bought X also bought Y" serving table) — pair frame
    // bounded by basket width, windows only over each item's
    // candidates
    Gate("t179_item_recs",
      // t179 twin: identical supports, identical quantized cosine,
      // identical (sim DESC, id) rank
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |supp AS (SELECT it, count(*) AS supp FROM b GROUP BY 1),
        |ps AS (SELECT x.it AS ia, y.it AS ib, count(*) AS co
        |  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |dir AS (SELECT ia, ib, co FROM ps
        |  UNION ALL SELECT ib, ia, co FROM ps),
        |sc AS (SELECT d.ia, d.ib, d.co,
        |    floor(CAST(d.co AS DOUBLE) / sqrt(CAST(sa.supp * sb.supp AS DOUBLE))
        |      * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM dir d JOIN supp sa ON sa.it = d.ia JOIN supp sb ON sb.it = d.ib),
        |r AS (SELECT *, row_number() OVER (PARTITION BY ia
        |    ORDER BY sim DESC, ib) AS rnk FROM sc)
        |SELECT ia AS item, CAST(rnk AS BIGINT) AS rnk, ib AS rec, co, sim
        |FROM r WHERE rnk <= 3 ORDER BY item, rnk""".stripMargin,
      t => {
        Relational.itemItemRecs(t.lineitem, "l_orderkey", "l_partkey",
        minSupport = 3L, k = 3) }),
    // TPC-H Q21 SHAPE: correlated EXISTS + NOT EXISTS with the
    // suppkey INEQUALITY in both inner predicates — decorrelated by
    // Catalyst into semi/anti joins, never re-executed per row
    Gate("q63_waiting_suppliers",
      // q63 twin: the same Q21 shape — DuckDB decorrelates the same way
      """WITH l AS (SELECT l_orderkey, l_suppkey,
        |    CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
        |      THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, count(*) AS numwait
        |FROM supplier, l l1
        |WHERE s_suppkey = l1.l_suppkey
        |  AND l1.late = 1
        |  AND EXISTS (SELECT 1 FROM l l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.late = 1)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 50""".stripMargin,
      t => Relational.waitingSuppliers(t.lineitem, t.supplier, t.orders)),
    // SPEARMAN rank correlation (ties-correct, integer moments in
    // DECIMAL(38,0), ranks from bounded-domain histograms): does
    // quantity move with discount within each return flag?
    Gate("t181_spearman",
      // t181 twin: identical 2x-average-rank histograms, identical
      // integer moments (HUGEINT), one IEEE division at the end
      """WITH b AS (SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS y FROM lineitem),
        |hx AS (SELECT grp, x, count(*) AS c FROM b GROUP BY 1, 2),
        |rx AS (SELECT grp, x, 2 * sum(c) OVER (PARTITION BY grp ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS rx FROM hx),
        |hy AS (SELECT grp, y, count(*) AS c FROM b GROUP BY 1, 2),
        |ry AS (SELECT grp, y, 2 * sum(c) OVER (PARTITION BY grp ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS ry FROM hy),
        |j AS (SELECT b.grp, rx.rx, ry.ry FROM b
        |  JOIN rx ON b.grp = rx.grp AND b.x = rx.x
        |  JOIN ry ON b.grp = ry.grp AND b.y = ry.y),
        |m AS (SELECT grp, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
        |    sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rx * ry) AS sxy
        |  FROM j GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
        |    AS spearman
        |FROM m ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor}
        Relational.spearmanByGroup(t.lineitem, col("l_returnflag"),
          col("l_quantity").cast("long"),
          floor(col("l_discount") * 100.0 + 0.5).cast("long")) }),
    // ROBUST OUTLIERS by median absolute deviation (3-MAD rule),
    // all-integer via x2/x4 scaling; values = ship-delay days, a
    // bounded domain so both medians run on tiny histograms
    Gate("t185_mad_outliers",
      // t185 twin: identical x2/x4-scaled histogram medians, identical
      // integer 3-MAD test
      """WITH b AS (SELECT o_orderpriority AS grp,
        |    CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h AS (SELECT grp, v, count(*) AS c FROM b GROUP BY 1, 2),
        |hc AS (SELECT grp, v,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n FROM h),
        |m1 AS (SELECT grp, min(v) AS v1 FROM hc WHERE cum >= (n+1)//2 GROUP BY grp),
        |m2 AS (SELECT grp, min(v) AS v2 FROM hc WHERE cum >= (n+2)//2 GROUP BY grp),
        |med AS (SELECT grp, v1 + v2 AS med2 FROM m1 JOIN m2 USING (grp)),
        |d AS (SELECT b.grp, abs(b.v * 2 - med.med2) AS v
        |  FROM b JOIN med ON b.grp = med.grp),
        |dh AS (SELECT grp, v, count(*) AS c FROM d GROUP BY 1, 2),
        |dhc AS (SELECT grp, v,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n FROM dh),
        |dm1 AS (SELECT grp, min(v) AS v1 FROM dhc WHERE cum >= (n+1)//2 GROUP BY grp),
        |dm2 AS (SELECT grp, min(v) AS v2 FROM dhc WHERE cum >= (n+2)//2 GROUP BY grp),
        |mad AS (SELECT grp, v1 + v2 AS mad2 FROM dm1 JOIN dm2 USING (grp))
        |SELECT b.grp, count(*) AS n,
        |  CAST(min(med2) AS DOUBLE) / 2.0 AS median,
        |  CAST(min(mad2) AS DOUBLE) / 4.0 AS mad,
        |  CAST(sum(CASE WHEN abs(b.v * 2 - med2) * 2 > 3 * mad2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM b JOIN med USING (grp) JOIN mad USING (grp)
        |GROUP BY b.grp ORDER BY b.grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, datediff}
        val joined = t.lineitem.select("l_orderkey", "l_shipdate")
          .join(t.orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
        Relational.madOutliers(joined, col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate"))) }),
    // CDC APPLY with full merge semantics: out-of-order upserts AND
    // deletes per key, latest seq wins via ONE max_by aggregate —
    // %12 keys are deleted then re-upserted (seq 3 beats 2), %6-only
    // keys vanish, %4-only keys update, +1e6 keys insert
    Gate("t187_cdc_apply",
      // t187 twin: the latest-change-wins semantics spelled as CASE
      // arms — %12 re-upserted after delete, %6-only deleted, %4-only
      // updated, %31 inserted under +1e6 keys
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE c_custkey % 4 <> 0 AND c_custkey % 6 <> 0
        |UNION ALL
        |SELECT c_custkey, 'UPD1', c_acctbal + 5.0 FROM customer
        |WHERE c_custkey % 4 = 0 AND c_custkey % 6 <> 0
        |UNION ALL
        |SELECT c_custkey, 'UPD3', c_acctbal + 7.0 FROM customer
        |WHERE c_custkey % 12 = 0
        |UNION ALL
        |SELECT c_custkey + 1000000, 'NEW', c_acctbal FROM customer
        |WHERE c_custkey % 31 = 0
        |ORDER BY c_custkey""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, lit}
        val dim = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
        val feed = dim.filter(col("c_custkey") % 4 === 0)
          .select(col("c_custkey"), lit("upsert").as("change_type"),
            lit(1L).as("seq"), lit("UPD1").as("c_mktsegment"),
            (col("c_acctbal") + 5.0).as("c_acctbal"))
          .unionByName(dim.filter(col("c_custkey") % 6 === 0)
            .select(col("c_custkey"), lit("delete").as("change_type"),
              lit(2L).as("seq"), lit(null).cast("string").as("c_mktsegment"),
              lit(null).cast("double").as("c_acctbal")))
          .unionByName(dim.filter(col("c_custkey") % 12 === 0)
            .select(col("c_custkey"), lit("upsert").as("change_type"),
              lit(3L).as("seq"), lit("UPD3").as("c_mktsegment"),
              (col("c_acctbal") + 7.0).as("c_acctbal")))
          .unionByName(dim.filter(col("c_custkey") % 31 === 0)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              lit("upsert").as("change_type"), lit(1L).as("seq"),
              lit("NEW").as("c_mktsegment"), col("c_acctbal")))
        Relational.applyCdc(dim, feed, "c_custkey", "seq")
          .orderBy("c_custkey") }),
    // BENFORD first-digit conformance: integer per-mille deviations
    // against the fixed Benford constants — no float logs; synthetic
    // TPC-H prices are uniform-ish, so the report SHOWS the
    // non-conformance a fraud audit would flag
    Gate("t192_benford",
      // t192 twin: identical first-digit histogram against the fixed
      // Benford per-mille constants, identical integer deviations
      """WITH base AS (SELECT o_orderpriority AS grp,
        |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |      1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE CAST(floor(o_totalprice) AS BIGINT) > 0),
        |obs AS (SELECT grp, digit, count(*) AS observed FROM base GROUP BY 1, 2),
        |tot AS (SELECT grp, count(*) AS n FROM base GROUP BY 1),
        |dig AS (SELECT CAST(d AS BIGINT) AS digit, CAST(e AS BIGINT) AS exp_milli
        |  FROM (VALUES (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
        |    (6, 67), (7, 58), (8, 51), (9, 46)) AS t(d, e))
        |SELECT tot.grp AS grp, dig.digit AS digit,
        |  CAST(coalesce(obs.observed, 0) AS BIGINT) AS observed,
        |  CAST(tot.n AS BIGINT) AS n,
        |  CAST(coalesce(obs.observed, 0) * 1000 - tot.n * dig.exp_milli
        |    AS BIGINT) AS dev_milli
        |FROM tot CROSS JOIN dig
        |LEFT JOIN obs ON obs.grp = tot.grp AND obs.digit = dig.digit
        |ORDER BY tot.grp, dig.digit""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor}
        Relational.benfordReport(t.orders, col("o_orderpriority"),
          floor(col("o_totalprice"))) }),
    // LAG-7 AUTOCORRELATION of each priority's daily order counts:
    // one lead window over the pre-aggregated series, integer
    // moments, one quantized double. The lag is POSITIONAL over the
    // observed dates (lead(x, 7)), not calendar days — exact here
    // because TPC-H order dates are dense per priority; a sparse
    // series needs a date-spine join before this call
    Gate("t193_autocorr",
      // t193 twin: identical positional lead(7) over the pre-aggregated
      // daily series, identical HUGEINT moments, one quantized division
      """WITH daily AS (SELECT o_orderpriority AS pri, o_orderdate AS dt,
        |    count(*) AS x FROM orders GROUP BY 1, 2),
        |p AS (SELECT pri AS grp, CAST(x AS HUGEINT) AS x,
        |    CAST(lead(x, 7) OVER (PARTITION BY pri ORDER BY dt) AS HUGEINT) AS y
        |  FROM daily),
        |f AS (SELECT grp, x, y FROM p WHERE y IS NOT NULL),
        |m AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
        |    sum(x * y) AS sxy FROM f GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n_pairs,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS acf
        |FROM m ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val daily = t.orders.groupBy(col("o_orderpriority").as("pri"),
            col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("x"))
        Relational.autocorrInt(daily, col("pri"), col("dt"), col("x"), lag = 7) }),
    // GINI concentration of order revenue per priority: exact integer
    // rank-identity fold; the GATE hashes only small bounded integers
    // (grp, n, gini_micro) — the DECIMAL(38,0) numer/denom audit
    // columns stay in the library output but out of the hash, and no
    // float is emitted at all (driver-hash portability, round 15)
    Gate("t194_gini",
      // t194 twin: the identical histogram-run fold of the rank
      // identity — 2·Σ i·x = Σ_runs v·c·(2r+c+1). All-integer output:
      // gini_micro = ⌊numer·10⁶/denom⌋ via HUGEINT // (exact, no float
      // and no >2⁵³ value anywhere in the hashed row)
      """WITH b AS (SELECT o_orderpriority AS grp,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS HUGEINT) AS v FROM orders),
        |h AS (SELECT grp, v, CAST(count(*) AS HUGEINT) AS c FROM b GROUP BY 1, 2),
        |r AS (SELECT grp, v, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS r FROM h),
        |m AS (SELECT grp, sum(c) AS n, sum(v * c) AS sx,
        |    sum(v * c * (2 * r + c + 1)) AS six2 FROM r GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN n * sx > 0
        |    THEN (six2 - (n + 1) * sx) * 1000000 // (n * sx) END
        |    AS BIGINT) AS gini_micro
        |FROM m ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor}
        Relational.giniInt(t.orders, col("o_orderpriority"),
          floor(col("o_totalprice") * 100.0 + 0.5))
          .select("grp", "n", "gini_micro") }),
    // L-DIVERSITY release: k=10 anonymity PLUS >= 3 distinct market
    // segments per quasi-identifier group — the homogeneity-attack
    // hardening over t163's k-anonymity
    Gate("t195_l_diversity",
      // t195 twin: t163's pseudonym map + suppression rule hardened
      // with the distinct-sensitive-values floor (null-safe group join)
      """WITH r AS (SELECT md5(CAST(c_custkey AS VARCHAR)) AS pseud,
        |    c_nationkey AS nation,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |    c_mktsegment AS sens
        |  FROM customer),
        |g AS (SELECT nation, bal_band, count(*) AS group_size,
        |    count(DISTINCT sens) AS sensitive_diversity FROM r
        |  GROUP BY 1, 2 HAVING count(*) >= 10 AND count(DISTINCT sens) >= 3)
        |SELECT r.pseud, r.nation, r.bal_band, g.group_size,
        |  g.sensitive_diversity
        |FROM r JOIN g ON r.nation IS NOT DISTINCT FROM g.nation
        |  AND r.bal_band IS NOT DISTINCT FROM g.bal_band
        |ORDER BY pseud""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, floor}
        Relational.lDiversify(t.customer, "c_custkey",
          Seq(col("c_nationkey"), floor(col("c_acctbal") / 1000.0).cast("long")),
          Seq("nation", "bal_band"), col("c_mktsegment"), k = 10, l = 3) }),
    // CUSUM changepoint: clamped cumulative sum = cumsum minus
    // running min (two windows, no sequential fold), all integer via
    // the n-scaled deviations; a planted +25/day level shift from
    // 1996-06-01 must be detected, the pre-shift period must not
    Gate("t196_cusum",
      // t196 twin: the identical closed form — clamped CUSUM = cumsum
      // minus running min, n-scaled integer deviations, planted shift
      """WITH daily AS (SELECT o_orderpriority AS pri, o_orderdate AS dt,
        |    count(*) + CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1996-06-01'
        |      THEN 25 ELSE 0 END AS x
        |  FROM orders GROUP BY 1, 2),
        |b AS (SELECT pri AS grp, dt AS t, CAST(x AS HUGEINT) AS x FROM daily),
        |s AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sm
        |  FROM b GROUP BY 1),
        |c AS (SELECT b.grp, b.t, s.n,
        |    sum(b.x * s.n - s.sm) OVER (PARTITION BY b.grp ORDER BY b.t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM b JOIN s USING (grp)),
        |k AS (SELECT grp, t, n, c - least(CAST(0 AS HUGEINT),
        |    min(c) OVER (PARTITION BY grp ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
        |  FROM c)
        |SELECT grp, CAST(max(n) AS BIGINT) AS n_periods,
        |  min(CASE WHEN cusum > n * 1000 THEN t END) AS t_detect,
        |  CAST(max(cusum) AS BIGINT) AS s_max
        |FROM k GROUP BY grp ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit, when}
        val daily = t.orders.groupBy(col("o_orderpriority").as("pri"),
            col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("c"))
          .select(col("pri"), col("dt"),
            (col("c") + when(col("dt") >= lit("1996-06-01"), 25L)
              .otherwise(0L)).as("x"))
        Relational.cusumChangepoint(daily, col("pri"), col("dt"), col("x"),
          h = 1000L) }),
    // DENSE DAILY SPINE: every calendar day between each priority's
    // first and last SPARSE observation (1-in-97 orders), gaps
    // zero-filled — the preprocessing that makes positional windows
    // calendar-correct
    Gate("t198_date_spine",
      // t198 twin: the same per-group bounds + generate_series spine,
      // zero-filled left join
      """WITH daily AS (SELECT o_orderpriority AS grp,
        |    CAST(o_orderdate AS DATE) AS dt, count(*) AS x
        |  FROM orders WHERE o_orderkey % 97 = 0 GROUP BY 1, 2),
        |b AS (SELECT grp, min(dt) AS lo, max(dt) AS hi FROM daily GROUP BY 1),
        |s AS (SELECT grp, CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS dt FROM b)
        |SELECT s.grp, s.dt, CAST(coalesce(d.x, 0) AS BIGINT) AS x
        |FROM s LEFT JOIN daily d USING (grp, dt)
        |ORDER BY grp, dt""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val sparse = t.orders.filter(col("o_orderkey") % 97 === 0)
          .groupBy(col("o_orderpriority").as("pri"), col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("c"))
        Relational.denseDailySpine(sparse, col("pri"), col("dt"), col("c")) }),
    // EXACT GROUPED CDF: cume_dist() semantics from the (grp, value)
    // histogram — one fact aggregate, no fact-table sort window; twin
    // is DuckDB's real cume_dist() window DISTINCT'd
    Gate("t199_cdf",
      // t199 twin: the REAL cume_dist() window, DISTINCT'd per value —
      // the histogram form must equal it exactly (one IEEE division)
      """SELECT DISTINCT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v,
        |  cume_dist() OVER (PARTITION BY l_returnflag
        |    ORDER BY CAST(l_quantity AS BIGINT)) AS cd
        |FROM lineitem ORDER BY grp, v""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        Relational.cdfByGroup(t.lineitem, col("l_returnflag"),
          col("l_quantity").cast("long")) }),
    // DISCRETE HAZARD TABLE: per-user lifetime in HOURS (last - first
    // activity; the fixture spans ~30 days), right-censored inside
    // the final 24 hours; at-risk = reverse cumulative histogram,
    // hazard in integer micro-units
    Gate("t200_hazard",
      // t200 twin: identical lifetime/censoring rule, reverse cumulative
      // at-risk histogram, integer micro-hazard
      """WITH ud AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hn
        |  FROM events),
        |span AS (SELECT user_id, min(hn) AS fst, max(hn) AS lst
        |  FROM ud GROUP BY 1),
        |cut AS (SELECT max(hn) AS cut FROM ud),
        |subj AS (SELECT lst - fst AS t,
        |    CASE WHEN lst < cut - 24 THEN 1 ELSE 0 END AS e
        |  FROM span CROSS JOIN cut),
        |h AS (SELECT t, count(*) AS c, sum(e) AS d FROM subj GROUP BY 1),
        |r AS (SELECT t, c, d, sum(c) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
        |  FROM h)
        |SELECT t, CAST(at_risk AS BIGINT) AS at_risk,
        |  CAST(d AS BIGINT) AS events,
        |  CAST((d * 1000000) // at_risk AS BIGINT) AS hazard_micro
        |FROM r WHERE d > 0 ORDER BY t""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{broadcast, col, expr, max, min}
        val ud = t.events.select(col("user_id"),
          expr("unix_micros(ts) DIV 3600000000").as("hn"))
        val span = ud.groupBy("user_id")
          .agg(min("hn").as("fst"), max("hn").as("lst"))
        val subj = span.crossJoin(broadcast(ud.agg(max("hn").as("cut"))))
          .select((col("lst") - col("fst")).as("dur"),
            (col("lst") < col("cut") - 24).as("churned"))
        Relational.hazardTable(subj, col("dur"), col("churned")) }),
    // CALENDAR-correct lag-7 autocorrelation: the t193 positional lag
    // run over the t198 spine-filled sparse series — dense by
    // construction, so position IS calendar
    Gate("t202_autocorr_calendar",
      // t202 twin: the t198 spine feeding the t193 lead(7) moments —
      // positional lag over a dense series IS the calendar lag
      """WITH daily AS (SELECT o_orderpriority AS grp,
        |    CAST(o_orderdate AS DATE) AS dt, count(*) AS x
        |  FROM orders WHERE o_orderkey % 97 = 0 GROUP BY 1, 2),
        |b AS (SELECT grp, min(dt) AS lo, max(dt) AS hi FROM daily GROUP BY 1),
        |s AS (SELECT grp, CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS dt FROM b),
        |dense AS (SELECT s.grp, s.dt, coalesce(d.x, 0) AS x
        |  FROM s LEFT JOIN daily d USING (grp, dt)),
        |p AS (SELECT grp, CAST(x AS HUGEINT) AS x,
        |    CAST(lead(x, 7) OVER (PARTITION BY grp ORDER BY dt) AS HUGEINT) AS y
        |  FROM dense),
        |f AS (SELECT grp, x, y FROM p WHERE y IS NOT NULL),
        |m AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
        |    sum(x * y) AS sxy FROM f GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n_pairs,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS acf
        |FROM m ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val sparse = t.orders.filter(col("o_orderkey") % 97 === 0)
          .groupBy(col("o_orderpriority").as("pri"), col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("c"))
        val dense = Relational.denseDailySpine(sparse, col("pri"), col("dt"),
          col("c"))
        Relational.autocorrInt(dense, col("grp"), col("dt"), col("x"), lag = 7) }),
    // ISLANDS & GAPS over a sparse key domain (the fixture's order
    // keys are contiguous, so every key ≡ 5 (mod 13) is dropped to
    // plant real gaps): two anti-joins find the boundaries, only
    // O(islands) rows reach a window — never the classic full-domain
    // id - row_number() sort
    Gate("t204_islands",
      // t204 twin: the classic id - row_number() islands form the
      // anti-join boundaries replace
      t204Sql,
      t => {
        import org.apache.spark.sql.functions.col
        Relational.islands(t.orders.filter(col("o_orderkey") % 13 =!= 5),
          col("o_orderkey")) }),
    // TIME-WEIGHTED AVERAGE balance per customer: each order's cents
    // held until the next order (LOCF step function), exact integer
    // integral / span in micro-units; single-order customers omitted
    Gate("t209_twap",
      // t209 twin: identical lead window, HUGEINT integral, identical
      // integer micro-division
      t209Sql,
      t => {
        import org.apache.spark.sql.functions.{col, datediff, floor, lit}
        Relational.timeWeightedAvg(t.orders, col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")),
          floor(col("o_totalprice") * 100.0 + 0.5)) }),
    // OHLC candlesticks per (event_type, hour): open/close via
    // deterministic min/max-struct argmin (ties by id), one
    // partial-aggregating pass; event_id stands in for the price
    Gate("t210_ohlc",
      // t210 twin: open/close as rank-1 rows under the same (t, id)
      // tie-break, high/low/n from the plain aggregate
      """WITH e AS (SELECT event_type AS s, epoch_us(ts) // 3600000000 AS b,
        |    epoch_us(ts) AS t, event_id AS i, event_id AS v FROM events),
        |rko AS (SELECT s, b, v, row_number() OVER (PARTITION BY s, b
        |    ORDER BY t, i) AS rn FROM e),
        |rkc AS (SELECT s, b, v, row_number() OVER (PARTITION BY s, b
        |    ORDER BY t DESC, i DESC) AS rn FROM e),
        |agg AS (SELECT s, b, max(v) AS high, min(v) AS low, count(*) AS n
        |  FROM e GROUP BY 1, 2)
        |SELECT agg.s AS s, agg.b AS b, o.v AS open, agg.high, agg.low,
        |  c.v AS close, agg.n
        |FROM agg JOIN rko o ON o.s = agg.s AND o.b = agg.b AND o.rn = 1
        |JOIN rkc c ON c.s = agg.s AND c.b = agg.b AND c.rn = 1
        |ORDER BY agg.s, agg.b""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, expr}
        Relational.ohlcBars(t.events, col("event_type"),
          expr("unix_micros(ts) DIV 3600000000"), expr("unix_micros(ts)"),
          col("event_id"), col("event_id")) }),
    // DETERMINISTIC EXACT-k RESERVOIR: exactly 7 customers per market
    // segment by md5 hash rank — fixed-size replayable sampling (the
    // rate-based t52 gives binomial counts; this gives exactly k)
    Gate("t226_reservoir_k",
      // t226 twin: the identical md5 rank under the same tie-break
      """SELECT c_mktsegment, CAST(rn AS BIGINT) AS sample_rank,
        |  c_custkey, c_nationkey
        |FROM (SELECT c_mktsegment, c_custkey, c_nationkey,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY md5(concat_ws(':', 'res14', CAST(c_custkey AS VARCHAR))),
        |      c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 7 ORDER BY c_mktsegment, rn""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        Relational.reservoirK(
            t.customer.select("c_custkey", "c_mktsegment", "c_nationkey"),
            col("c_mktsegment"), col("c_custkey"), k = 7, seed = "res14")
          .select("c_mktsegment", "sample_rank", "c_custkey", "c_nationkey")
          .orderBy("c_mktsegment", "sample_rank") }),
    // DETERMINISTIC STRING_AGG: per-priority sorted distinct status
    // roster — collect_set + array_sort + concat_ws, never the
    // partition-order trap of bare collect_list
    Gate("t224_string_agg",
      // t224 twin: sorted-distinct list rendered to the same csv
      """SELECT o_orderpriority AS pri,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
        |    AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{array_sort, col, collect_set, concat_ws, count, lit}
        t.orders.groupBy(col("o_orderpriority").as("pri"))
          .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
            .as("statuses"), count(lit(1)).as("n"))
          .orderBy("pri") }),
    // TPC-H Q17 shape: revenue from small-quantity lineitems of one
    // brand — quantity below 0.2× the part's average, the correlated
    // aggregate CROSS-MULTIPLIED into pure integers (5·n·q < Σq)
    Gate("t214_tpch_q17",
      // t214 twin: the same integer cross-multiplied Q17 predicate
      """WITH li AS (SELECT l_partkey,
        |    CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |b AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
        |j AS (SELECT li.l_partkey, li.q, li.cents FROM li
        |  JOIN b ON li.l_partkey = b.p_partkey),
        |st AS (SELECT l_partkey, count(*) AS n, sum(q) AS sq
        |  FROM j GROUP BY 1),
        |f AS (SELECT j.cents FROM j JOIN st ON j.l_partkey = st.l_partkey
        |  WHERE 5 * st.n * j.q < st.sq)
        |SELECT count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST((sum(cents) * 1000) // 7 AS BIGINT) AS avg_yearly_milli
        |FROM f""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, expr, floor, lit, sum}
        import org.apache.spark.sql.types.DecimalType
        val li = t.lineitem.select(col("l_partkey"),
          floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("q"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
        val brand = t.part.filter(col("p_brand") === "Brand#4")
          .select(col("p_partkey"))
        val joined = li.join(brand, col("l_partkey") === col("p_partkey"))
        val stats = joined.groupBy("l_partkey")
          .agg(count(lit(1)).as("n"), sum("q").as("sq"))
        joined.join(stats, "l_partkey")
          .filter(lit(5L) * col("n") * col("q") < col("sq"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents").cast(DecimalType(38, 0))).cast("long")
              .as("total_cents"))
          .select(col("n_rows"), col("total_cents"),
            expr("CAST((total_cents * 1000) DIV 7 AS BIGINT)")
              .as("avg_yearly_milli")) }),
    // TPC-H Q22 shape: DORMANT rich customers — balance above the
    // positive-balance average (integer cross-multiplied), from a
    // nation set, with no order since 2001 (every fixture customer
    // has SOME order, so the anti-join arm is recency-scoped) —
    // scalar subquery + anti-join, per-nation rollup
    Gate("t215_tpch_q22",
      // t215 twin: the same scalar average cross-multiplied + NOT EXISTS
      """WITH cust AS (SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        |pos AS (SELECT count(*) AS pn, sum(bal) AS ps FROM cust WHERE bal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(bal) AS BIGINT) AS totbal_cents
        |FROM cust CROSS JOIN pos
        |WHERE bal * pn > ps
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{broadcast, col, count, floor, lit, sum}
        val cust = t.customer
          .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
          .select(col("c_custkey"), col("c_nationkey"),
            floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("bal"))
        val pos = cust.filter(col("bal") > 0)
          .agg(count(lit(1)).as("pn"), sum("bal").as("ps"))
        cust.crossJoin(broadcast(pos))
          .filter(col("bal") * col("pn") > col("ps"))
          .join(t.orders.filter(col("o_orderdate") >= lit("2001-01-01"))
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"), sum("bal").as("totbal_cents"))
          .orderBy("c_nationkey") }),
    // EXACT NTILE(10): decile assignment with no fact-sized sort —
    // histogram rank + within-tie row_number over $1000 price bands
    Gate("t216_ntile",
      // t216 twin: DuckDB's real ntile(10) under the identical
      // (band, orderkey) ordering
      """SELECT o_orderpriority AS grp, o_orderkey AS id,
        |  CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |      // 100000, o_orderkey) AS BIGINT) AS bucket
        |FROM orders ORDER BY grp, id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, expr, floor}
        Relational.ntileExact(t.orders, col("o_orderpriority"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) DIV 100000"),
          col("o_orderkey"), k = 10) }),
    // DYNAMIC PARTITION PRUNING: the fact written month-partitioned,
    // joined to a 12-row month dim — Catalyst injects the runtime
    // pruning subquery so only 1995's partitions are scanned
    // (plan-asserted in DppSpec); revenue per pruned month
    Gate("t212_dpp",
      // t212 twin: the pruned months recomputed as a plain filter-group
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders
        |WHERE strftime(CAST(o_orderdate AS DATE), '%Y-%m') LIKE '1995-%'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{broadcast, col, count, date_format, floor, lit, sum}
        import s.implicits._
        val dir = java.nio.file.Files.createTempDirectory("g_dpp").toString +
          "/orders_bymonth"
        t.orders.select(col("o_orderkey"),
            floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"),
            date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          // cluster by the partition column before the partitioned write
          // (guide §6): unclustered, every one of the fan-out tasks
          // writes a file into every month directory — tasks×months tiny
          // files, which the pruned scan below then pays to list/open.
          // One exchange here ⇒ one file per month.
          .repartition(col("month"))
          .write.mode("overwrite").partitionBy("month").parquet(dir)
        val fact = s.read.parquet(dir)
        // the dim must be a FILE source carrying a selective filter —
        // a literal relation constant-folds the predicate away and
        // Catalyst then skips the pruning subquery
        val dimDir = java.nio.file.Files.createTempDirectory("g_dpp_dim")
          .toString + "/months"
        (1 to 24).map(m => f"${1994 + (m - 1) / 12}-${(m - 1) % 12 + 1}%02d")
          .toDF("month").write.mode("overwrite").parquet(dimDir)
        val dim = s.read.parquet(dimDir).filter(col("month").startsWith("1995"))
        fact.join(broadcast(dim), "month")
          .groupBy("month")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .orderBy("month") }),
    // PIVOT: order counts + cents by priority × status, the wide BI
    // crosstab via Spark's pivot operator (null-safe zero fill)
    Gate("t207_pivot",
      // t207 twin: the conditional-aggregation crosstab Spark's pivot
      // compiles to, zero-filled
      """SELECT o_orderpriority AS pri,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END), 0)
        |    AS BIGINT) AS f_cents,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END), 0)
        |    AS BIGINT) AS o_cents,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END), 0)
        |    AS BIGINT) AS p_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{coalesce, col, count, floor, lit, sum}
        val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
        val wide = t.orders.groupBy(col("o_orderpriority").as("pri"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)).as("cnt"), sum(cents).as("cents"))
        wide.select(col("pri"),
          coalesce(col("F_cnt"), lit(0L)).as("f_cnt"),
          coalesce(col("F_cents"), lit(0L)).as("f_cents"),
          coalesce(col("O_cnt"), lit(0L)).as("o_cnt"),
          coalesce(col("O_cents"), lit(0L)).as("o_cents"),
          coalesce(col("P_cnt"), lit(0L)).as("p_cnt"),
          coalesce(col("P_cents"), lit(0L)).as("p_cents"))
          .orderBy("pri") }),
    // UNPIVOT: the same crosstab melted back to long form via
    // Dataset.unpivot — (pri, status, n) rows
    Gate("t208_unpivot",
      // t208 twin: the long form as explicit UNION arms
      """WITH w AS (SELECT o_orderpriority AS pri,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
        |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o,
        |    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM orders GROUP BY 1)
        |SELECT pri, 'F' AS status, f AS n FROM w
        |UNION ALL SELECT pri, 'O', o FROM w
        |UNION ALL SELECT pri, 'P', p FROM w
        |ORDER BY pri, status""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{coalesce, col, count, lit}
        val wide = t.orders.groupBy(col("o_orderpriority").as("pri"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
        val filled = wide.select(col("pri"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        filled.unpivot(Array(col("pri")),
            Array(col("F"), col("O"), col("P")), "status", "n")
          .orderBy("pri", "status") }),
    // data-quality expectations: four row rules in one aggregate
    // pass + a uniqueness constraint; the natural data violates the
    // tight bounds, the planted re-ingestion (every 997th order's
    // lines duplicated) violates the primary key
    Gate("t138_expectations",
      // t138 twin: identical planted dup slice, NOT-coalesce violation
      // rule (NULL predicate = violation), surplus-row uniqueness count
      """WITH src AS (SELECT * FROM lineitem
        |  UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 997 = 1),
        |rr AS (
        |  SELECT 'l_discount_le_005' AS rule, CAST(sum(CASE WHEN NOT
        |    coalesce(l_discount <= 0.05, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |  FROM src
        |  UNION ALL
        |  SELECT 'l_extendedprice_positive', CAST(sum(CASE WHEN NOT
        |    coalesce(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM src
        |  UNION ALL
        |  SELECT 'l_quantity_in_1_30', CAST(sum(CASE WHEN NOT
        |    coalesce(l_quantity >= 1 AND l_quantity <= 30, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM src
        |  UNION ALL
        |  SELECT 'l_returnflag_domain', CAST(sum(CASE WHEN NOT
        |    coalesce(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM src
        |  UNION ALL
        |  SELECT 'pk_unique', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS c FROM src
        |        GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
        |SELECT rule, n_violations, n_violations = 0 AS pass
        |FROM rr ORDER BY rule""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val planted = t.lineitem.unionByName(
          t.lineitem.filter(col("l_orderkey") % 997 === 1))
        Relational.expectationsReport(planted,
          Seq(
            "l_discount_le_005" -> (col("l_discount") <= 0.05),
            "l_extendedprice_positive" -> (col("l_extendedprice") > 0),
            "l_quantity_in_1_30" -> (col("l_quantity") >= 1 && col("l_quantity") <= 30),
            "l_returnflag_domain" -> col("l_returnflag").isin("A", "N", "R")),
          Seq("pk_unique" -> Seq("l_orderkey", "l_linenumber"))) }),
    // partition completeness: calendar days inside the table's span
    // with no orders — the silent-missing-day ingestion alarm (the
    // fixture has 6 natural gaps at sf0.01)
    Gate("t139_date_gaps",
      // t139 twin: same distinct-days → full-calendar anti-join
      """WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS dt FROM orders
        |  WHERE o_orderdate IS NOT NULL),
        |b AS (SELECT min(dt) AS lo, max(dt) AS hi FROM d),
        |al AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS dt
        |  FROM b)
        |SELECT al.dt AS missing_date FROM al LEFT JOIN d ON d.dt = al.dt
        |WHERE d.dt IS NULL ORDER BY missing_date""".stripMargin,
      t => Relational.dateGaps(t.orders, "o_orderdate")),
    // time-series reindex + LOCF forward fill: per-flag daily revenue
    // on the full calendar, missing days repaired from the last
    // observation (dateGaps' repair; was_missing keeps it auditable)
    Gate("t141_forward_fill",
      // t141 twin: same daily money sums, same full-calendar reindex,
      // LOCF via the count-of-observations group trick (grp = number of
      // non-null values so far; fill = max within (flag, grp))
      s"""WITH daily AS (SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
         |  ${mny("l_extendedprice*(1.0-l_discount)")} AS revenue
         |  FROM lineitem GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
         |cal AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         |flags AS (SELECT DISTINCT l_returnflag FROM lineitem),
         |grid AS (SELECT f.l_returnflag, c.day, d.revenue
         |  FROM cal c CROSS JOIN flags f
         |  LEFT JOIN daily d ON d.l_returnflag = f.l_returnflag AND d.day = c.day),
         |g AS (SELECT l_returnflag, day, revenue,
         |  count(revenue) OVER (PARTITION BY l_returnflag ORDER BY day
         |    ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM grid)
         |SELECT l_returnflag, day,
         |  max(revenue) OVER (PARTITION BY l_returnflag, grp) AS revenue,
         |  revenue IS NULL AS was_missing
         |FROM g ORDER BY l_returnflag, day""".stripMargin,
      t => Relational.forwardFillDaily(t.lineitem)),
    // MERGE INTO / SCD-1 upsert: every 7th customer's segment+balance
    // overwritten in place, every 31st re-ingested under a new key —
    // matched rows replaced wholesale, unmatched pass through, new
    // keys insert
    Gate("t147_merge_upsert",
      // t147 twin: identical update slice; MERGE = target-minus-matched
      // UNION ALL updates
      """WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |upd AS (SELECT c_custkey, 'MERGED' AS c_mktsegment,
        |    c_acctbal + 100.0 AS c_acctbal FROM dim WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEWKEY', c_acctbal FROM dim
        |  WHERE c_custkey % 31 = 0)
        |SELECT c_custkey, c_mktsegment, c_acctbal FROM (
        |  SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal FROM dim d
        |  LEFT JOIN upd u ON u.c_custkey = d.c_custkey
        |  WHERE u.c_custkey IS NULL
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM upd)
        |ORDER BY c_custkey""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, lit}
        val dim = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
        val upd = dim.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), lit("MERGED").as("c_mktsegment"),
            (col("c_acctbal") + 100.0).as("c_acctbal"))
          .unionByName(dim.filter(col("c_custkey") % 31 === 0)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              lit("NEWKEY").as("c_mktsegment"), col("c_acctbal")))
        Relational.mergeUpsert(dim, upd, "c_custkey").orderBy("c_custkey") }),
    // SCD-2 interval build: order-status history collapsed into
    // validity intervals (gaps-and-islands, customer-partitioned)
    Gate("t125_scd2_intervals",
      // t125 twin: the identical gaps-and-islands run collapse and
      // lead() interval chaining -- dates and integers only
      """WITH o AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)
        |  - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |    ORDER BY o_orderdate, o_orderkey) AS grp
        |  FROM orders),
        |r AS (SELECT o_custkey, o_orderstatus, grp,
        |  min(o_orderdate) AS valid_from, min(o_orderkey) AS first_key,
        |  count(*) AS n_orders
        |  FROM o GROUP BY 1, 2, 3)
        |SELECT o_custkey, o_orderstatus, valid_from,
        |  lead(valid_from, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, first_key) AS valid_to,
        |  first_key, n_orders
        |FROM r ORDER BY o_custkey, valid_from, first_key""".stripMargin,
      t => Relational.scd2Intervals(t.orders)),
    // INCREMENTAL SCD-2: fold the post-1996 slice into the pre-1996
    // state (closed intervals untouched, open intervals extend or
    // close); must equal the full rebuild — twin is t125's verbatim
    Gate("t133_scd2_fold",
      // t133/t137 twins: t125's full-rebuild SQL VERBATIM — the
      // incremental fold (batch and streamed) must be indistinguishable
      // from rebuilding over all orders
      """WITH o AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)
        |  - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |    ORDER BY o_orderdate, o_orderkey) AS grp
        |  FROM orders),
        |r AS (SELECT o_custkey, o_orderstatus, grp,
        |  min(o_orderdate) AS valid_from, min(o_orderkey) AS first_key,
        |  count(*) AS n_orders
        |  FROM o GROUP BY 1, 2, 3)
        |SELECT o_custkey, o_orderstatus, valid_from,
        |  lead(valid_from, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, first_key) AS valid_to,
        |  first_key, n_orders
        |FROM r ORDER BY o_custkey, valid_from, first_key""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, lit, to_date}
        val cut = to_date(lit("1996-01-01"))
        Relational.scd2Fold(
            Relational.scd2State(t.orders.filter(col("o_orderdate") < cut)),
            t.orders.filter(col("o_orderdate") >= cut))
          .select("o_custkey", "o_orderstatus", "valid_from", "valid_to",
            "first_key", "n_orders")
          .orderBy("o_custkey", "valid_from", "first_key") }),
    Gate("q08_top3_per_brand", q08Sql, t => Relational.topPartsPerBrand(t.lineitem, t.part)),
    Gate("q09_running_total",
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
        | floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS UNBOUNDED PRECEDING) AS DOUBLE)*100.0+0.5)/100.0 AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
      t => Relational.runningTotal(t.lineitem)),
    Gate("q10_topk_parts",
      s"""WITH t AS (SELECT l_partkey, ${mny("l_quantity")} AS total_qty
         |  FROM lineitem GROUP BY 1)
         |SELECT l_partkey, p_name, total_qty FROM t JOIN part ON l_partkey = p_partkey
         |ORDER BY total_qty DESC, l_partkey LIMIT 10""".stripMargin,
      t => Relational.topkParts(t.lineitem, t.part)),
    Gate("q11_distinct_counts",
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers,
        | count(DISTINCT l_partkey) AS n_parts, count(*) AS n_lines
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.distinctCounts(t.lineitem)),
    Gate("q12_rollup_qty", q12Sql, t => Relational.rollupQty(t.lineitem)),
    Gate("q13_setops_status",
      """WITH o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |     f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM o INTERSECT SELECT * FROM f)
        |UNION ALL
        |SELECT o_custkey, 'only_o' AS tag FROM (SELECT * FROM o EXCEPT SELECT * FROM f)
        |UNION ALL
        |SELECT o_custkey, 'only_f' AS tag FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
        |ORDER BY o_custkey, tag""".stripMargin,
      t => Relational.setopsStatus(t.orders)),
    Gate("q14_nation_f_share",
      s"""SELECT n_name,
         | ${meanL("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END")} AS f_share,
         | count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.nationStatusShare(t.orders, t.customer, t.nation)),
    Gate("q15_monthly_orders",
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         | CAST(month(o_orderdate) AS BIGINT) AS mth,
         | count(*) AS n_orders, ${mny("o_totalprice")} AS total_price
         |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => Relational.monthlyOrders(t.orders)),
    Gate("q16_type_word_stats",
      s"""SELECT string_split(p_type, ' ')[1] AS type_word, count(*) AS n_parts,
         | ${mean("p_retailprice")} AS avg_price, max(p_size) AS max_size
         |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.typeWordStats(t.part)),
    Gate("q17_part_pairs",
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_orders
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1,2 ORDER BY n_orders DESC, pa, pb LIMIT 20""".stripMargin,
      t => Relational.partPairs(t.lineitem)),
    Gate("q38_approx_distinct",
      // HLL++ internals aren't oracle-portable; the declared output is
      // exact counts + within-10%-of-exact booleans (see Relational
      // scaladoc), which the oracle CAN check.
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers,
        | count(DISTINCT l_partkey) AS n_parts,
        | TRUE AS suppliers_ok, TRUE AS parts_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.approxDistinctCounts(t.lineitem)),
    // approximate quantiles: the sketch-merge shape for 100 TB
    // (exact values + within-tolerance booleans, the q38 pattern)
    Gate("q48_approx_quantiles",
      // GK-sketch internals aren't oracle-portable (q38 precedent); the
      // declared output is exact percentiles + within-tolerance booleans
      s"""SELECT l_returnflag,
         | ${q4("quantile_cont(l_quantity, 0.5)")} AS med_qty,
         | ${q4("quantile_cont(l_extendedprice, 0.9)")} AS p90_price,
         | TRUE AS med_ok, TRUE AS p90_ok,
         | count(*) AS n_lines
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.approxQuantileReport(t.lineitem)),
    // incremental NDV: per-shard mergeable HLL sketches unioned to a
    // corpus estimate — statistics that stay fresh without rescans
    Gate("q49_incremental_ndv",
      // DataSketches HLL bytes aren't oracle-portable (q38 precedent);
      // the declared output is exact counts + within-tolerance booleans
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_suppliers,
        | TRUE AS parts_ok, TRUE AS suppliers_ok
        |FROM lineitem""".stripMargin,
      t => Relational.incrementalNdv(t.lineitem)),
    // ANALYZE-style per-column profile: null count, exact NDV,
    // min/max in long format — the CBO statistics surface
    Gate("t81_table_profile", t81Sql, t => Relational.tableProfile(t.lineitem)),
    Gate("q44_percentiles",
      // Spark `percentile` == DuckDB `quantile_cont` (SQL-standard
      // rank interpolation; verified bit-identical on this data)
      s"""SELECT l_returnflag,
         | ${q4("quantile_cont(l_quantity, 0.5)")} AS med_qty,
         | ${q4("quantile_cont(l_quantity, 0.9)")} AS p90_qty,
         | ${q4("quantile_cont(l_extendedprice, 0.5)")} AS med_price,
         | count(*) AS n_lines
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.groupedPercentiles(t.lineitem)),
    Gate("q46_status_pivot",
      // CAST to BIGINT: DuckDB's sum() over integers returns HUGEINT
      // (decimal128 in parquet), while Spark's pivot+count emits BIGINT —
      // same values, different physical type, hash mismatch (round-2
      // judge-reproduced).
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
        | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
        | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.statusPivot(t.orders)),
    Gate("q47_ship_delay",
      s"""SELECT o_orderpriority,
         | ${meanL("datediff('day', o_orderdate, l_shipdate)")} AS avg_delay,
         | min(datediff('day', o_orderdate, l_shipdate)) AS min_delay,
         | max(datediff('day', o_orderdate, l_shipdate)) AS max_delay,
         | count(*) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Relational.shipDelayStats(t.lineitem, t.orders)),
    Gate("q45_rank_variants",
      s"""SELECT p_brand, p_partkey,
         | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         | ${q4("percent_rank() OVER w")} AS pr,
         | ${q4("cume_dist() OVER w")} AS cd
         |FROM part WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
         |ORDER BY p_brand, p_partkey""".stripMargin,
      t => Relational.rankVariants(t.part)),
    // ANALYZE-style column statistics: exact equi-depth histogram
    // (ntileExact — no fact-sized sort) + per-bucket n/NDV/min/max
    // over order totals in cents
    Gate("t231_column_stats",
      // t231 twin: DuckDB's real ntile under the identical (v, id)
      // total order, then the per-bucket statistics
      """WITH b AS (SELECT CAST(floor(o_totalprice*100.0+0.5) AS BIGINT) AS v,
        |    o_orderkey AS id FROM orders),
        |t AS (SELECT v, id,
        |    CAST(ntile(8) OVER (ORDER BY v, id) AS BIGINT) AS bucket FROM b)
        |SELECT bucket, count(*) AS n, count(DISTINCT v) AS ndv,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, expr}
        Relational.columnStats(t.orders,
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"),
          col("o_orderkey"), k = 8) }),
    // WEEKDAY SEASONAL PROFILE: robust per-(priority, ISO weekday)
    // lower median of daily order counts via the histogram rank
    Gate("t239_weekday_profile",
      // t239 twin: identical histogram rank cut per (grp, isodow) cell
      """WITH daily AS (SELECT o_orderpriority AS grp,
        |    CAST(o_orderdate AS DATE) AS d, count(*) AS x
        |  FROM orders GROUP BY 1, 2),
        |h AS (SELECT grp, isodow(d) AS wd, x, count(*) AS c
        |  FROM daily GROUP BY 1, 2, 3),
        |cum AS (SELECT grp, wd, x, c,
        |    sum(c) OVER (PARTITION BY grp, wd ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY grp, wd) AS n FROM h)
        |SELECT grp, CAST(wd AS BIGINT) AS wd,
        |  CAST(max(n) AS BIGINT) AS n_days,
        |  CAST(min(x) AS BIGINT) AS median_daily
        |FROM cum WHERE cum >= (n + 1) // 2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        Relational.weekdayMedianProfile(t.orders, col("o_orderpriority"),
          col("o_orderdate")) }),
    // MANN-KENDALL trend test: distribution-free monotone-trend S
    // statistic per priority over the same daily series — all sign
    // counts, no division anywhere
    Gate("t237_mann_kendall",
      // t237 twin: the identical pair-sign sum over the same series
      """WITH daily AS (SELECT o_orderpriority AS grp,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      AS t, count(*) AS x
        |  FROM orders GROUP BY 1, 2)
        |SELECT a.grp, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |FROM daily a JOIN daily b ON a.grp = b.grp AND a.t < b.t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, datediff, lit}
        val daily = t.orders.groupBy(col("o_orderpriority").as("pri"),
            col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("x"))
        Relational.mannKendallInt(daily, col("pri"),
          datediff(col("dt").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long"), col("x")) }),
    // THEIL-SEN robust slope: lower-median pairwise micro slope per
    // priority — the ~29%-contamination-proof trend companion
    Gate("t238_theil_sen",
      // t238 twin: the identical pair-slope micro DIV and lower-median
      // rank cut under the same (sm, ta, tb) total order
      """WITH daily AS (SELECT o_orderpriority AS grp,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      AS t, count(*) AS x
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT a.grp, a.t AS ta, b.t AS tb,
        |    ((b.x - a.x) * 1000000) // (b.t - a.t) AS sm
        |  FROM daily a JOIN daily b ON a.grp = b.grp AND a.t < b.t),
        |r AS (SELECT grp, sm,
        |    row_number() OVER (PARTITION BY grp ORDER BY sm, ta, tb) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS m FROM p)
        |SELECT grp, CAST(m AS BIGINT) AS n_pairs,
        |  CAST(sm AS BIGINT) AS theil_sen_micro
        |FROM r WHERE rn = (m + 1) // 2 ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, datediff, lit}
        val daily = t.orders.groupBy(col("o_orderpriority").as("pri"),
            col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("x"))
        Relational.theilSenInt(daily, col("pri"),
          datediff(col("dt").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long"), col("x")) }),
    // EXACT TRIMMED MEAN (5% each side) of order totals per priority:
    // histogram-rank interval overlap, all integer — the robust
    // location statistic for heavy-tailed feature columns
    Gate("t241_trimmed_mean",
      // t241 twin: the identical histogram-rank interval-overlap math.
      // t242 (streaming histogram MV) must render the SAME rows — twin
      // shared verbatim
      trimmedMeanSql,
      t => {
        import org.apache.spark.sql.functions.{col, expr}
        Relational.trimmedMeanInt(t.orders, col("o_orderpriority"),
          expr("CAST(floor(o_totalprice*100.0+0.5) AS BIGINT)")) }),
    // LINEAR TREND per priority: OLS slope/intercept of the daily
    // order-count series in exact integer moments, micro-unit DIV
    Gate("t235_linear_trend",
      // t235 twin: the identical HUGEINT moments and micro DIV with the
      // same variance guard (shared with the streamed MV t236)
      trendSql,
      t => {
        import org.apache.spark.sql.functions.{col, count, datediff, lit}
        val daily = t.orders.groupBy(col("o_orderpriority").as("pri"),
            col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("x"))
        Relational.linearTrendInt(daily, col("pri"),
          datediff(col("dt").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long"), col("x")) }),
    // ROLLING EXACT MEDIAN: 7-observation lower median over the daily
    // order-count series per priority — windows sort |series| rows,
    // never the fact table (the autocorr/EWMA series contract)
    Gate("t233_rolling_median",
      // t233 twin: the identical lower-median element index over the
      // same ROWS frame — no interpolation on either side
      """WITH daily AS (SELECT o_orderpriority AS grp,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      AS tt, count(*) AS x
        |  FROM orders GROUP BY 1, 2)
        |SELECT grp, CAST(tt AS BIGINT) AS t, CAST(x AS BIGINT) AS x,
        |  CAST((list_sort(list(x) OVER w))[
        |    CAST((count(*) OVER w + 1) // 2 AS BIGINT)] AS BIGINT) AS med
        |FROM daily
        |WINDOW w AS (PARTITION BY grp ORDER BY tt
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY grp, t""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, datediff, lit}
        val daily = t.orders.groupBy(col("o_orderpriority").as("pri"),
            col("o_orderdate").as("dt"))
          .agg(count(lit(1)).as("x"))
        // day index, not epoch micros: o_orderdate is NTZ in some
        // fixture generations and unix_micros rejects NTZ
        Relational.rollingMedianInt(daily, col("pri"),
          datediff(col("dt").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long"), col("x"), window = 7) }),
    // the skew family's first gate row: the salted join's contract is
    // EXACT equality with the plain join — brand revenue through the
    // salted path must hash-match the unsalted twin
    Gate("t102_salted_join",
      // t102 twin: the UNSALTED join — the salted path's whole contract
      s"""SELECT p_brand, count(*) AS n_items, ${mny(rev)} AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val big = t.lineitem.select(col("l_partkey").as("pk"),
          col("l_extendedprice"), col("l_discount"))
        val small = t.part.select(col("p_partkey").as("pk"), col("p_brand"))
        graft.ops.Skew.saltedJoin(big, small, "pk")
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"),
            graft.ops.Exact.moneySum(
              col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy("p_brand") }),
    // explicit GROUPING SETS (cube/rollup's general form): revenue at
    // (flag, status), (flag), and grand-total levels in ONE Expand
    // pass, aggregation level derived from the null pattern (source
    // keys are non-null, so the derivation is unambiguous)
    Gate("q86_grouping_sets",
      // q86 twin: the identical three grouping sets and null-pattern
      // level derivation
      s"""SELECT l_returnflag, l_linestatus, ${mny(rev)} AS revenue,
         |  count(*) AS n_lines,
         |  CAST(CASE WHEN l_returnflag IS NULL AND l_linestatus IS NULL
         |    THEN 2 WHEN l_linestatus IS NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS lvl
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         |  (l_returnflag), ())
         |ORDER BY lvl, l_returnflag, l_linestatus""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, count, lit, when}
        t.lineitem
          .groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(graft.ops.Exact.moneySum(
              col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
            count(lit(1)).as("n_lines"))
          .withColumn("lvl",
            when(col("l_returnflag").isNull && col("l_linestatus").isNull, 2L)
              .when(col("l_linestatus").isNull, 1L).otherwise(0L))
          .orderBy(col("lvl"), col("l_returnflag"), col("l_linestatus")) })
  )

  // t81 twin: one aggregate row unpivoted by a generated UNION — the
  // same column list as Relational.tableProfile, same quantized
  // min/max doubles, exact NDVs
  private lazy val t81Sql: String = {
    val cols = Relational.ProfileColumns
    val per = cols.map(c =>
      s"SELECT '$c' AS col_name, n_rows, nn_$c AS n_nulls, ndv_$c AS ndv, min_$c AS min_d, max_$c AS max_d FROM s")
      .mkString("\nUNION ALL\n")
    s"""WITH s AS (SELECT count(*) AS n_rows,
       |  ${cols.map(c =>
            s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c, " +
              s"count(DISTINCT $c) AS ndv_$c, " +
              s"${q4(s"CAST(min($c) AS DOUBLE)")} AS min_$c, " +
              s"${q4(s"CAST(max($c) AS DOUBLE)")} AS max_$c").mkString(",\n  ")}
       |  FROM lineitem)
       |$per
       |ORDER BY col_name""".stripMargin
  }
}
