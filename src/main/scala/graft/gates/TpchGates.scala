package graft.gates

import graft.analytics.{TpchSql, TpchSuite}
import Twins._

/** The TPC-H suite, each query twice: as DataFrame code
  * (`TpchSuite`) and as SQL text (`TpchSql`). */
object TpchGates {
  /** q64–q85 run the DataFrame bodies and q88–q109 submit the same
    * query as Spark-dialect SQL text through `spark.sql` over registered
    * views. Both share one DuckDB twin verbatim, so SQL text, DataFrame
    * and oracle must agree three ways (TpchSql scaladoc). */
  def gates: Seq[Gate] = (1 to 22).flatMap(i => Seq(
    Gate(f"q${63 + i}%d_tpch$i%02d", tpchTwin(i), t => TpchSuite.run(t, i)),
    Gate(f"q${87 + i}%d_tpch$i%02d_sql", tpchTwin(i), t => TpchSql.run(t.spark, t, i))))

  // derived PARTSUPP for the TPC-H twins — the identical integer
  // derivation as TpchSuite.partsupp (no partsupp table in the
  // synthetic schema; DIV/`//` exact in both engines)
  private val psCte =
    """ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |  CAST(sum(l_quantity) AS BIGINT) * 7 AS ps_availqty,
      |  min(CAST(floor(l_extendedprice*100.0+0.5) AS BIGINT) //
      |      CAST(l_quantity AS BIGINT)) AS ps_supplycost_cents
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** DuckDB twins for the TPC-H suite, keyed by canonical query
    * number — shared VERBATIM by the DataFrame gates (q64–q85) and
    * the SQL-text gates (q88–q109): both paths must hash-match the
    * same oracle rows. */
  private lazy val tpchTwin: Map[Int, String] = Map(
    1 -> tpch01Sql,
    2 ->
      s"""WITH $psCte,
         |eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
         |pse AS (SELECT ps.*, eur.s_name, eur.s_acctbal, eur.n_name
         |  FROM ps JOIN eur ON ps_suppkey = eur.s_suppkey),
         |mc AS (SELECT ps_partkey AS mc_partkey,
         |  min(ps_supplycost_cents) AS mc_cost FROM pse GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
         |  ps_supplycost_cents
         |FROM part JOIN pse ON p_partkey = ps_partkey
         |JOIN mc ON ps_partkey = mc_partkey
         |  AND ps_supplycost_cents = mc_cost
         |WHERE p_size = 15 AND p_type = 'STANDARD'
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin,
    3 ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${mny(rev)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1998-03-15'
         |GROUP BY 1,2,3
         |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    4 ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    5 ->
      s"""SELECT n_name, ${mny(rev)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    6 ->
      s"""SELECT ${mny("l_extendedprice*l_discount")} AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,
    7 ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year, ${mny(rev)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
    8 ->
      """WITH r AS (
        | SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |   CAST(floor((l_extendedprice*(1.0-l_discount))*10000.0+0.5)
        |     AS BIGINT) AS v,
        |   n2.n_name AS supp_nation
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n1 ON c_nationkey = n1.n_nationkey
        | JOIN region ON n1.n_regionkey = r_regionkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation n2 ON s_nationkey = n2.n_nationkey
        | WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1998-01-01'),
        |m AS (SELECT o_year,
        |   CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END)
        |     AS HUGEINT) AS num,
        |   CAST(sum(v) AS HUGEINT) AS den FROM r GROUP BY 1)
        |SELECT o_year,
        |  CAST(CASE WHEN den > 0 THEN (num * 1000000) // den END AS BIGINT)
        |    AS mkt_share_micro
        |FROM m ORDER BY o_year""".stripMargin,
    9 ->
      s"""WITH $psCte
         |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         | CAST(sum(CAST(floor((l_extendedprice*(1.0-l_discount))*10000.0+0.5)
         |     AS BIGINT)
         |   - ps_supplycost_cents * 100 * CAST(l_quantity AS BIGINT))
         |   AS BIGINT) AS profit_tmil
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
         |GROUP BY 1,2 ORDER BY nation, o_year DESC""".stripMargin,
    10 ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, ${mny(rev)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-10-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1,2,3,4 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    11 ->
      s"""WITH $psCte,
         |v AS (SELECT ps_partkey,
         |   CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT)
         |     AS value_cents
         | FROM ps JOIN supplier ON ps_suppkey = s_suppkey
         | JOIN nation ON s_nationkey = n_nationkey
         | WHERE n_name = 'NATION_5' GROUP BY 1),
         |g AS (SELECT CAST(sum(value_cents) AS BIGINT) AS global_cents FROM v)
         |SELECT ps_partkey, value_cents FROM v CROSS JOIN g
         |WHERE value_cents * 10000 > global_cents
         |ORDER BY value_cents DESC, ps_partkey""".stripMargin,
    12 ->
      """SELECT l_returnflag AS ship_mode,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |WHERE l_returnflag IN ('A','N')
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    13 ->
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    14 ->
      """WITH r AS (SELECT
        |  CAST(floor((l_extendedprice*(1.0-l_discount))*10000.0+0.5)
        |    AS BIGINT) AS v, p_type
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |   AND l_shipdate < TIMESTAMP '1997-10-01'),
        |m AS (SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END)
        |    AS HUGEINT) AS num,
        |  CAST(sum(v) AS HUGEINT) AS den, count(*) AS n_lines FROM r)
        |SELECT CAST(CASE WHEN den > 0 THEN (num * 1000000) // den END
        |  AS BIGINT) AS promo_share_micro, n_lines FROM m""".stripMargin,
    15 ->
      """WITH rev AS (SELECT l_suppkey AS supplier_no,
        |  CAST(sum(CAST(floor((l_extendedprice*(1.0-l_discount))*10000.0+0.5)
        |    AS BIGINT)) AS BIGINT) AS total_rev_tmil
        | FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-04-01'
        | GROUP BY 1),
        |m AS (SELECT max(total_rev_tmil) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, total_rev_tmil
        |FROM rev CROSS JOIN m JOIN supplier ON supplier_no = s_suppkey
        |WHERE total_rev_tmil = max_rev ORDER BY s_suppkey""".stripMargin,
    16 ->
      s"""WITH $psCte
         |SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
         |  AND p_size IN (1,4,9,16,25,36,49)
         |  AND ps_suppkey NOT IN
         |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1,2,3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    17 ->
      """WITH b AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |   CAST(floor(l_extendedprice*10000.0+0.5) AS BIGINT) AS pt
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE p_brand = 'Brand#7'),
        |a AS (SELECT l_partkey AS ap_key, CAST(sum(q) AS BIGINT) AS sum_q,
        |   count(*) AS n_q FROM b GROUP BY 1)
        |SELECT CAST(CAST(sum(pt) AS HUGEINT) // 7 AS BIGINT) AS weekly_tmil,
        |  count(*) AS n_lines
        |FROM b JOIN a ON l_partkey = ap_key
        |WHERE q * 5 * n_q < sum_q""".stripMargin,
    18 ->
      """WITH big AS (SELECT l_orderkey AS big_okey,
        |  CAST(sum(l_quantity) AS BIGINT) AS total_qty
        | FROM lineitem GROUP BY 1
        | HAVING CAST(sum(l_quantity) AS BIGINT) > 320)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  total_qty
        |FROM orders JOIN big ON o_orderkey = big_okey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    19 ->
      s"""SELECT ${mny(rev)} AS revenue, count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    20 ->
      s"""WITH $psCte,
         |sh AS (SELECT l_partkey AS sh_pkey, l_suppkey AS sh_skey,
         |  CAST(sum(l_quantity) AS BIGINT) AS sh_qty
         | FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |   AND l_shipdate < TIMESTAMP '1998-01-01'
         | GROUP BY 1,2),
         |ex AS (SELECT DISTINCT ps_suppkey FROM ps
         | JOIN sh ON ps_partkey = sh_pkey AND ps_suppkey = sh_skey
         | WHERE ps_partkey IN
         |     (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')
         |   AND ps_availqty * 2 > sh_qty)
         |SELECT s_suppkey, s_name FROM supplier
         |WHERE s_nationkey IN
         |    (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_4')
         |  AND s_suppkey IN (SELECT ps_suppkey FROM ex)
         |ORDER BY s_suppkey""".stripMargin,
    21 ->
      """WITH ofo AS (SELECT o_orderkey, o_orderdate FROM orders
        |  WHERE o_orderstatus = 'F'),
        |ln AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM lineitem JOIN ofo ON l_orderkey = o_orderkey),
        |late AS (SELECT l_orderkey AS okey, l_suppkey AS skey FROM ln
        |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
        |l1 AS (SELECT late.okey, late.skey, s_name
        |  FROM late JOIN supplier ON skey = s_suppkey
        |  WHERE s_nationkey IN
        |    (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_6'))
        |SELECT s_name, count(*) AS numwait FROM l1
        |WHERE EXISTS (SELECT 1 FROM ln
        |    WHERE ln.l_orderkey = l1.okey AND ln.l_suppkey <> l1.skey)
        |  AND NOT EXISTS (SELECT 1 FROM late la
        |    WHERE la.okey = l1.okey AND la.skey <> l1.skey)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    22 ->
      """WITH cust AS (SELECT c_custkey, c_acctbal,
        |   CAST(CAST(c_nationkey % 10 AS BIGINT) AS VARCHAR) AS cntrycode
        | FROM customer WHERE c_nationkey % 10 IN (1,3,5,7,9)),
        |a AS (SELECT CAST(sum(CAST(floor(c_acctbal*100.0+0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents, count(*) AS n_pos
        |  FROM cust WHERE c_acctbal > 0.0)
        |SELECT cntrycode, count(*) AS numcust,
        |  floor(CAST(sum(CAST(floor(c_acctbal*100.0+0.5) AS BIGINT))
        |    AS DOUBLE)/100.0*100.0+0.5)/100.0 AS totacctbal
        |FROM cust CROSS JOIN a
        |WHERE CAST(floor(c_acctbal*100.0+0.5) AS BIGINT) * n_pos > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
