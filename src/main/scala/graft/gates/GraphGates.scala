package graft.gates

import graft.ops._

/** Graph operators (`graft.ops.GraphOps`). */
object GraphGates {
  def gates: Seq[Gate] = Seq(
    Gate("t152_incremental_cc",
      // t152 twin: the t145 full-graph closure verbatim — the fold over
      // the half-graph labeling must reproduce it exactly
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |p AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM e UNION SELECT src, dst FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id, min(r) AS component FROM reach GROUP BY id
        |ORDER BY id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.ok").as("ok"), col("a.pk").as("src"), col("b.pk").as("dst"))
        val oldE = pairs.filter(col("ok") % 2 === 0).select("src", "dst")
        val newE = pairs.filter(col("ok") % 2 === 1).select("src", "dst")
        GraphOps.foldComponents(
          GraphOps.connectedComponents(oldE, maxIter = 60), newE, maxIter = 60) }),
    // K-CORE peeling (k=3, exactly 6 rounds) on the sparsified
    // co-purchase graph; the twin unrolls the same 6 rounds as
    // chained CTEs — replayable bit-for-bit
    Gate("t161_kcore",
      // t161 twin: the same 6 peeling rounds unrolled as materialized
      // chained CTEs (DuckDB re-evaluates plain CTEs per reference)
      kCoreUnrolledSql(k = 3, rounds = 6),
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.kCore(pairs, k = 3, rounds = 6) }),
    // PARENT-POINTER FOREST root+depth by pointer DOUBLING — log2(D)
    // self-joins instead of D parent hops; twin is the recursive CTE
    Gate("t165_forest_depth",
      // t165 twin: the recursive CTE the pointer doubling replaces
      """WITH RECURSIVE r(id, node, d) AS (
        |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM part
        |  UNION ALL
        |  SELECT id, node // 7, d + 1 FROM r WHERE node // 7 >= 1)
        |SELECT id, node AS root, d AS depth FROM (
        |  SELECT id, node, d,
        |    row_number() OVER (PARTITION BY id ORDER BY d DESC) AS rn FROM r)
        |WHERE rn = 1 ORDER BY id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, expr, when}
        val nodes = t.part.select(col("p_partkey").cast("long").as("id"),
          when(col("p_partkey") >= 7,
            expr("CAST(p_partkey AS BIGINT) div 7")).as("parent"))
        GraphOps.forestRootDepth(nodes) }),
    // MULTI-SOURCE BFS on the sparsified co-purchase graph: minimum
    // hops (<= 4) from the seed parts; level-synchronous frontier
    // expansion — work is frontier-sized per round, twin is the
    // bounded recursive CTE
    Gate("t173_bfs",
      // t173 twin: the bounded recursive CTE (states are (node, depth)
      // pairs with depth <= 4, so the walk can't blow up)
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |p AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |walk(id, d) AS (
        |  SELECT DISTINCT src, 0 FROM e WHERE src % 101 = 0
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON w.id = e.src WHERE w.d < 4)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id
        |ORDER BY id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        val nodes = pairs.select(col("src").as("id"))
          .unionByName(pairs.select(col("dst").as("id"))).distinct()
        GraphOps.bfsLevels(pairs, nodes.filter(col("id") % 101 === 0), rounds = 4) }),
    // HITS hubs/authorities on the customer->part bipartite graph,
    // two mutual-reinforcement rounds in EXACT integer arithmetic
    // (max-normalized by integer division, the t119 trick)
    Gate("t183_hits",
      // t183 twin: two unrolled mutual-reinforcement rounds, identical
      // integer max-normalization (// is floor division on positives)
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |h0 AS (SELECT DISTINCT src AS id, 1000000 AS score FROM e),
        |a1r AS (SELECT dst AS id, sum(score) AS raw FROM e
        |  JOIN h0 ON src = h0.id GROUP BY dst),
        |a1 AS (SELECT id, raw * 1000000 // (SELECT max(raw) FROM a1r) AS score
        |  FROM a1r),
        |h1r AS (SELECT src AS id, sum(score) AS raw FROM e
        |  JOIN a1 ON dst = a1.id GROUP BY src),
        |h1 AS (SELECT id, raw * 1000000 // (SELECT max(raw) FROM h1r) AS score
        |  FROM h1r),
        |a2r AS (SELECT dst AS id, sum(score) AS raw FROM e
        |  JOIN h1 ON src = h1.id GROUP BY dst),
        |a2 AS (SELECT id, raw * 1000000 // (SELECT max(raw) FROM a2r) AS score
        |  FROM a2r),
        |h2r AS (SELECT src AS id, sum(score) AS raw FROM e
        |  JOIN a2 ON dst = a2.id GROUP BY src),
        |h2 AS (SELECT id, raw * 1000000 // (SELECT max(raw) FROM h2r) AS score
        |  FROM h2r)
        |SELECT 'hub' AS role, id, CAST(score AS BIGINT) AS score FROM h2
        |UNION ALL
        |SELECT 'authority' AS role, id, CAST(score AS BIGINT) AS score FROM a2
        |ORDER BY role, id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val e = t.orders.select("o_orderkey", "o_custkey")
          .join(t.lineitem.select("l_orderkey", "l_partkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        GraphOps.hits(e, iters = 2) }),
    // WEIGHTED SHORTEST PATHS (bounded Bellman-Ford): exact min cost
    // within 4 hops from the seed parts over the sparsified
    // co-purchase graph, synthetic deterministic integer weights —
    // per round one equi-join + min-combining groupBy, never |V|·|E|
    Gate("t188_sssp",
      // t188 twin: hop-bounded recursive enumeration of weighted walks
      // (h <= 4), min cost per node — exactly what 4 Bellman-Ford
      // relaxation rounds compute
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |p AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e0 AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |e AS (SELECT src, dst, (src * 7 + dst * 13) % 20 + 1 AS w FROM e0),
        |walk(id, d, h) AS (
        |  SELECT DISTINCT src, CAST(0 AS BIGINT), 0 FROM e WHERE src % 101 = 0
        |  UNION
        |  SELECT e.dst, wk.d + e.w, wk.h + 1
        |  FROM walk wk JOIN e ON wk.id = e.src WHERE wk.h < 4)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id
        |ORDER BY id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        val both = pairs.unionByName(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        val weighted = both.withColumn("w",
          (col("src") * 7 + col("dst") * 13) % 20 + 1)
        val sources = both.select(col("src").as("id")).distinct()
          .filter(col("id") % 101 === 0)
        GraphOps.ssspInt(weighted, sources, rounds = 4) }),
    // PERSONALIZED PageRank: restart mass concentrated on the seed
    // parts (TrustRank shape) — exact integer micro-unit scores,
    // bit-identical to the twin's unrolled CTEs
    Gate("t189_ppr",
      // t189 twin: t119's unrolled integer power iteration with the
      // restart mass CASE-gated onto the seed set
      {
      val iter = (i: Int) =>
        s"""c$i AS (SELECT e.dst AS id, sum((85 * s.s) // (100 * d.deg)) AS sc
           |  FROM e JOIN s${i - 1} s ON s.id = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY 1),
           |s$i AS (SELECT n.id,
           |  CAST(CASE WHEN n.id % 101 = 0 THEN 150000 ELSE 0 END
           |    + coalesce(c$i.sc, 0) AS BIGINT) AS s
           |  FROM n LEFT JOIN c$i ON c$i.id = n.id)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem WHERE l_quantity <= 5),
         |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |s0 AS (SELECT id, CAST(CASE WHEN id % 101 = 0 THEN 1000000 ELSE 0 END
         |  AS BIGINT) AS s FROM n),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT id, s FROM s3 ORDER BY id""".stripMargin
    },
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        val sources = pairs.select(col("src").as("id")).distinct()
          .filter(col("id") % 101 === 0)
        GraphOps.pageRankPersonalizedInt(pairs, sources, iters = 3) }),
    // LINK PREDICTION: non-adjacent part pairs with >= 2 common
    // co-purchase neighbors, scored by common-neighbor count and
    // degree product — the oriented wedge enumeration, existing
    // edges anti-joined away
    Gate("t190_link_prediction",
      // t190 twin: the same oriented wedge candidates, existing edges
      // anti-joined, integer degree products
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 10),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |cand AS (SELECT x.v AS a, y.v AS b, count(*) AS common_neighbors
        |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ne AS (SELECT c.* FROM cand c LEFT JOIN e ON e.a = c.a AND e.b = c.b
        |  WHERE e.a IS NULL),
        |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1)
        |SELECT ne.a AS id_a, ne.b AS id_b, ne.common_neighbors,
        |  da.deg * db.deg AS deg_product
        |FROM ne JOIN deg da ON da.u = ne.a JOIN deg db ON db.u = ne.b
        |ORDER BY common_neighbors DESC, id_a, id_b""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 10)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.linkPrediction(pairs, minCommon = 2L) }),
    // DETERMINISTIC random walks: 4 hash-argmin steps from every
    // seed part — the replayable DeepWalk-style walk corpus; the
    // twin unrolls the identical md5-argmin step rule
    Gate("t191_random_walks",
      // t191 twin: the identical md5-argmin step rule unrolled — one
      // row_number CTE pair per step
      {
      val step = (i: Int) =>
        s"""n$i AS (SELECT w.walk_id, e.dst,
           |    md5(concat_ws(':', 'walk13', '$i',
           |      CAST(w.node AS VARCHAR), CAST(e.dst AS VARCHAR))) AS h
           |  FROM w${i - 1} w JOIN e ON w.node = e.src),
           |w$i AS (SELECT walk_id, CAST($i AS BIGINT) AS step, dst AS node
           |  FROM (SELECT *, row_number() OVER (PARTITION BY walk_id
           |      ORDER BY h, dst) AS rn FROM n$i) WHERE rn = 1)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem WHERE l_quantity <= 5),
         |p AS (SELECT DISTINCT a.pk AS a, b.pk AS b
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |w0 AS (SELECT id AS walk_id, CAST(0 AS BIGINT) AS step, id AS node
         |  FROM n WHERE id % 29 = 0),
         |${(1 to 4).map(step).mkString(",\n")}
         |${(0 to 4).map(i => s"SELECT * FROM w$i").mkString("\nUNION ALL\n")}
         |ORDER BY walk_id, step""".stripMargin
    },
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        val starts = pairs.select(col("src").as("id"))
          .unionByName(pairs.select(col("dst").as("id"))).distinct()
          .filter(col("id") % 29 === 0)
        GraphOps.randomWalksDet(pairs, starts, steps = 4, seed = "walk13") }),
    // SUBTREE AGGREGATION (BOM rollup) over the part %7 forest:
    // ancestor closure by repeated squaring (log-depth rounds), one
    // groupBy on the ancestor — descendant counts + cents sums
    Gate("t205_subtree_agg",
      // t205 twin: the recursive ancestor CTE the squaring closure
      // replaces — same self-inclusive subtree accounting
      """WITH RECURSIVE anc(id, a) AS (
        |  SELECT p_partkey, p_partkey FROM part
        |  UNION ALL
        |  SELECT id, a // 7 FROM anc WHERE a // 7 >= 1),
        |v AS (SELECT p_partkey AS id,
        |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS v FROM part)
        |SELECT anc.a AS id, count(*) AS n_nodes,
        |  CAST(sum(v.v) AS BIGINT) AS subtree_v
        |FROM anc JOIN v ON anc.id = v.id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, expr, floor}
        val parents = t.part
          .select(col("p_partkey").as("child"),
            expr("p_partkey DIV 7").as("parent"))
          .filter(col("parent") >= 1)
        val values = t.part.select(col("p_partkey").as("id"),
          floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("v"))
        GraphOps.subtreeAggInt(parents, values, maxDepth = 8) }),
    // WEIGHTED PageRank: co-purchase edges weighted by shared-order
    // count, 85% mass spread weight-proportionally, integer-floored
    // contributions — heavier ties pull more rank
    Gate("t225_weighted_pagerank",
      // t225 twin: the identical weighted power iteration unrolled
      {
      val iter = (i: Int) =>
        s"""c$i AS (SELECT e.dst AS id,
           |  sum((85 * s.s * e.w) // (100 * wo.wsum)) AS sc
           |  FROM e JOIN s${i - 1} s ON s.id = e.src
           |  JOIN wo ON wo.src = e.src
           |  GROUP BY 1),
           |s$i AS (SELECT n.id,
           |  CAST(150000 + coalesce(c$i.sc, 0) AS BIGINT) AS s
           |  FROM n LEFT JOIN c$i ON c$i.id = n.id)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem WHERE l_quantity <= 5),
         |e AS (SELECT a.pk AS src, b.pk AS dst, count(*) AS w
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
         |  GROUP BY 1, 2),
         |wo AS (SELECT src, sum(w) AS wsum FROM e GROUP BY 1),
         |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |s0 AS (SELECT id, CAST(1000000 AS BIGINT) AS s FROM n),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT id, s FROM s3 ORDER BY id""".stripMargin
    },
      t => {
        import org.apache.spark.sql.functions.{col, count, lit}
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val weighted = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
          .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
          .agg(count(lit(1)).as("w"))
        GraphOps.pageRankWeightedInt(weighted, iters = 3) }),
    // DEGREE ASSORTATIVITY of the co-purchase graph: Pearson over the
    // degrees at every directed-pair's two ends, integer moments, one
    // quantized division
    Gate("t222_assortativity",
      // t222 twin: identical degree-pair HUGEINT moments, one division
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |p AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS (SELECT a AS u, b AS v FROM p UNION ALL SELECT b, a FROM p),
        |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
        |x AS (SELECT CAST(d1.deg AS HUGEINT) AS x, CAST(d2.deg AS HUGEINT) AS y
        |  FROM sym JOIN deg d1 ON d1.u = sym.u JOIN deg d2 ON d2.u = sym.v),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
        |    sum(x * y) AS sxy FROM x)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS assortativity
        |FROM m""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.degreeAssortativity(pairs) }),
    // MAXIMAL INDEPENDENT SET: Luby's algorithm with md5-hash
    // priorities over the co-purchase graph — replayable symmetry
    // breaking, O(log n) rounds, fail-loud round bound
    Gate("t218_mis",
      // t218 twin: the identical Luby rounds unrolled
      misUnrolledSql(seed = "mis14", rounds = 12),
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
        GraphOps.maximalIndependentSet(pairs, seed = "mis14", rounds = 12) }),
    // generic connected components over a sparsified co-purchase
    // graph (quantity-filtered, so components are real multi-hop
    // structures, not one giant clique) — the dedup-cluster min-label
    // core exposed for arbitrary edge frames
    Gate("t145_connected_components",
      // t145 twin: the same sparsified co-purchase edges, recursive
      // reachability closure, min node id per component
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |p AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM e UNION SELECT src, dst FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id, min(r) AS component FROM reach GROUP BY id
        |ORDER BY id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.connectedComponents(pairs, maxIter = 60) }),
    // the SAME graph through the alternating big-star/small-star
    // contraction — O(log n) rounds instead of O(diameter) sweeps,
    // the huge-diameter 100× lever; output must match t145 verbatim
    Gate("t146_cc_bigstar",
      // t146 twin: the t145 closure verbatim — the alternating
      // contraction must produce the identical component map
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |p AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM e UNION SELECT src, dst FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id, min(r) AS component FROM reach GROUP BY id
        |ORDER BY id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem.filter(col("l_quantity") <= 5)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.connectedComponentsBigStar(pairs) }),
    Gate("t119_pagerank",
      // t119 twin: the identical integer update, 3 iterations unrolled —
      // `div`/`//` both truncate on positive operands, the per-edge
      // floor-then-sum is order-free on both engines
      {
      val iter = (i: Int) =>
        s"""c$i AS (SELECT e.dst AS id, sum((85 * s.s) // (100 * d.deg)) AS sc
           |  FROM e JOIN s${i - 1} s ON s.id = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY 1),
           |s$i AS (SELECT n.id, CAST(150000 + coalesce(c$i.sc, 0) AS BIGINT) AS s
           |  FROM n LEFT JOIN c$i ON c$i.id = n.id)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |s0 AS (SELECT id, CAST(1000000 AS BIGINT) AS s FROM n),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT id, s FROM s3 ORDER BY id""".stripMargin
    },
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.pageRankInt(pairs) }),
    // per-node triangle counts over the same co-purchase graph:
    // oriented a<b<c wedge enumeration, each triangle once
    Gate("t120_triangles",
      // t120 twin: identical oriented wedge closure over the canonical
      // a<b edge set; per-node counts from the three corners
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (SELECT x AS id FROM tri UNION ALL
        |  SELECT y FROM tri UNION ALL SELECT z FROM tri),
        |pn AS (SELECT id, count(*) AS n_triangles FROM corners GROUP BY 1),
        |n AS (SELECT a AS id FROM e UNION SELECT b FROM e)
        |SELECT n.id, CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles
        |FROM n LEFT JOIN pn ON pn.id = n.id ORDER BY n.id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.triangleCounts(pairs) }),
    // degree-CAPPED triangle counts: a planted star hub (id 9999999,
    // an edge to every 3rd part) plus the natural co-purchase hubs
    // are excluded before wedge generation; exact on the capped
    // subgraph — the SCALE.md-named 100× lever for t120's Σ deg²
    Gate("t134_triangles_capped",
      // t134 twin: the same planted hub, degree filter on the full
      // canonical edge set, then t120's wedge closure on the survivors
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  UNION
        |  SELECT DISTINCT least(p_partkey, 9999999) AS a,
        |    greatest(p_partkey, 9999999) AS b
        |  FROM part WHERE p_partkey % 3 = 0 AND p_partkey <> 9999999),
        |deg AS (SELECT id, count(*) AS d FROM
        |  (SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        |keep AS (SELECT id FROM deg WHERE d <= 100),
        |e AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT id FROM keep) AND b IN (SELECT id FROM keep)),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (SELECT x AS id FROM tri UNION ALL
        |  SELECT y FROM tri UNION ALL SELECT z FROM tri),
        |pn AS (SELECT id, count(*) AS n_triangles FROM corners GROUP BY 1),
        |n AS (SELECT a AS id FROM e UNION SELECT b FROM e)
        |SELECT n.id, CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles
        |FROM n LEFT JOIN pn ON pn.id = n.id ORDER BY n.id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, lit}
        val li = t.lineitem
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        val hub = t.part.select(col("p_partkey").as("src"))
          .filter(col("src") % 3 === 0)
          .withColumn("dst", lit(9999999L))
        GraphOps.triangleCountsCapped(pairs.unionByName(hub), maxDeg = 100) }),
    // DOULION-sampled triangle estimate: hash-Bernoulli edge keep at
    // p=0.25 (no PRNG — the twin reproduces the subgraph exactly),
    // exact count on the sample, unbiased 1/p^3 scale-up
    Gate("t136_triangles_sampled",
      // t136 twin: identical hash-Bernoulli edge sample (cut =
      // floor(0.25*2^32)), t120's wedge closure on the sample, the
      // same exact 64.0 (=1/0.25^3) scale-up quantized to 4 dp
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT a, b FROM e0
        |  WHERE CAST(('0x'||substr(md5('tri:'||a||':'||b),1,8)) AS BIGINT) < 1073741824),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (SELECT x AS id FROM tri UNION ALL
        |  SELECT y FROM tri UNION ALL SELECT z FROM tri),
        |pn AS (SELECT id, count(*) AS n_sampled FROM corners GROUP BY 1),
        |n AS (SELECT a AS id FROM e UNION SELECT b FROM e)
        |SELECT n.id, CAST(coalesce(pn.n_sampled, 0) AS BIGINT) AS n_sampled,
        |  floor(CAST(coalesce(pn.n_sampled, 0) AS DOUBLE) * 64.0 * 10000.0 + 0.5)/10000.0 AS est_triangles
        |FROM n LEFT JOIN pn ON pn.id = n.id ORDER BY n.id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val li = t.lineitem
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.triangleCountsSampled(pairs, p = 0.25) })
  )

  /** t161 twin builder: k-core peeling unrolled to exactly `rounds`
    * degree→filter→restrict rounds as MATERIALIZED chained CTEs (a
    * plain CTE referenced three times per round would re-evaluate the
    * whole prefix each time).
    */
  private def kCoreUnrolledSql(k: Int, rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT id FROM (
         |    SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY id HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT id FROM n$i) AND b IN (SELECT id FROM n$i))""".stripMargin
    }
    val tail =
      s"""SELECT id, count(*) AS deg FROM (
         |  SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds)
         |GROUP BY id HAVING count(*) >= $k ORDER BY id""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  // t218 twin builder: Luby's MIS unrolled round by round over the
  // co-purchase graph — same md5 priorities, same (hash, id) tuple
  // comparisons, same fixed round count (vacuous once empty)
  private def misUnrolledSql(seed: String, rounds: Int): String = {
    def ph(i: Int, c: String) =
      s"md5(concat_ws(':', '$seed', '$i', CAST($c AS VARCHAR)))"
    val head =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity <= 5),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |rem0 AS MATERIALIZED (SELECT a AS id FROM e0 UNION SELECT b FROM e0)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""sym$i AS (SELECT a AS u, b AS v FROM e${i - 1}
         |  UNION ALL SELECT b, a FROM e${i - 1}),
         |mn$i AS MATERIALIZED (SELECT u, ph, v FROM (
         |  SELECT u, ${ph(i, "v")} AS ph, v,
         |    row_number() OVER (PARTITION BY u
         |      ORDER BY ${ph(i, "v")}, v) AS rn
         |  FROM sym$i) WHERE rn = 1),
         |sel$i AS MATERIALIZED (SELECT u AS id FROM mn$i
         |  WHERE (${ph(i, "u")}, u) < (ph, v)),
         |iso$i AS MATERIALIZED (SELECT id FROM rem${i - 1}
         |  WHERE id NOT IN (SELECT u FROM sym$i)),
         |rm$i AS MATERIALIZED (SELECT id FROM sel$i
         |  UNION SELECT v FROM sym$i WHERE u IN (SELECT id FROM sel$i)),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a NOT IN (SELECT id FROM rm$i)
         |    AND b NOT IN (SELECT id FROM rm$i)),
         |rem$i AS MATERIALIZED (SELECT id FROM rem${i - 1}
         |  WHERE id NOT IN (SELECT id FROM iso$i)
         |    AND id NOT IN (SELECT id FROM rm$i))""".stripMargin
    }
    val arms = (1 to rounds).flatMap(i =>
      Seq(s"SELECT id FROM sel$i", s"SELECT id FROM iso$i")) :+
      s"SELECT id FROM rem$rounds"
    (head +: steps).mkString(",\n") + "\n" +
      arms.mkString("", "\nUNION\n", "\nORDER BY id")
  }
}
