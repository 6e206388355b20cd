package graft.gates

import graft.analytics.{GraftSql, LlmSql, TpchSql}
import graft.core.Tables
import Twins._

/** The SQL-text front door: `spark.sql` over registered views
  * (`GraftSql`, `LlmSql`), a native engine function called from query text,
  * and the `graft_lake` catalog. */
object SqlGates {
  def gates: Seq[Gate] = Seq(
    // the SQL-TEXT front door: TPC-H Q1 submitted as ANSI SQL through
    // spark.sql over a registered view — the Exact quantize formulas
    // written in SQL directly, proving a user can drive this engine
    // with query text and get oracle-exact answers (twin = the same
    // Q1 SQL in DuckDB)
    Gate("q87_sql_text_api",
      // q87 twin: Q1 again — the spark.sql text path must be value-
      // exact with the DataFrame path and the oracle alike
      tpch01Sql,
      t => { val s = t.spark
        t.lineitem.createOrReplaceTempView("lineitem_sqlv")
        s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          floor(CAST(sum(CAST(floor(l_extendedprice*10000.0D+0.5D)
              AS DECIMAL(18,0))) AS DOUBLE)/10000.0D*100.0D+0.5D)/100.0D
            AS sum_base_price,
          floor(CAST(sum(CAST(floor(l_extendedprice*(1.0D-l_discount)*10000.0D+0.5D)
              AS DECIMAL(18,0))) AS DOUBLE)/10000.0D*100.0D+0.5D)/100.0D
            AS sum_disc_price,
          floor(CAST(sum(CAST(floor(l_extendedprice*(1.0D-l_discount)*(1.0D+l_tax)*10000.0D+0.5D)
              AS DECIMAL(18,0))) AS DOUBLE)/10000.0D*100.0D+0.5D)/100.0D
            AS sum_charge,
          floor(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
            /count(*)*10000.0D+0.5D)/10000.0D AS avg_qty,
          floor(CAST(sum(CAST(floor(l_extendedprice*1000000.0D+0.5D)
              AS DECIMAL(18,0))) AS DOUBLE)/1000000.0D/count(*)*10000.0D+0.5D)/10000.0D
            AS avg_price,
          CAST(floor(CAST(sum(CAST(floor(l_discount*1000000.0D+0.5D)
              AS DECIMAL(18,0))) AS DOUBLE)/1000000.0D/count(*)*10000.0D+0.5D)/10000.0D
            AS DOUBLE) AS avg_disc,
          count(*) AS count_order
        FROM lineitem_sqlv
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY 1, 2 ORDER BY 1, 2""") }),
    // ---- the front door beyond TPC-H (GraftSql.scala): the
    // engine's own flagship shapes as SQL text, same twins as the
    // DataFrame bodies (q22/q08/q58/t204/q51/q12 respectively)
    Gate("q110_sessionize_sql", q22Sql, t => GraftSql.run(t.spark, t, "sessionize")),
    Gate("q111_top3_brand_sql", q08Sql, t => GraftSql.run(t.spark, t, "top3_brand")),
    Gate("q112_exact_median_sql", q58Sql, t => GraftSql.run(t.spark, t, "exact_median")),
    Gate("q113_islands_sql", t204Sql, t => GraftSql.run(t.spark, t, "islands")),
    Gate("q114_mode_sql", q51Sql, t => GraftSql.run(t.spark, t, "mode")),
    Gate("q115_rollup_sql", q12Sql, t => GraftSql.run(t.spark, t, "rollup")),
    Gate("q118_range_frame_sql", q57Sql, t => GraftSql.run(t.spark, t, "range_frame")),
    Gate("q119_ignore_nulls_sql", q62Sql, t => GraftSql.run(t.spark, t, "ignore_nulls")),
    // the NATIVE-FUNCTION front door: the engine's codegen'd
    // Catalyst expression graft_max_sorted_run (registered by
    // GraftExtensions) called from USER SQL TEXT — repetition
    // scoring end to end as a query string, twin = t48's verbatim
    Gate("q117_native_fn_sql",
      // q117 twin: t48 verbatim — the SQL-text call of the native
      // codegen expression must render the identical rows
      t48Sql,
      t => { val s = t.spark
        TpchSql.registerViews(t, Seq("documents"))
        s.sql("""
          WITH t AS (SELECT doc_id,
            regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS tk
            FROM documents),
          s AS (SELECT doc_id,
            CASE WHEN size(tk) >= 3
              THEN array_sort(transform(sequence(1, size(tk) - 2),
                i -> concat_ws(' ', slice(tk, i, 3))))
              ELSE CAST(array() AS ARRAY<STRING>) END AS sh
            FROM t),
          m AS (SELECT doc_id, graft_max_sorted_run(sh) AS top_count,
            CAST(size(sh) AS BIGINT) AS n_shingles FROM s)
          SELECT doc_id, top_count, n_shingles,
            floor(CAST(top_count AS DOUBLE)/n_shingles*10000.0D+0.5D)/10000.0D
              AS rep_ratio
          FROM m WHERE n_shingles > 0 ORDER BY doc_id""")
      }),
    // the LAKE + SQL front door: a manifested bucketed table built
    // with TWO commit versions (initial load, then a delta replace
    // of the keys ≡3 mod 10), queried as SQL TEXT through the
    // graft_lake CATALOG (LakeRelationRule) — fully LAZY: the
    // merge-on-read plan resolves at analysis time, so pruning and
    // pushdown reach the parquet scan and NOTHING is materialized
    // before the text query runs (the round-16 localCheckpoint
    // shape is gone; LakeCatalogSpec pins the plan)
    Gate("q116_lake_sql",
      // q116 twin: the merged latest-wins state expressed directly —
      // base rows, with the second commit's +100 applied to keys ≡3
      // mod 10
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 3
        |    THEN CAST(floor(o_totalprice*100.0+0.5) AS BIGINT) + 100
        |    ELSE CAST(floor(o_totalprice*100.0+0.5) AS BIGINT) END)
        |    AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      t => { val s = t.spark
        val tbl = "gate_lake_sql_orders"
        lakeGateTable(t, tbl)
        s.sql(s"""SELECT o_orderstatus, count(*) AS n_orders,
          CAST(sum(cents) AS BIGINT) AS total_cents
          FROM graft_lake.$tbl GROUP BY 1 ORDER BY 1""")
      }),
    // TIME TRAVEL from SQL text: the same two-commit lake table
    // read at pinned manifest v1 via the `__v1` suffix — the delta
    // commit must be invisible, so the twin is the plain base
    // aggregate with no CASE arm
    Gate("q120_lake_timetravel_sql",
      // q120 twin: manifest v1 pins the PRE-delta snapshot, so time
      // travel must reproduce the plain base aggregate — no CASE arm
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice*100.0+0.5) AS BIGINT))
        |    AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      t => { val s = t.spark
        val tbl = "gate_lake_tt_orders"
        lakeGateTable(t, tbl)
        s.sql(s"""SELECT o_orderstatus, count(*) AS n_orders,
          CAST(sum(cents) AS BIGINT) AS total_cents
          FROM graft_lake.${tbl}__v1 GROUP BY 1 ORDER BY 1""")
      }),
    // the LLM-PIPELINE operator surface as SQL TEXT (LlmSql):
    // exact dedup, banded MinHash-LSH near-dup detection (the
    // native graft_minhash_sig / graft_sorted_inter expressions in
    // a user query string), and cosine top-k through graft_dot —
    // each against the SAME DuckDB twin as its library body
    // (t23 / t25 / s31), SQL ≡ DataFrame asserted by LlmSqlSpec
    Gate("q121_exact_dedup_sql",
      // q121 twin: t23's verbatim — exact dedup driven from SQL text
      exactDedupSql,
      t => LlmSql.run(t.spark, t, "exact_dedup")),
    Gate("q122_minhash_lsh_sql",
      // q122 twin: t25's verbatim — the banded minhash recompute
      minhashPairsSql,
      t => LlmSql.run(t.spark, t, "minhash_lsh")),
    Gate("q123_cosine_topk_sql",
      // q123 twin: s31's verbatim — the SQL-text rendering through
      // graft_dot must be indistinguishable from the library body
      cosineTopKSql,
      t => LlmSql.run(t.spark, t, "cosine_topk")),
    Gate("q124_decontaminate_sql",
      // q124 twin: t243's verbatim — the 13-gram rule driven from SQL
      // text must render the identical contamination report
      ngramDecontaminateSql,
      t => LlmSql.run(t.spark, t, "decontaminate_13gram")),
    // DESCRIBE HISTORY from SQL text: the two-commit fixture's
    // manifest log via `graft_lake.<t>__history` — pure metadata
    // (manifests are driver-side files), deterministic rows, so the
    // twin is a VALUES literal
    Gate("q125_lake_history_sql",
      // q125 twin: the fixture commits exactly twice (base replace,
      // then the ≡3-mod-10 delta), so the manifest log is literal
      """SELECT CAST(version AS BIGINT) AS version,
        |  CAST(n_live AS BIGINT) AS n_live, live_commits
        |FROM (VALUES (1, 1, '1'), (2, 2, '1,2'))
        |  AS t(version, n_live, live_commits)
        |ORDER BY version""".stripMargin,
      t => { val s = t.spark
        val tbl = "gate_lake_hist_orders"
        lakeGateTable(t, tbl)
        s.sql(s"""SELECT version, n_live, live_commits
          FROM graft_lake.${tbl}__history ORDER BY version""")
      })
  )

  /** Shared fixture for the lake+SQL gates: a manifested bucketed
    * orders table with two commits — the base load, then a +100-cents
    * delta replace of the keys ≡3 (mod 10). The catalog entry stays
    * registered (each run starts with DROP + replace-commit), so the
    * returned SQL plans stay lazy against the live manifest.
    */
  private def lakeGateTable(t: Tables, tbl: String): Unit = {
    val s = t.spark
    import org.apache.spark.sql.functions.{col, expr}
    val root = java.nio.file.Files
      .createTempDirectory("gate_lakesql").toString
    val lw = new graft.sinks.LakeWriter(root)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val base = t.orders.select(col("o_orderkey"), col("o_orderstatus"),
      expr("CAST(floor(o_totalprice*100.0+0.5) AS BIGINT)").as("cents"))
    lw.commitBucketed(base, tbl, 8, Seq("o_orderkey"), replace = true)
    lw.commitBucketed(
      base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("cents", col("cents") + 100L),
      tbl, 8, Seq("o_orderkey"))
  }
}
