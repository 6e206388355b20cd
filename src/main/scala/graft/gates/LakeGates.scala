package graft.gates

import graft.ops._

/** Lake maintenance over manifested and bucketed tables
  * (`graft.sinks.LakeWriter`). */
object LakeGates {
  def gates: Seq[Gate] = Seq(
    // CDC SNAPSHOT DIFF: the t147 upsert (plus a deletion arm)
    // committed as manifested snapshot v2 over the dim's v1, both
    // read back via TIME TRAVEL, diffed into the insert/update/delete
    // change feed — O(changed) rows out
    Gate("t156_cdc_diff",
      // t156 twin: the v2 state re-derived relationally (t147's merge
      // plus the deletion arm), full-outer diff against the dim,
      // null-safe payload compare
      """WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |upd AS (SELECT c_custkey, 'MERGED' AS c_mktsegment,
        |    c_acctbal + 100.0 AS c_acctbal FROM dim WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEWKEY', c_acctbal FROM dim
        |  WHERE c_custkey % 31 = 0),
        |v2 AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM (
        |    SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal FROM dim d
        |    LEFT JOIN upd u ON u.c_custkey = d.c_custkey
        |    WHERE u.c_custkey IS NULL
        |    UNION ALL
        |    SELECT c_custkey, c_mktsegment, c_acctbal FROM upd)
        |  WHERE c_custkey % 13 <> 3)
        |, j AS (SELECT o.c_custkey AS ko, n.c_custkey AS kn,
        |    o.c_mktsegment AS os, o.c_acctbal AS ob,
        |    n.c_mktsegment AS ns, n.c_acctbal AS nb
        |  FROM dim o FULL OUTER JOIN v2 n ON o.c_custkey = n.c_custkey)
        |SELECT kn AS c_custkey, 'insert' AS change_type,
        |  ns AS c_mktsegment, nb AS c_acctbal FROM j WHERE ko IS NULL
        |UNION ALL
        |SELECT ko, 'delete', os, ob FROM j WHERE kn IS NULL
        |UNION ALL
        |SELECT ko, 'update_preimage', os, ob FROM j
        |WHERE ko IS NOT NULL AND kn IS NOT NULL
        |  AND (os IS DISTINCT FROM ns OR ob IS DISTINCT FROM nb)
        |UNION ALL
        |SELECT ko, 'update_postimage', ns, nb FROM j
        |WHERE ko IS NOT NULL AND kn IS NOT NULL
        |  AND (os IS DISTINCT FROM ns OR ob IS DISTINCT FROM nb)
        |ORDER BY c_custkey, change_type""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{col, lit}
        import graft.sinks.LakeWriter
        val dim = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
        val upd = dim.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), lit("MERGED").as("c_mktsegment"),
            (col("c_acctbal") + 100.0).as("c_acctbal"))
          .unionByName(dim.filter(col("c_custkey") % 31 === 0)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              lit("NEWKEY").as("c_mktsegment"), col("c_acctbal")))
        val v2 = Relational.mergeUpsert(dim, upd, "c_custkey")
          .filter(col("c_custkey") % 13 =!= 3)
        val root = java.nio.file.Files.createTempDirectory("cdc_gate").toString
        val lw = new LakeWriter(root)
        lw.commitManifested(dim, "cdc_dim", append = false)
        lw.commitManifested(v2, "cdc_dim", append = false)
        Relational.snapshotDiff(
            lw.readManifested(s, "cdc_dim", 1),
            lw.readManifested(s, "cdc_dim", 2), "c_custkey")
          .orderBy("c_custkey", "change_type") }),
    // SCHEMA EVOLUTION on a manifested table: commit v1 without
    // c_acctbal, append v2 WITH it — the snapshot read pins the
    // latest manifest's schema, so v1's carried files surface the
    // added column as NULL (never footer-sampling nondeterminism)
    Gate("t180_schema_evolution",
      // t180 twin: v1 rows surface the added column as typed NULL
      """SELECT c_custkey, c_mktsegment, CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_acctbal
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.col
        val root = java.nio.file.Files.createTempDirectory("graft_evolve").toString
        val lw = new graft.sinks.LakeWriter(root)
        lw.commitManifested(t.customer.filter(col("c_custkey") % 2 === 0)
          .select("c_custkey", "c_mktsegment"), "dim", append = false)
        lw.commitManifested(t.customer.filter(col("c_custkey") % 2 === 1)
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "dim")
        lw.readManifested(s, "dim").orderBy("c_custkey") }),
    // KEY ERASURE on a manifested bucketed table: three key-range
    // commits, then right-to-be-forgotten for custkey % 37 == 3 —
    // the selective path rewrites ONLY affected commits and retires
    // them in the same manifest publish; read-back must equal the
    // batch filter
    Gate("t201_erasure",
      // t201 twin: erasure = the batch anti-filter over the fact
      """SELECT o_orderkey, o_custkey,
        |  CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |FROM orders WHERE o_custkey % 37 <> 3
        |ORDER BY o_orderkey""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{col, floor, max}
        val root = java.nio.file.Files.createTempDirectory("g_erasure").toString
        val lw = new graft.sinks.LakeWriter(root)
        val tbl = "g_erasure_orders"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val o = t.orders.select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        lw.commitBucketed(o.filter(col("o_orderkey") * 3 <= mx),
          tbl, 8, Seq("o_custkey"), replace = true)
        lw.commitBucketed(
          o.filter(col("o_orderkey") * 3 > mx && col("o_orderkey") * 3 <= 2 * mx),
          tbl, 8, Seq("o_custkey"))
        lw.commitBucketed(o.filter(col("o_orderkey") * 3 > 2 * mx),
          tbl, 8, Seq("o_custkey"))
        val keys = o.select("o_custkey").distinct()
          .filter(col("o_custkey") % 37 === 3)
        lw.deleteKeysBucketed(s, tbl, Seq("o_custkey"), keys)
        val out = graft.sinks.LakeWriter.readBucketedTable(s, tbl)
          .select("o_orderkey", "o_custkey", "cents")
          .orderBy("o_orderkey").localCheckpoint()
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        out }),
    // CHANGE DATA FEED between snapshots: two delta commits to a
    // manifested bucketed table, then table_changes(v1, v2) — the
    // planted upserts/inserts come back as exact CDC arms
    Gate("t203_table_changes",
      // t203 twin: the planted CDC arms spelled out — %4 upserts emit
      // pre+post images, %31 new keys emit inserts
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM customer)
        |SELECT k, 'update_preimage' AS change_type, seg, cents
        |FROM base WHERE k % 4 = 0
        |UNION ALL
        |SELECT k, 'update_postimage', seg, cents + 500 FROM base WHERE k % 4 = 0
        |UNION ALL
        |SELECT k + 1000000, 'insert', seg, cents FROM base WHERE k % 31 = 0
        |ORDER BY k, change_type""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{col, floor, when}
        val root = java.nio.file.Files.createTempDirectory("g_cdf").toString
        val lw = new graft.sinks.LakeWriter(root)
        val tbl = "g_cdf_cust"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val base = t.customer.select(col("c_custkey").as("k"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents"))
        lw.commitBucketed(base, tbl, 8, Seq("k"), replace = true)
        val delta = base.filter(col("k") % 4 === 0)
            .select(col("k"), col("seg"), (col("cents") + 500L).as("cents"))
          .unionByName(base.filter(col("k") % 31 === 0)
            .select((col("k") + 1000000L).as("k"), col("seg"), col("cents")))
        lw.commitBucketed(delta, tbl, 8, Seq("k"))
        val out = graft.sinks.LakeWriter.tableChanges(s, tbl, "k", Seq("k"),
          fromVersion = 1, toVersion = 2)
          .orderBy("k", "change_type").localCheckpoint()
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        out }),
    // SNAPSHOT CLONE: version 1 of a delta-maintained table cloned to
    // an independent table AFTER a v2 upsert landed — the clone must
    // show the pre-upsert state (pinning, not latest)
    Gate("t227_snapshot_clone",
      // t227 twin: the clone must equal the PRE-upsert base exactly
      """SELECT c_custkey AS k,
        |  CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        |FROM customer ORDER BY k""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{col, floor}
        val root = java.nio.file.Files.createTempDirectory("g_clone").toString
        val lw = new graft.sinks.LakeWriter(root)
        val (tbl, cln) = ("g_clone_src", "g_clone_v1")
        s.sql(s"DROP TABLE IF EXISTS $tbl"); s.sql(s"DROP TABLE IF EXISTS $cln")
        val base = t.customer.select(col("c_custkey").as("k"),
          floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents"))
        lw.commitBucketed(base, tbl, 8, Seq("k"), replace = true)
        lw.commitBucketed(base.filter(col("k") % 3 === 0)
            .select(col("k"), (col("cents") + 111L).as("cents")),
          tbl, 8, Seq("k"))
        lw.cloneSnapshot(s, tbl, cln, version = 1, mergeKeys = Seq("k"))
        val out = graft.sinks.LakeWriter
          .readBucketedTableMerged(s, cln, Seq("k"))
          .orderBy("k").localCheckpoint()
        s.sql(s"DROP TABLE IF EXISTS $tbl"); s.sql(s"DROP TABLE IF EXISTS $cln")
        out }),
    // BITEMPORAL lookup: SCD-2 state committed at two TRANSACTION
    // versions (pre-1996 build, then the fold delta); "status as of
    // valid date 1997-06-01" answered at BOTH txn versions — the
    // stale-knowledge arm vs the corrected one, via manifest pinning
    Gate("t211_bitemporal",
      // t211 twin: the t125 run collapse evaluated at both knowledge
      // states (pre-cut slice, full history), as-of-filtered and
      // union'd with txn arms
      """WITH o1 AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)
        |  - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |    ORDER BY o_orderdate, o_orderkey) AS grp
        |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'),
        |r1 AS (SELECT o_custkey, o_orderstatus, grp,
        |  min(o_orderdate) AS valid_from, min(o_orderkey) AS first_key
        |  FROM o1 GROUP BY 1, 2, 3),
        |s1 AS (SELECT o_custkey, o_orderstatus, valid_from,
        |  lead(valid_from, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, first_key) AS valid_to FROM r1),
        |o2 AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)
        |  - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |    ORDER BY o_orderdate, o_orderkey) AS grp
        |  FROM orders),
        |r2 AS (SELECT o_custkey, o_orderstatus, grp,
        |  min(o_orderdate) AS valid_from, min(o_orderkey) AS first_key
        |  FROM o2 GROUP BY 1, 2, 3),
        |s2 AS (SELECT o_custkey, o_orderstatus, valid_from,
        |  lead(valid_from, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, first_key) AS valid_to FROM r2)
        |SELECT CAST(1 AS INTEGER) AS txn_v, o_custkey, o_orderstatus,
        |  valid_from
        |FROM s1 WHERE valid_from <= DATE '1997-06-01'
        |  AND (valid_to IS NULL OR valid_to > DATE '1997-06-01')
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), o_custkey, o_orderstatus, valid_from
        |FROM s2 WHERE valid_from <= DATE '1997-06-01'
        |  AND (valid_to IS NULL OR valid_to > DATE '1997-06-01')
        |ORDER BY txn_v, o_custkey""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{col, lit, to_date}
        val root = java.nio.file.Files.createTempDirectory("g_bitemp").toString
        val lw = new graft.sinks.LakeWriter(root)
        val tbl = "g_bitemp_scd2"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val cut = to_date(lit("1996-01-01"))
        lw.commitBucketed(
          Relational.scd2State(t.orders.filter(col("o_orderdate") < cut)),
          tbl, 8, Seq("o_custkey"), replace = true)
        val st1 = graft.sinks.LakeWriter.readBucketedTableMerged(
          s, tbl, Seq("o_custkey"))
        lw.commitBucketed(
          Relational.scd2FoldDelta(st1,
            t.orders.filter(col("o_orderdate") >= cut)),
          tbl, 8, Seq("o_custkey"))
        val v = to_date(lit("1997-06-01"))
        def asOf(tx: Int) = graft.sinks.LakeWriter
          .readBucketedTableMerged(s, tbl, Seq("o_custkey"), version = tx)
          .filter(col("valid_from") <= v &&
            (col("valid_to").isNull || col("valid_to") > v))
          .select(lit(tx).as("txn_v"), col("o_custkey"),
            col("o_orderstatus"), col("valid_from"))
        val out = asOf(1).unionByName(asOf(2))
          .orderBy("txn_v", "o_custkey").localCheckpoint()
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        out }),
    // Z-order (Morton) clustering key — the data-layout lever behind
    // LakeWriter.writeZOrdered; the interleave is pure bit math both
    // engines compute identically, so the key itself is gated and the
    // file-pruning effect is spec-asserted on real parquet footers
    Gate("t73_zorder_key",
      // Morton-interleave twin: the same 16+16 shift/mask terms
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         | ${(0 until 16).map(i =>
              s"(((l_partkey >> $i) & 1) << ${2 * i + 1}) + (((l_suppkey >> $i) & 1) << ${2 * i})")
              .mkString("\n |  + ")} AS zkey
         |FROM lineitem
         |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        t.lineitem.select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          graft.sinks.LakeWriter.zorderKey(col("l_partkey"), col("l_suppkey")).as("zkey"))
          .orderBy("zkey", "l_orderkey", "l_linenumber") })
  )
}
