package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sinks.LakeWriter

/** Incremental dedup: a new shard probes a persisted minhash index —
  * the daily 100 TB workflow where re-canonicalizing history is not an
  * option. Three claims, each its own test:
  *
  *  1. semantics — output equals the full recompute RESTRICTED to
  *     pairs with ≥1 new side, and old×old dups never surface;
  *  2. plan: the indexed band table is scanned exactly once and never
  *     sits under a shuffle (bucketed by bkey, the probe join reads
  *     its buckets in place);
  *  3. plan: the verification semi-join reads history token sets
  *     bucket-locally (bucketed by doc_id) — only the small candidate
  *     id frame shuffles.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "alpha beta gamma delta epsilon"), // old×old dup — must NOT surface
    (3L, "red orange yellow green blue indigo"),
    (4L, "one two three four five six seven"),
    (6L, "lorem ipsum dolor sit amet"),
    (10L, "red orange yellow green blue indigo"), // new, dup of old 3
    (15L, "spark catalyst tungsten codegen shuffle"),
    (20L, "spark catalyst tungsten codegen shuffle") // new×new dup
  ).toDF("doc_id", "text")

  private def newShard = corpus.filter($"doc_id" % 5 === 0)
  private def history = corpus.filter($"doc_id" % 5 =!= 0)

  test("incremental output == full recompute restricted to new-involving pairs") {
    val idx = Dedup.minhashIndexFrames(history)
    val inc = Dedup.incrementalMinhashPairs(newShard, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val newIds = Set(10L, 15L, 20L)
    val full = Dedup.minhashLshPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => newIds(p._1) || newIds(p._2)).toSet
    assert(inc == full)
    assert(inc.contains((3L, 10L, 1.0)), "old-new dup must surface")
    assert(inc.contains((15L, 20L, 1.0)), "new-new dup must surface")
    assert(!inc.exists(p => p._1 == 1L && p._2 == 2L),
      "old-old dup must be unrepresentable, not merely filtered")
    Dedup.releaseCaches()
  }

  test("crash-replay: a batch already in the index emits duplicate-free pairs") {
    // nearDupStream's recovery contract: after a crash between index
    // append and emission, the batch is REPLAYED — its doc_ids are
    // already indexed. The replayed docs must not ride the verify
    // token union twice (once from history, once from the shard);
    // the emitted frame must be one row per pair, identical to the
    // non-replayed emission.
    val cleanIdx = Dedup.minhashIndexFrames(history)
    val clean = Dedup.incrementalMinhashPairs(newShard, cleanIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Dedup.releaseCaches()
    val replayIdx = Dedup.minhashIndexFrames(corpus) // batch already appended
    val replay = Dedup.incrementalMinhashPairs(newShard, replayIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(replay.length == replay.distinct.length,
      s"replayed batch must not duplicate pair rows: ${replay.toSeq}")
    assert(replay.toSet == clean.toSet,
      "replayed emission must match the non-replayed emission")
    Dedup.releaseCaches()
  }

  private def scansOf(plan: SparkPlan, table: String): Seq[FileSourceScanExec] =
    plan.collect {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == table) => f
    }

  /** Shuffles whose subtree contains a scan of `table` — i.e. places
    * where that table's rows cross the wire before first being
    * reduced by a join.
    */
  private def shufflesOver(plan: SparkPlan, table: String): Seq[SparkPlan] =
    plan.collect {
      case e: ShuffleExchangeExec if scansOf(e, table).nonEmpty => e
    }

  /** No shuffle BETWEEN the table's scan and its first join ancestor —
    * the bucket-local-probe claim. (Shuffles of the small RESULT
    * downstream of the join, e.g. a final orderBy, are fine.)
    */
  private def probeIsBucketLocal(plan: SparkPlan, table: String): Boolean = {
    def path(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == table) =>
        Some(List(p))
      case _ => p.children.iterator.flatMap(c => path(c)).nextOption().map(p :: _)
    }
    path(plan).exists { nodes =>
      nodes.reverse // scan .. root
        .takeWhile(!_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        .forall(!_.isInstanceOf[ShuffleExchangeExec])
    }
  }

  private def withStaticPlans[A](body: => A): A = {
    // AQE re-plans at runtime and hides the join subtree inside query
    // stages; broadcast would sidestep the bucket join entirely. Both
    // off ⇒ the executedPlan IS the plan we ship at scale (a 100 TB
    // index is never broadcast, and AQE only narrows from here).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("bucketed index bands: scanned once, never shuffled") {
    val root = Files.createTempDirectory("mhidx").toString
    Dedup.writeMinhashIndex(
      Dedup.minhashIndexFrames(history), new LakeWriter(root), "mhidx", buckets = 4)
    try withStaticPlans {
      val idx = Dedup.readMinhashIndex(spark, "mhidx")
      val cand = Dedup.incrementalCandidates(
        Dedup.minhashIndexFrames(newShard).bands, idx.bands)
      val plan = cand.queryExecution.executedPlan
      assert(scansOf(plan, "mhidx_bands").size == 1,
        s"indexed bands must feed exactly one join (no old-by-old recompute):\n$plan")
      assert(shufflesOver(plan, "mhidx_bands").isEmpty,
        s"indexed bands must join bucket-locally, not shuffle:\n$plan")
      // the candidate values survive the bucketed path unchanged
      val got = cand.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((3L, 10L), (15L, 20L)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS mhidx_bands")
      spark.sql("DROP TABLE IF EXISTS mhidx_toks")
    }
  }

  test("bucketed index toks: candidate semi-join is bucket-local on the history side") {
    val root = Files.createTempDirectory("mhidx2").toString
    Dedup.writeMinhashIndex(
      Dedup.minhashIndexFrames(history), new LakeWriter(root), "mhidx2", buckets = 4)
    try withStaticPlans {
      val idx = Dedup.readMinhashIndex(spark, "mhidx2")
      val candIds = Seq(1L, 3L).toDF("doc_id")
      val needed = idx.toks.join(candIds, Seq("doc_id"), "left_semi")
      val plan = needed.queryExecution.executedPlan
      assert(scansOf(plan, "mhidx2_toks").size == 1)
      assert(shufflesOver(plan, "mhidx2_toks").isEmpty,
        s"history toks must filter in place; only candidate ids may shuffle:\n$plan")
      assert(needed.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS mhidx2_bands")
      spark.sql("DROP TABLE IF EXISTS mhidx2_toks")
    }
  }

  test("incrementalExactDedup == full exactDedup restricted to the new shard") {
    val inc = Dedup.incrementalExactDedup(newShard, Dedup.exactDedupIndex(history))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val newIds = Set(10L, 15L, 20L)
    val full = Dedup.exactDedup(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .filter(t => newIds(t._1)).toSet
    assert(inc == full)
    // the canonical for new doc 10 is OLD doc 3 — history resolution,
    // not shard-local; 15 stays canonical for the new-new pair
    assert(inc == Set((10L, 3L, true), (15L, 15L, false), (20L, 15L, true)))
  }

  test("exact fingerprint index: bucketed probe is exchange-free and append-mode grows it") {
    val root = Files.createTempDirectory("fpidx").toString
    new LakeWriter(root).commitBucketed(
      Dedup.exactDedupIndex(history), "fpidx", buckets = 4, bucketCols = Seq("fp"))
    try {
      withStaticPlans {
        val idx = LakeWriter.readBucketedTable(spark, "fpidx")
        val probe = Dedup.incrementalExactDedup(newShard, idx)
        val plan = probe.queryExecution.executedPlan
        assert(scansOf(plan, "fpidx").size == 1)
        assert(probeIsBucketLocal(plan, "fpidx"),
          s"fingerprint history must join bucket-locally:\n$plan")
        assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          == Set((10L, 3L), (15L, 15L), (20L, 15L)))
      }
      // the daily loop: append today's NOVEL fingerprints (anti-join —
      // an fp already indexed keeps its older canonical), tomorrow
      // sees the shard as history
      val novel = Dedup.exactDedupIndex(newShard)
        .join(LakeWriter.readBucketedTable(spark, "fpidx"), Seq("fp"), "left_anti")
      new LakeWriter(root, mode = "append").commitBucketed(
        novel, "fpidx", buckets = 4, bucketCols = Seq("fp"))
      val grown = LakeWriter.readBucketedTable(spark, "fpidx")
      // one row per distinct text across both shards, min ids kept
      assert(grown.count() == Dedup.exactDedupIndex(corpus).count())
      assert(grown.collect().map(r => (r.getString(0), r.getLong(1))).toMap
        == Dedup.exactDedupIndex(corpus).collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap)
    } finally spark.sql("DROP TABLE IF EXISTS fpidx")
  }

  test("compactBucketedManifested: appended shards collapse to one file per bucket; probe stays exchange-free") {
    val root = Files.createTempDirectory("mhidx4").toString
    val w = new LakeWriter(root)
    Dedup.writeMinhashIndex(
      Dedup.minhashIndexFrames(history), w, "mhidx4", buckets = 4)
    // the daily loop, twice: each append adds one file per bucket
    Dedup.writeMinhashIndex(
      Dedup.minhashIndexFrames(newShard), new LakeWriter(root, mode = "append"),
      "mhidx4", buckets = 4)
    Dedup.writeMinhashIndex(
      Dedup.minhashIndexFrames(
        Seq((30L, "quantum flux capacitor dilithium crystal")).toDF("doc_id", "text")),
      new LakeWriter(root, mode = "append"), "mhidx4", buckets = 4)
    // manifested layout: data files live under graft_cv=<v> commit
    // partitions — count them recursively
    def dataFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) 1
        else 0
      walk(new java.io.File(dir))
    }
    try {
      val rowsBefore = LakeWriter.readBucketedTable(spark, "mhidx4_bands").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val before = dataFiles(s"$root/mhidx4_bands")
      assert(before > 4, s"three bucketed writes should exceed one file per bucket, saw $before")
      w.compactBucketedManifested(spark, "mhidx4_bands")
      w.vacuumBucketed(spark, "mhidx4_bands", keepVersions = 1)
      assert(dataFiles(s"$root/mhidx4_bands") <= 4,
        "compaction + vacuum should leave at most one file per bucket")
      // rows survive byte-identically
      assert(LakeWriter.readBucketedTable(spark, "mhidx4_bands").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == rowsBefore)
      // and the table is still BUCKETED: the incremental probe plan
      // keeps its zero-exchange guarantee — the exact hazard plain
      // compact() would have caused (it rewrites unbucketed)
      withStaticPlans {
        val idx = Dedup.readMinhashIndex(spark, "mhidx4")
        val probe = Seq((100L, "red orange yellow green blue indigo"))
          .toDF("doc_id", "text")
        val cand = Dedup.incrementalCandidates(
          Dedup.minhashIndexFrames(probe).bands, idx.bands)
        val plan = cand.queryExecution.executedPlan
        assert(scansOf(plan, "mhidx4_bands").size == 1)
        assert(shufflesOver(plan, "mhidx4_bands").isEmpty,
          s"compacted index must still join bucket-locally:\n$plan")
        // doc 100 duplicates old docs 3 and 10 — both indexed shards answer
        assert(cand.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          == Set((3L, 100L), (10L, 100L)))
      }
      Dedup.releaseCaches()
    } finally {
      spark.sql("DROP TABLE IF EXISTS mhidx4_bands")
      spark.sql("DROP TABLE IF EXISTS mhidx4_toks")
    }
  }

  test("compact refuses a partitioned entity and recovers a stale __old") {
    val root = Files.createTempDirectory("cpx").toString
    val w = new LakeWriter(root)
    // partitioned entity → fail fast, don't destroy partition columns
    w.write(Seq((1L, "a")).toDF("id", "v"), "parted", "2026-01-01")
    val err = intercept[IllegalArgumentException] {
      w.compact(spark, "parted")
    }
    assert(err.getMessage.contains("partition"))
    // stale aside (`_old-<name>`) next to a healthy entity → dropped, compact proceeds
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$root/plain")
    Seq((9L, "stale")).toDF("id", "v").write.parquet(s"$root/_old-plain")
    w.compact(spark, "plain")
    assert(!new java.io.File(s"$root/_old-plain").exists)
    assert(spark.read.parquet(s"$root/plain").count() == 2)
    // crash between the renames (entity missing, aside present) → recovered
    require(new java.io.File(s"$root/plain").renameTo(new java.io.File(s"$root/_old-plain")))
    w.compact(spark, "plain")
    assert(spark.read.parquet(s"$root/plain").count() == 2)
  }

  test("end-to-end over a persisted index matches the in-memory path") {
    val root = Files.createTempDirectory("mhidx3").toString
    Dedup.writeMinhashIndex(
      Dedup.minhashIndexFrames(history), new LakeWriter(root), "mhidx3", buckets = 4)
    try {
      val idx = Dedup.readMinhashIndex(spark, "mhidx3")
      val viaTable = Dedup.incrementalMinhashPairs(newShard, idx)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaTable == Set((3L, 10L, 1.0), (15L, 20L, 1.0)))
    } finally {
      Dedup.releaseCaches()
      spark.sql("DROP TABLE IF EXISTS mhidx3_bands")
      spark.sql("DROP TABLE IF EXISTS mhidx3_toks")
    }
  }
}
