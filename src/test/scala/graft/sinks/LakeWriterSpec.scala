package graft.sinks

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LakeWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables join with zero exchanges (co-located by write)") {
    val root = Files.createTempDirectory("bucketed").toString
    val lw = new LakeWriter(root)
    val facts = (1 to 10000).map(i => (i.toLong % 500, i.toLong)).toDF("k", "v")
    val dims = (1 to 5000).map(i => (i.toLong % 500, s"d$i")).toDF("k", "d")
    lw.commitBucketed(facts, "bk_facts", buckets = 8, bucketCols = Seq("k"))
    lw.commitBucketed(dims, "bk_dims", buckets = 8, bucketCols = Seq("k"))
    try {
      // disable broadcast so the join would otherwise SHUFFLE both sides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = LakeWriter.readBucketedTable(spark, "bk_facts")
        .join(LakeWriter.readBucketedTable(spark, "bk_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join:\n$plan")
      assert(joined.count() == 10000L * 10) // each k has 10 dim rows
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS bk_facts")
      spark.sql("DROP TABLE IF EXISTS bk_dims")
    }
  }

  test("zorderKey interleaves bits (golden values)") {
    import org.apache.spark.sql.functions.col
    val df = Seq((3L, 5L), (0L, 0L), (65535L, 65535L)).toDF("a", "b")
    val got = df.select(LakeWriter.zorderKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // a=3 (bits 0,1 → positions 1,3), b=5 (bits 0,2 → positions 0,4):
    // 2 + 8 + 1 + 16 = 27
    assert(got == Seq(27L, 0L, (1L << 32) - 1))
  }

  test("z-ordered layout bounds file boxes on BOTH dimensions and prunes both slices") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("zorder").toString
    val lw = new LakeWriter(root)
    // 64×64 uniform grid into 64 files ≈ one 8×8 Morton tile each
    // (sampled range boundaries may straddle tile edges, and a
    // z-range crossing a MAJOR quadrant boundary legitimately has a
    // wide box — that's inherent to Morton order — so the claims are
    // aggregate, not per-file). A single-column x-sort would give
    // full-height stripes: every file intersecting every y slice.
    val grid = spark.range(64L * 64)
      .select((col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))
    lw.writeZOrdered(grid, "zgrid", ("x", "y"), files = 64)
    val perFile = spark.read.parquet(s"$root/zgrid")
      .groupBy(col("_metadata.file_path"))
      .agg(
        (max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"),
        min("x").as("xmin"), min("y").as("ymin"))
      .collect()
    assert(perFile.length == 64)
    val tight = perFile.count(r => r.getLong(1) <= 15 && r.getLong(2) <= 15)
    assert(tight >= 48, s"only $tight of 64 files are <=16x16 tiles")
    // footer min/max alone prunes BOTH an x slice and a y slice to a
    // fraction of the files (stripes would pass one and fail the other)
    val touchY = perFile.count(_.getLong(4) <= 7)
    val touchX = perFile.count(_.getLong(3) <= 7)
    assert(touchY <= 20, s"y in [0,7] touched $touchY of 64 files")
    assert(touchX <= 20, s"x in [0,7] touched $touchX of 64 files")
  }

  test("rank-bucketed z-order balances skewed wide domains and still prunes raw slices") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("zrank").toString
    val lw = new LakeWriter(root)
    // wildly skewed wide domains: x ~ id³ (heavy tail), y ~ scattered
    // 64-bit-ish values — raw-value interleaving would put almost all
    // rows in one Morton corner
    val rows = spark.range(4096)
      .select(
        (col("id") * col("id") * col("id")).as("x"),
        ((col("id") * 2654435761L) % 1000000007L).as("y"))
    lw.writeZOrderedByRank(rows, "zr", ("x", "y"), files = 16, buckets = 64)
    val perFile = spark.read.parquet(s"$root/zr")
      .groupBy(col("_metadata.file_path"))
      .agg(count(lit(1)).as("n"), min("x").as("xmin"), max("x").as("xmax"))
      .collect()
    assert(perFile.length == 16)
    // equi-depth buckets keep file sizes balanced despite the skew
    perFile.foreach(r => assert(r.getLong(1) >= 128 && r.getLong(1) <= 512,
      s"file holds ${r.getLong(1)} of 4096 rows — rank bucketing failed"))
    // rank buckets are monotone in the raw value, so a raw x slice
    // still prunes by footer min/max: the bottom 1/8 of x values
    // (x < 512³/8 ≈ id < 256) should touch a minority of files
    val cut = 255L * 255L * 255L
    val touching = perFile.count(_.getLong(2) <= cut)
    assert(touching <= 8, s"x-slice touched $touching of 16 files")
  }

  test("writer lock: compaction cannot run while another writer holds the lock") {
    val root = Files.createTempDirectory("lock1").toString
    val lw = new LakeWriter(root, mode = "append")
    lw.commitBucketed(Seq((1L, "a")).toDF("k", "v"), "lk_tbl", 4, Seq("k"))
    try {
      // the lock is not reentrant, so holding it and compacting in
      // the same thread deterministically exercises the waiter path
      val e = intercept[IllegalStateException] {
        lw.withTableLock(spark, "lk_tbl@manifest") {
          lw.compactBucketedManifested(spark, "lk_tbl", lockWaitMs = 400)
        }
      }
      assert(e.getMessage.contains("writer lock"))
      // released ⇒ the same compact succeeds (replacement commit v2)
      assert(lw.compactBucketedManifested(spark, "lk_tbl") == 2)
    } finally spark.sql("DROP TABLE IF EXISTS lk_tbl")
  }

  test("writer lock: a crashed holder's stale lock is broken, not wedged") {
    val root = Files.createTempDirectory("lock2").toString
    val lw = new LakeWriter(root, mode = "append")
    lw.commitBucketed(Seq((1L, "a")).toDF("k", "v"), "lk_stale", 4, Seq("k"))
    try {
      // simulate a kill -9 mid-compact: lockfile exists, holder gone
      val lock = new java.io.File(s"$root/lk_stale@manifest__lock")
      assert(lock.createNewFile())
      assert(lock.setLastModified(System.currentTimeMillis() - 60000))
      assert(lw.compactBucketedManifested(spark, "lk_stale",
        lockWaitMs = 5000, lockStaleMs = 1000) == 2)
      assert(!lock.exists(), "broken stale lock must not linger")
    } finally spark.sql("DROP TABLE IF EXISTS lk_stale")
  }

  test("writer lock heartbeat: a live holder outlasting staleMs is not usurped") {
    val root = Files.createTempDirectory("lock5").toString
    val lw = new LakeWriter(root, mode = "append")
    val done = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      lw.withTableLock(spark, "lk_hb", waitMs = 1000, staleMs = 3000) {
        Thread.sleep(7000) // runs well past staleMs — only the heartbeat saves it
      }
      done.countDown()
    })
    holder.start()
    Thread.sleep(4000) // by creation mtime alone the lock would now be "stale"
    val e = intercept[IllegalStateException] {
      lw.withTableLock(spark, "lk_hb", waitMs = 1500, staleMs = 3000) { () }
    }
    assert(e.getMessage.contains("writer lock"),
      "a waiter must NOT usurp a live holder whose heartbeat is advancing")
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    lw.withTableLock(spark, "lk_hb", waitMs = 1000, staleMs = 3000) { () } // released cleanly
  }

  test("concurrent append during compact is serialized, never dropped") {
    val root = Files.createTempDirectory("lock3").toString
    val lw = new LakeWriter(root, mode = "append")
    val base = (1 to 20000).map(i => (i.toLong % 64, i.toLong)).toDF("k", "v")
    // many appended shards ⇒ many files ⇒ a compact slow enough that
    // the racing append below really overlaps its window
    (0 until 6).foreach(_ =>
      lw.commitBucketed(base.limit(2000), "lk_race", 4, Seq("k")))
    val before = LakeWriter.readBucketedTable(spark, "lk_race").count()
    try {
      val appended = new java.util.concurrent.atomic.AtomicLong(0)
      val t = new Thread(() => {
        val shard = Seq((999L, 999L), (998L, 998L)).toDF("k", "v")
        lw.commitBucketed(shard, "lk_race", 4, Seq("k"))
        appended.set(2)
      })
      t.start()
      lw.compactBucketedManifested(spark, "lk_race")
      t.join(120000)
      assert(!t.isAlive, "append thread must complete")
      assert(LakeWriter.readBucketedTable(spark, "lk_race").count()
        == before + appended.get(),
        "the appended shard must survive the compact — serialized, not dropped")
      assert(LakeWriter.readBucketedTable(spark, "lk_race")
        .filter($"k" === 999L).count() == 1)
    } finally spark.sql("DROP TABLE IF EXISTS lk_race")
  }

  test("withSwapRetry: a reader loop racing compact's directory swap never " +
    "throws and always sees the full entity") {
    val root = Files.createTempDirectory("swapread").toString
    val lw = new LakeWriter(root, mode = "append")
    val base = (1 to 8000).map(i => (i.toLong % 32, i.toLong)).toDF("k", "v")
    (0 until 4).foreach(_ =>
      base.limit(2000).write.mode("append").parquet(s"$root/lk_read"))
    val expected = spark.read.parquet(s"$root/lk_read").count()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      try while (!stop.get()) {
        val n = graft.core.Tables.withSwapRetry(spark, Seq.empty) {
          spark.read.parquet(s"$root/lk_read").count()
        }
        if (n != expected)
          failures.add(new AssertionError(s"torn read: $n != $expected"))
        reads.incrementAndGet()
        ()
      } catch { case t: Throwable => failures.add(t) }
    })
    reader.start()
    // several full swap cycles while the reader hammers the entity
    (0 until 3).foreach(_ => lw.compact(spark, "lk_read"))
    stop.set(true)
    reader.join(120000)
    assert(!reader.isAlive, "reader thread must complete")
    assert(failures.isEmpty,
      s"reader racing the swap must never throw or tear: ${failures.peek()}")
    assert(reads.get() > 0, "the reader loop must actually have read")
  }

  test("withSwapRetry: retries only missing-path failures, bounded, then rethrows") {
    // deterministic unit of the retry rule (the race above can't
    // guarantee the two-rename window is ever actually hit)
    var calls = 0
    val out = graft.core.Tables.withSwapRetry(spark, Seq.empty, backoffMs = 1L) {
      calls += 1
      if (calls < 3) throw new org.apache.spark.SparkException("scan failed",
        new java.io.FileNotFoundException("part-0000 does not exist"))
      42
    }
    assert(out == 42 && calls == 3, s"must retry through the window: calls=$calls")
    // exhausted attempts rethrow the real error
    var calls2 = 0
    val e = intercept[java.io.FileNotFoundException] {
      graft.core.Tables.withSwapRetry(spark, Seq.empty, attempts = 3, backoffMs = 1L) {
        calls2 += 1
        throw new java.io.FileNotFoundException("gone forever")
      }
    }
    assert(calls2 == 3 && e.getMessage == "gone forever")
    // a non-path failure is NOT retried — it would mask real bugs
    var calls3 = 0
    intercept[IllegalArgumentException] {
      graft.core.Tables.withSwapRetry(spark, Seq.empty, backoffMs = 1L) {
        calls3 += 1
        throw new IllegalArgumentException("analysis bug")
      }
    }
    assert(calls3 == 1, "non-missing-path errors must rethrow immediately")
  }

  test("manifested table: commits are dense versions, append carries files, " +
      "pinned versions time-travel until vacuumed") {
    val root = Files.createTempDirectory("manif").toString
    val lw = new LakeWriter(root)
    assert(lw.commitManifested((1L to 10L).toDF("v"), "m1") == 1)
    assert(lw.commitManifested((11L to 15L).toDF("v"), "m1") == 2)
    assert(lw.readManifested(spark, "m1").count() == 15)
    assert(lw.readManifested(spark, "m1", version = 1).count() == 10,
      "a pinned old version reads its own snapshot")
    // full-replacement commit
    assert(lw.commitManifested((100L to 102L).toDF("v"), "m1", append = false) == 3)
    assert(lw.readManifested(spark, "m1").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(100L, 101L, 102L))
    assert(lw.readManifested(spark, "m1", version = 2).count() == 15,
      "replacement does not disturb prior snapshots")
    // compact replaces the snapshot with identical data
    lw.compactManifested(spark, "m1")
    assert(lw.readManifested(spark, "m1").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(100L, 101L, 102L))
    // vacuum to 1 version: old manifests + unreferenced data dirs go
    val dropped = lw.vacuumManifested(spark, "m1", keepVersions = 1)
    assert(dropped >= 1, s"superseded data dirs must be reclaimed, got $dropped")
    assert(lw.readManifested(spark, "m1").count() == 3, "latest snapshot survives vacuum")
  }

  test("manifested table: a reader loop racing commits and compactions never " +
      "throws and only ever sees committed snapshots") {
    val root = Files.createTempDirectory("manifrace").toString
    val lw = new LakeWriter(root)
    lw.commitManifested((1L to 100L).toDF("v"), "m2")
    val legalCounts = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    legalCounts.add(100L)
    @volatile var writerDone = false
    val writer = new Thread(() => {
      var next = 101L
      for (i <- 1 to 4) {
        legalCounts.add(next + 49) // count after this append commits
        lw.commitManifested((next to next + 49L).toDF("v"), "m2")
        next += 50
        lw.compactManifested(spark, "m2")
        lw.vacuumManifested(spark, "m2", keepVersions = 2)
      }
      writerDone = true
    }, "manifest-writer")
    writer.start()
    var reads = 0
    var failures = List.empty[String]
    while (!writerDone && reads < 1000) {
      val c = lw.readManifested(spark, "m2").count()
      if (!legalCounts.contains(c)) failures ::= s"saw count $c"
      reads += 1
    }
    writer.join(120000)
    assert(failures.isEmpty, s"readers saw uncommitted states: ${failures.take(5)}")
    assert(reads > 0 && lw.readManifested(spark, "m2").count() == 300)
  }

  test("manifested table: a crashed commit (data dir, no manifest) is invisible " +
      "and vacuum reclaims it") {
    val root = Files.createTempDirectory("maniforph").toString
    val lw = new LakeWriter(root)
    lw.commitManifested((1L to 5L).toDF("v"), "m3")
    // simulate a crash between the data write and the manifest rename
    (6L to 9L).toDF("v").write.parquet(s"$root/m3/data-orphan")
    assert(lw.readManifested(spark, "m3").count() == 5,
      "an uncommitted data dir must be invisible to readers")
    val dropped = lw.vacuumManifested(spark, "m3", keepVersions = 1)
    assert(dropped == 1, "vacuum must reclaim exactly the orphan dir")
    assert(!new java.io.File(s"$root/m3/data-orphan").exists)
    assert(lw.readManifested(spark, "m3").count() == 5)
  }

  test("manifested table: an empty snapshot round-trips with its schema, and " +
      "compaction propagates it without losing columns") {
    val root = Files.createTempDirectory("manifempty").toString
    val lw = new LakeWriter(root)
    lw.commitManifested(Seq.empty[(Long, String)].toDF("id", "v"), "m4")
    val back = lw.readManifested(spark, "m4")
    assert(back.columns.toSeq == Seq("id", "v"),
      "empty snapshot must keep its schema so downstream column refs resolve")
    assert(back.filter(back("v").isNotNull).count() == 0,
      "column references on the empty snapshot must resolve")
    lw.compactManifested(spark, "m4")
    assert(lw.readManifested(spark, "m4").columns.toSeq == Seq("id", "v"),
      "compaction of an empty snapshot must not strip the schema")
  }

  test("manifested table: vacuum reclaims a stale tmp manifest left by a commit " +
      "that crashed before its rename") {
    val root = Files.createTempDirectory("maniftmp").toString
    val lw = new LakeWriter(root)
    lw.commitManifested((1L to 5L).toDF("v"), "m5")
    // simulate a crash between writing the tmp manifest and the rename
    val tmp = new java.io.File(s"$root/m5/_manifest-2.json.tmp")
    java.nio.file.Files.writeString(tmp.toPath, "stale")
    lw.vacuumManifested(spark, "m5", keepVersions = 1)
    assert(!tmp.exists, "vacuum must reclaim stale tmp manifests")
    assert(lw.readManifested(spark, "m5").count() == 5)
  }

  test("bucketed maintenance leaves no scratch artifacts (lock / tmp manifest)") {
    val root = Files.createTempDirectory("lock4").toString
    val lw = new LakeWriter(root, mode = "append")
    lw.commitBucketed((1 to 100).map(i => (i.toLong % 8, i.toLong)).toDF("k", "v"),
      "lk_fail", 4, Seq("k"))
    try {
      lw.compactBucketedManifested(spark, "lk_fail")
      lw.vacuumBucketed(spark, "lk_fail", keepVersions = 1)
      val leftovers = new java.io.File(root).listFiles().map(_.getName)
        .filter(n => n.contains("__lock") || n.contains("__compacting") || n.contains("__old"))
      val tmps = new java.io.File(s"$root/lk_fail__manifests").listFiles()
        .map(_.getName).filter(_.endsWith(".json.tmp"))
      assert(leftovers.isEmpty && tmps.isEmpty,
        s"maintenance must clean its scratch: ${(leftovers ++ tmps).toSeq}")
    } finally spark.sql("DROP TABLE IF EXISTS lk_fail")
  }

  test("compact rewrites a many-file entity to the target count with identical data") {
    val root = Files.createTempDirectory("compact").toString
    val lw = new LakeWriter(root)
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(16).write.parquet(s"$root/ent")
    val filesBefore = new java.io.File(s"$root/ent").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore == 16)
    val n = lw.compact(spark, "ent", targetFileBytes = 1L << 30)
    assert(n == 1)
    val filesAfter = new java.io.File(s"$root/ent").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter == 1)
    val back = spark.read.parquet(s"$root/ent")
    assert(back.count() == 10000)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("partitioned write round-trips and exposes load_date for pruning") {
    val root = Files.createTempDirectory("lake2").toString
    val lw = new LakeWriter(root)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    lw.write(df, "ent", "2026-08-12")
    val back = lw.read(spark, "ent")
    assert(back.count() == 2)
    // partition inference types the directory value as DATE — which is
    // what makes load_date range predicates prune partitions
    assert(back.select("load_date").distinct().collect()(0).get(0).toString == "2026-08-12")
  }

  test("leftover staging and aside directories are invisible to read") {
    val root = Files.createTempDirectory("lake3").toString
    val lw = new LakeWriter(root)
    lw.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "ent", "2026-08-01")
    lw.write(Seq((3L, "c")).toDF("id", "v"), "ent", "2026-09-01")
    def snapshot() = {
      val back = lw.read(spark, "ent")
      (back.schema, back.collect().map(_.toString).sorted.toSeq)
    }
    val before = snapshot()
    // a crash after the staged write (staging left) and one after the
    // rename-in (a superseded aside left), each with other rows and columns
    val other = Seq((9L, "x", 1.5)).toDF("id", "v", "extra")
    other.write.parquet(s"$root/ent/_staging-2026-09-01-${java.util.UUID.randomUUID()}")
    other.write.parquet(s"$root/ent/_aside-2026-08-01")
    assert(snapshot() == before)
  }

  test("the next write of a date recovers it from its aside or drops the stale aside") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val root = Files.createTempDirectory("lake4").toString
    val lw = new LakeWriter(root)
    val first = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    lw.write(first, "ent", "2026-08-01")
    val ent = new java.io.File(s"$root/ent")
    // crash between the two renames: only the aside holds the date
    require(new java.io.File(ent, "load_date=2026-08-01")
      .renameTo(new java.io.File(ent, "_aside-2026-08-01")))
    // the next write recovers the date first, so even a failing write keeps it
    val failing = first.withColumn("v", when(col("id") === 2L, raise_error(lit("boom")))
      .otherwise(col("v")))
    intercept[Exception](lw.write(failing, "ent", "2026-08-01"))
    assert(lw.read(spark, "ent").count() == 2)
    assert(ent.list().toSeq == Seq("load_date=2026-08-01"))
    // crash before the aside was deleted, plus a stale staging directory
    first.write.parquet(s"$root/ent/_aside-2026-08-01")
    first.write.parquet(s"$root/ent/_staging-2026-08-01-${java.util.UUID.randomUUID()}")
    assert(lw.write(Seq((5L, "e")).toDF("id", "v"), "ent", "2026-08-01") == 1L)
    assert(ent.list().toSeq == Seq("load_date=2026-08-01"))
    assert(lw.read(spark, "ent").select("id").collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("write refuses an append writer and a load date that would break the layout") {
    val root = Files.createTempDirectory("lake5").toString
    val df = Seq(1L).toDF("id")
    intercept[IllegalArgumentException] {
      new LakeWriter(root, mode = "append").write(df, "ent", "2026-08-01")
    }
    for (bad <- Seq("2026=08", "2026/08"))
      intercept[IllegalArgumentException](new LakeWriter(root).write(df, "ent", bad))
    assert(!new java.io.File(s"$root/ent").exists)
  }
}
