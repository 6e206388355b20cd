package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned Parquet lake sink.
  *
  * The reference encodes the load date into the FILENAME
  * (`YYYY-MM-DD-dadosprincipal.parquet`, `opendotaapi.py:114-118`) and
  * pushes bytes to S3 through an in-memory Arrow buffer + boto3
  * (`extract-data-dota.py:55-83`). Both are replaced by the idiomatic
  * Spark shape: one `load_date=<d>` directory per entity and date —
  * which makes the date a REAL partition column Catalyst can prune on
  * — committed by a staged swap ([[write]]), and the Hadoop s3a
  * committer, which writes distributed (no driver-side buffering of
  * the whole dataset, which at 100 TB is not optional).
  */
final class LakeWriter(root: String, mode: String = "overwrite") {

  /** Whether this writer's commits REPLACE their target (constructor
    * mode anything but "append") — the index write helpers translate
    * it into [[commitBucketed]]'s `replace` flag so a writer
    * constructed for daily shards appends and a rebuild writer
    * supersedes, exactly as the legacy bucketed path behaved.
    */
  private[graft] def replaces: Boolean = mode != "append"

  /** Commit an entity snapshot as `root/<entity>/load_date=<d>/` and
    * return the number of rows written.
    *
    * The step names its one date, so the frame is written as a plain,
    * unpartitioned Parquet write into a hidden sibling,
    * `root/<entity>/_staging-<d>-<uuid>` (partition discovery skips
    * `_` names that hold no `=`), and then swapped in for the date
    * directory with [[compact]]'s old-aside-first rename order: the
    * previous date moves to `_aside-<d>`, the staging directory is
    * renamed in, and only then is the aside deleted. A re-run replaces
    * exactly its own date and no other; a write that fails leaves the
    * previous date untouched; a crash between the renames is repaired
    * by the next write of that date, which also drops the date's stale
    * staging directories. The rename is the commit, so no `_SUCCESS`
    * marker is written. On s3a a rename is one COPY per file: one file
    * per date for a one-partition frame, no worse than the staging
    * rename of a dynamic partition overwrite.
    *
    * A frame with columns but no rows commits one 0-row file that
    * carries its schema. A frame with no columns (an inferred `[]`
    * payload) cannot be stored as Parquet: its date is removed through
    * the same aside-then-delete order and 0 is returned.
    *
    * The count is an [[Observation]] on the written frame, so it rides
    * on the write's own job: no second action re-reads or re-parses
    * the input. One file per task lands in the date directory; a
    * caller that wants one file per write hands in a one-partition
    * frame. Writes of one (entity, date) must not run concurrently.
    * Full snapshots only: an "append" writer is refused, since
    * appending into a date would bypass the swap.
    */
  def write(df: DataFrame, entity: String, loadDate: String): Long = {
    require(replaces, "LakeWriter.write commits full date snapshots; an append writer " +
      "commits through commitBucketed")
    require(!loadDate.exists("/=".contains(_)), s"load date '$loadDate' holds '/' or '='")
    val dir = new Path(s"$root/$entity")
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val target = new Path(dir, s"load_date=$loadDate")
    val aside = new Path(dir, s"_aside-$loadDate")
    val stagingPrefix = s"_staging-$loadDate-"
    LakeWriter.recoverAside(fs, target, aside)
    if (fs.exists(dir))
      fs.listStatus(dir).map(_.getPath).filter { p =>
        val n = p.getName // the uuid is 36 chars: no other date's prefix matches
        n.startsWith(stagingPrefix) && n.length == stagingPrefix.length + 36
      }.foreach(fs.delete(_, true))
    val data = df.drop("load_date")
    if (data.columns.isEmpty) {
      LakeWriter.swapIn(fs, None, target, aside)
      0L
    } else {
      val staging = new Path(dir, stagingPrefix + java.util.UUID.randomUUID())
      val written = Observation()
      try {
        data.observe(written, count(lit(1)).as("rows"))
          .write
          .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
          .parquet(staging.toString)
        // only after the write returned: a failed write never reports
        val rows = written.get("rows").asInstanceOf[Long]
        LakeWriter.swapIn(fs, Some(staging), target, aside)
        rows
      } finally { fs.delete(staging, true); () }
    }
  }

  def read(spark: SparkSession, entity: String): DataFrame =
    spark.read.parquet(s"$root/$entity")

  /** Exclusive per-table WRITER lock — the single-writer contract for
    * bucketed index maintenance. The same bucketed tables grow by
    * daily/streaming append commits ([[commitBucketed]]) and get
    * rewritten by [[compactBucketedManifested]]; unsynchronized, an
    * append landing between a compaction's snapshot read and its
    * replacement commit would silently vanish from the replacement.
    * Both paths hold this lock (scope `<table>@manifest`), so
    * maintenance and ingest serialize instead of losing data.
    * Readers are unaffected (locking writes only) — the manifested
    * protocol gives them snapshot isolation with no retry loop.
    *
    * Mechanics: atomic create-no-overwrite of `root/<table>__lock`
    * (O_EXCL; atomic on HDFS, and on object stores whose committer
    * supports conditional create), holding a random owner TOKEN.
    * Liveness and safety against crashes:
    *
    *  - HEARTBEAT: a daemon thread refreshes the lockfile's mtime
    *    every staleMs/3 while the body runs, so a live holder —
    *    however long its compact takes — never looks stale;
    *  - stale takeover: a crashed holder's mtime stops advancing;
    *    waiters break locks older than `staleMs`, re-checking
    *    (mtime, token) identity immediately before the delete so a
    *    fresh usurper's lock is never the casualty of a takeover
    *    decided against an older observation;
    *  - owner-checked release: the finally deletes the lock only if
    *    it still carries this holder's token — if a waiter somehow
    *    usurped us, we must not delete ITS lock and admit a third
    *    writer.
    *
    * Residual caveat (documented, not solved here): on a filesystem
    * without atomic create-no-overwrite or atomic delete, a narrow
    * stat-then-delete window remains in takeover; exactness across
    * uncooperative processes needs a lock service or a table format
    * with optimistic-concurrency commits — the 100 TB upgrade path.
    */
  private[sinks] def withTableLock[A](
      spark: SparkSession, table: String,
      waitMs: Long = 600000L, staleMs: Long = 600000L)(body: => A): A = {
    import org.apache.hadoop.fs.Path
    val lockPath = new Path(s"$root/${table}__lock")
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = java.util.UUID.randomUUID().toString
    def readToken(): Option[String] =
      try {
        val in = fs.open(lockPath)
        try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: java.io.IOException => None }
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        val out = fs.create(lockPath, false)
        out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        acquired = true
      } catch {
        case _: java.io.IOException =>
          try {
            val st1 = fs.getFileStatus(lockPath)
            if (System.currentTimeMillis() - st1.getModificationTime > staleMs) {
              val tok1 = readToken()
              val st2 = fs.getFileStatus(lockPath)
              if (st2.getModificationTime == st1.getModificationTime
                  && readToken() == tok1)
                fs.delete(lockPath, false) // holder is dead; break its lock
            }
          } catch { case _: java.io.IOException => () } // released/raced; retry
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"could not acquire writer lock for $table within ${waitMs}ms " +
                s"(held by a concurrent append/compact? stale after ${staleMs}ms)")
          Thread.sleep(100)
      }
    }
    val hb = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(staleMs / 3, 1000L))
          val now = System.currentTimeMillis()
          fs.setTimes(lockPath, now, now)
        }
      } catch {
        case _: InterruptedException => ()
        case _: java.io.IOException => () // lock gone; nothing to keep alive
      }
    }, s"graft-lock-heartbeat-$table")
    hb.setDaemon(true)
    hb.start()
    try body
    finally {
      hb.interrupt()
      if (readToken().contains(token)) { fs.delete(lockPath, false); () }
    }
  }

  /** Z-order-clustered write: range-partition + sort by the
    * interleaved-bit key of two filter dimensions, so every output
    * file covers a small RECTANGLE of the (a, b) space instead of a
    * thin full-height stripe — parquet min/max stats then prune scans
    * filtered on EITHER dimension, which a single-column sort only
    * gives you for its leading column. This is the data-layout lever
    * for 100 TB scan-heavy tables (Delta/Iceberg OPTIMIZE ZORDER is
    * this exact trick); the key math is gated (t73) and the pruning
    * effect is spec-asserted on real file footers.
    */
  def writeZOrdered(
      df: DataFrame, entity: String, cols: (String, String),
      files: Int, bits: Int = 16): Unit =
    df.withColumn("_z", LakeWriter.zorderKey(col(cols._1), col(cols._2), bits))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(mode).parquet(s"$root/$entity")

  /** [[writeZOrdered]] for columns whose domain doesn't fit the
    * Morton key's bit budget (timestamps, prices, 64-bit ids, skewed
    * anything): each dimension is first quantized to an EQUI-DEPTH
    * rank bucket — approx-percentile boundaries, bucket = how many
    * boundaries the value exceeds, a pure codegen'd comparison sum —
    * and the interleave runs on bucket ids. Equi-depth means every
    * bucket holds ~1/buckets of the rows no matter how skewed the
    * raw values, so file rectangles stay balanced where raw-value
    * interleaving would put 99% of rows in one corner. The one
    * driver-side action is the boundary probe (`buckets` doubles —
    * same class as the dedup plan probe, documented there).
    */
  def writeZOrderedByRank(
      df: DataFrame, entity: String, cols: (String, String),
      files: Int, buckets: Int = 256): Unit = {
    val bits = 32 - Integer.numberOfLeadingZeros(math.max(buckets - 1, 1))
    // ONE boundary probe for both dimensions — a per-column probe
    // would scan the table twice before the write even starts
    val Seq(b1, b2) = LakeWriter.rankBounds(df, Seq(cols._1, cols._2), buckets)
    val z = LakeWriter.zorderKey(
      LakeWriter.bucketOf(col(cols._1), b1),
      LakeWriter.bucketOf(col(cols._2), b2), bits)
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(mode).parquet(s"$root/$entity")
  }

  /** Compact one entity directory to ~`targetFileBytes` files — the
    * maintenance pass that keeps a streaming/append lake readable
    * (thousands of small files turn a scan into a metadata storm; see
    * the read-side mitigation in `core/Tables` small-file fan-out).
    * Rewrites into a sibling temp dir, then swaps with the
    * old-aside-first rename order: the original is renamed away, the
    * rewrite renamed in, and only then is the old copy deleted — at
    * every step a full copy of the data exists under a well-known
    * name, so a crash mid-swap loses nothing (a crash between the
    * two renames leaves the data at `_old-<name>`, never gone, and
    * the next compact restores it). Both siblings are hidden names,
    * `_`-prefixed with any `=` replaced, so partition discovery never
    * reads them as a partition. Returns the new file count.
    * For a date-partitioned entity, compact per partition directory
    * (`entity/load_date=...`) — partition columns live in the path,
    * not the footers, so compacting the root would lose them.
    */
  def compact(
      spark: SparkSession, entity: String,
      targetFileBytes: Long = 128L << 20): Int = {
    import org.apache.hadoop.fs.Path
    val path = new Path(s"$root/$entity")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // self-recovery from a prior crash mid-swap
    val old = LakeWriter.compactSibling(path, "old")
    LakeWriter.recoverAside(fs, path, old)
    // fail fast on a partitioned entity: partition columns written by
    // partitionBy live in the PATH, not the footers — compacting the
    // root would silently drop them. Compact per partition directory.
    val partitioned = fs.listStatus(path).exists(s =>
      s.isDirectory && s.getPath.getName.contains("="))
    require(!partitioned,
      s"$path contains partition subdirectories ('col=...'); compact each partition " +
        "directory instead — compacting the root would lose the partition columns")
    val total = fs.getContentSummary(path).getLength
    val n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    val tmp = LakeWriter.compactSibling(path, "compacting")
    spark.read.parquet(path.toString)
      .repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    LakeWriter.swapIn(fs, Some(tmp), path, old)
    n
  }

  // ------------------------------------------------------------------
  // MANIFESTED BUCKETED tables: snapshot-isolated commits that keep
  // the zero-exchange bucketed probe property (the persisted
  // dedup/ANN/BM25 index storage contract)
  // ------------------------------------------------------------------

  /** Commit a shard to a manifested BUCKETED table — the
    * snapshot-isolation storage protocol for maintained
    * index tables, unifying them with the plain-table
    * [[commitManifested]] protocol. Bucketing metadata must live in
    * the catalog, so the file-list manifest can't be reused; instead
    * every commit writes its rows under its own
    * `graft_cv=<version>` PARTITION of one catalog table
    * (partitionBy + bucketBy compose), and an atomically-renamed
    * manifest lists the commit versions that are LIVE:
    *
    *  - readers ([[LakeWriter.readBucketedTable]]) take max(v) at
    *    open and filter `graft_cv IN live` — a partition-pruning
    *    predicate, so an in-flight commit's half-written partition is
    *    never even listed into the scan. No torn appends, no retry
    *    loop, and the scan stays `Bucketed: true`;
    *  - `replace = true` makes the commit a full replacement (the
    *    compaction shape): the new manifest lists only the new
    *    version, superseded partitions stay on disk for pinned
    *    readers until [[vacuumBucketed]];
    *  - a crash after the data write but before the manifest rename
    *    leaves an unreferenced partition directory — invisible to
    *    every reader, reclaimed by the next vacuum.
    *
    * Commits serialize under the table writer lock. Returns the
    * committed version.
    */
  def commitBucketed(
      df: DataFrame, table: String, buckets: Int, bucketCols: Seq[String],
      replace: Boolean = false,
      expectations: Option[DataFrame => DataFrame] = None): Int = {
    val spark = df.sparkSession
    require(!df.columns.contains(LakeWriter.CvCol),
      s"column name ${LakeWriter.CvCol} is reserved for the commit-version partition")
    withTableLock(spark, s"$table@manifest") {
      commitBucketedManifestedLocked(df, table, buckets, bucketCols, replace,
        expectations)
    }
  }

  /** [[commitBucketed]] body; caller holds the `table@manifest` lock
    * (non-reentrant — compaction wraps read+rewrite+commit in ONE
    * lock scope, the compactManifested discipline).
    */
  private def commitBucketedManifestedLocked(
      df: DataFrame, table: String, buckets: Int, bucketCols: Seq[String],
      replace: Boolean,
      expectations: Option[DataFrame => DataFrame] = None,
      dropCommits: Set[Int] = Set.empty): Int = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val mdir = s"$root/${table}__manifests"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = LakeWriter.latestManifestVersionIn(fs, mdir)
    val v = prev + 1
    // A catalog entry left by an EARLIER run against a different root
    // (gates re-create indexes under fresh temp roots but reuse table
    // names) must not swallow this commit: only append when the
    // existing table already lives at OUR path.
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val ourPath = new Path(s"$root/$table")
    val sameTable = spark.catalog.tableExists(table) && {
      val loc = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
      fs.makeQualified(loc) == fs.makeQualified(ourPath)
    }
    if (sameTable && !replace)
      // a legacy plain-bucketed table (no commit-version
      // partitioning) cannot absorb a partitioned APPEND — Spark
      // would throw an opaque spec-mismatch; fail with the migration
      // story instead. A replace commit IS that migration: it takes
      // the overwrite path below and redefines the table manifested.
      require(spark.table(table).columns.contains(LakeWriter.CvCol),
        s"$table is a legacy unmanifested bucketed table — rebuild it through " +
          "commitBucketed (replace = true) before manifested maintenance; " +
          "readBucketedTable reads both generations, the writers do not mix")
    // sameTable with NO committed manifest = a first commit that
    // crashed after its saveAsTable (or a legacy table being migrated
    // by a replace commit): the torn/legacy layout was never a
    // manifested snapshot, so the write OVERWRITES it rather than
    // appending into an incompatible or half-written layout
    val firstRetry = sameTable && (prev == 0 || replace &&
      !spark.table(table).columns.contains(LakeWriter.CvCol))
    val appendMode = sameTable && !firstRetry
    // Crashed-commit recovery for prev >= 1: a commit that died after
    // its saveAsTable but before the manifest rename leaves a torn
    // graft_cv=v partition; the retry recomputes the SAME v (manifest
    // never advanced) and an append-mode write would land NEXT TO the
    // torn rows, publishing them as silent duplicates. Under the lock,
    // v = latest manifest + 1, so no retained manifest can reference
    // this partition — deleting it first is always safe.
    if (appendMode) {
      val tornPart = new Path(s"${ourPath.toString}/${LakeWriter.CvCol}=$v")
      if (fs.exists(tornPart)) fs.delete(tornPart, true)
    }
    // Cluster rows by the bucket key BEFORE the bucketed write
    // (Iceberg's write.distribution-mode=hash, guide §6): without it
    // every input task hash-splits its rows across per-bucket files,
    // so one commit writes up to tasks×buckets files — per MICRO-BATCH
    // for the streaming index/MV gates, whose read-back then lists and
    // opens them all. repartition(buckets, cols) routes rows by
    // pmod(murmur3(cols), buckets) — exactly the writer's bucket-id
    // expression — so each task holds one whole bucket and a commit
    // writes at most `buckets` files. At scale the same shuffle is the
    // standard pre-write clustering; commit parallelism stays the
    // bucket count, which production sizes to the cluster.
    val base = df.withColumn(LakeWriter.CvCol, lit(v))
      .repartition(buckets, bucketCols.map(col): _*)
      .write.mode(if (appendMode) "append" else "overwrite")
      .partitionBy(LakeWriter.CvCol)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", ourPath.toString)
    base.saveAsTable(table)
    // commit-time expectations: validate the WRITTEN rows (read back
    // from this commit's partition — one columnar pass, and what was
    // actually persisted, not a recomputation of a nondeterministic
    // plan) BEFORE the manifest publishes. A refusal is atomic by
    // construction: the manifest never advances, so the rejected
    // partition is invisible to every reader and the next vacuum
    // reclaims it — the Delta-constraints / Deequ enforcement shape.
    expectations.foreach { rules =>
      // a zero-row commit writes NO partition directory at all — the
      // rules then evaluate over an empty frame of df's schema
      // (vacuously clean row rules, zero surplus rows) instead of a
      // PATH_NOT_FOUND crash that would wedge every retry
      val partDir = new Path(s"${ourPath.toString}/${LakeWriter.CvCol}=$v")
      val written =
        if (fs.exists(partDir)) spark.read.parquet(partDir.toString)
        else df.where(lit(false))
      LakeWriter.enforceExpectations(rules(written), table, v)
    }
    val carried =
      if (replace || prev == 0 || !sameTable) Nil
      else LakeWriter.manifestLines(fs, mdir, prev)
        // selective-rewrite commits (key erasure) retire the commits
        // they rewrote in the SAME manifest publish — atomic swap
        .filterNot(l => dropCommits.contains(l.toInt))
    LakeWriter.writeManifestIn(fs, mdir, v, carried :+ v.toString, df.schema)
    spark.catalog.refreshTable(table)
    v
  }

  /** Compact a manifested bucketed table: rewrite the live snapshot's
    * many per-commit files into one file per bucket and commit it as
    * a REPLACEMENT version. Invisible to readers — pinned snapshots
    * keep their partitions until [[vacuumBucketed]]; there is no
    * directory swap and therefore no reader retry window (the
    * directory-swap weakness this protocol removed). The whole
    * read+rewrite+commit runs under one writer-lock scope so a
    * concurrent append can't vanish from the replacement.
    */
  def compactBucketedManifested(
      spark: SparkSession, table: String,
      mergeKeys: Seq[String] = Nil,
      lockWaitMs: Long = 600000L, lockStaleMs: Long = 600000L): Int = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    withTableLock(spark, s"$table@manifest", lockWaitMs, lockStaleMs) {
      val meta = cat.getTableMetadata(ident)
      val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed; use compactManifested for plain manifested tables"))
      // scoped conf toggles (measured, Spark 4.1): force the
      // bucket-aligned read so the rewrite is zero-shuffle with one
      // task (and so one file) per bucket. compactionConfLock
      // serializes the save/restore across tables.
      LakeWriter.compactionConfLock.synchronized {
        val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
        val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        val absWas = spark.conf.get(abs)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set(abs, "false")
        try {
          // a DELTA-maintained table (per-key upsert commits) must
          // compact through the merged view — the plain union read
          // would bake superseded rows into the replacement snapshot
          val snapshot =
            if (mergeKeys.nonEmpty)
              LakeWriter.readBucketedTableMerged(spark, table, mergeKeys)
            else LakeWriter.readBucketedTable(spark, table)
          val current = snapshot
            .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
          commitBucketedManifestedLocked(
            current, table, spec.numBuckets, spec.bucketColumnNames, replace = true)
        } finally {
          spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
          spark.conf.set(abs, absWas)
        }
      }
    }
  }

  /** TARGETED KEY ERASURE (right-to-be-forgotten) on a manifested
    * bucketed table: physically remove every row whose key appears in
    * `keys`, rewriting ONLY the live commits that contain an affected
    * row — O(affected commits) physical I/O, not O(state). Survivors
    * of all affected commits land as ONE new commit whose manifest
    * publish simultaneously retires the rewritten commits: readers
    * see the pre-erasure snapshot or the post-erasure one, never a
    * partial (erased bytes persist in the retired partitions until
    * [[vacuumBucketed]] — run it to complete the physical erasure,
    * exactly like Delta/Iceberg DELETE + VACUUM).
    *
    * APPEND-ONLY (fact) tables take the selective path. For a
    * DELTA-maintained table (per-key upsert commits read through
    * [[LakeWriter.readBucketedTableMerged]]) selective rewrite would
    * be WRONG: surviving rows would be renumbered above later
    * commits and steal latest-wins from newer versions of their
    * keys. Pass `mergeKeys` and the erasure runs as a filtered
    * replacement of the merged view instead — O(state), the
    * Delta/Iceberg DELETE shape, correct for both disciplines.
    *
    * Returns the new manifest version, or 0 when no live commit
    * holds an affected key (nothing written, nothing retired).
    */
  def deleteKeysBucketed(
      spark: SparkSession, table: String, keyCols: Seq[String],
      keys: DataFrame, mergeKeys: Seq[String] = Nil): Int = {
    import org.apache.hadoop.fs.Path
    require(keyCols.nonEmpty, "need at least one key column")
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    withTableLock(spark, s"$table@manifest") {
      val meta = cat.getTableMetadata(ident)
      val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed — key erasure targets bucketed index tables"))
      if (mergeKeys.nonEmpty) {
        val snapshot = LakeWriter.readBucketedTableMerged(spark, table, mergeKeys)
        val survivors = snapshot.join(keys, keyCols, "left_anti")
          .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
        commitBucketedManifestedLocked(survivors, table, spec.numBuckets,
          spec.bucketColumnNames, replace = true)
      } else {
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val mdir = s"$root/${table}__manifests"
        val prev = LakeWriter.latestManifestVersionIn(fs, mdir)
        if (prev == 0) 0
        else {
          val live = LakeWriter.manifestLines(fs, mdir, prev).map(_.toInt)
          val raw = spark.table(table)
            .where(col(LakeWriter.CvCol).isin(live: _*))
          // bounded driver list: at most |live commits| rows
          val affected = graft.core.DriverProbe.boundedCollect(
              raw.join(keys, keyCols, "left_semi")
                .select(col(LakeWriter.CvCol)).distinct(),
              maxRows = live.size, what = "deleteKeys affected-versions")
            .map(_.get(0).toString.toInt).toSet
          if (affected.isEmpty) 0
          else {
            val survivors = raw
              .where(col(LakeWriter.CvCol).isin(affected.toSeq: _*))
              .join(keys, keyCols, "left_anti")
              .drop(LakeWriter.CvCol)
            commitBucketedManifestedLocked(survivors, table, spec.numBuckets,
              spec.bucketColumnNames, replace = false, dropCommits = affected)
          }
        }
      }
    }
  }

  /** SNAPSHOT CLONE — materialize one committed version of a
    * manifested bucketed table as a NEW manifested table (the
    * dev/test "zero-risk copy of prod as of Tuesday" workflow):
    * reads the pinned snapshot (merge-on-read when `mergeKeys` is
    * given) and replace-commits it under the clone's own manifest
    * line — the clone is a full physical copy with an independent
    * lifecycle, so vacuuming the source can never hollow it out
    * (contrast zero-copy clones, which pin source files). Returns the
    * clone's manifest version (always 1).
    */
  def cloneSnapshot(
      spark: SparkSession, table: String, cloneName: String,
      version: Int = 0, mergeKeys: Seq[String] = Nil): Int = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not bucketed — cloneSnapshot targets bucketed tables"))
    val snap =
      if (mergeKeys.nonEmpty)
        LakeWriter.readBucketedTableMerged(spark, table, mergeKeys, version)
      else LakeWriter.readBucketedTable(spark, table, version)
    commitBucketed(snap, cloneName, spec.numBuckets,
      spec.bucketColumnNames, replace = true)
  }

  /** Maintenance observability for a manifested bucketed table — the
    * numbers an operator alarms compaction/vacuum on: how many
    * commits the live snapshot unions (every one adds a file per
    * touched bucket to every probe's scan), how many data files and
    * bytes that snapshot reads, and the worst per-bucket file count
    * (1 = freshly compacted). Driver-side pure metadata listing —
    * manifest + file status, no Spark job. Returns
    * (live_commits, files, bytes, max_files_per_bucket).
    */
  def bucketedTableStats(
      spark: SparkSession, table: String): (Int, Int, Long, Int) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = s"$root/${table}__manifests"
    val v = LakeWriter.latestManifestVersionIn(fs, mdir)
    if (v == 0) (0, 0, 0L, 0)
    else {
      val live = LakeWriter.manifestLines(fs, mdir, v).map(_.toInt)
      val files = live.flatMap { cv =>
        val dir = new Path(s"$root/$table/${LakeWriter.CvCol}=$cv")
        if (fs.exists(dir))
          fs.listStatus(dir).toSeq.filter(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet"))
        else Nil
      }
      // bucketed file names are part-<task>-<uuid>_<bucketid>.<ext>…;
      // the _NNNNN bucket id after the uuid groups files per bucket
      val perBucket = files.groupBy { s =>
        val n = s.getPath.getName
        val i = n.lastIndexOf('_')
        if (i >= 0) n.substring(i + 1).takeWhile(_.isDigit) else ""
      }.values.map(_.size)
      (live.size, files.size, files.map(_.getLen).sum,
        if (perBucket.isEmpty) 0 else perBucket.max)
    }
  }

  /** Reclaim a manifested bucketed table's storage: drop manifests
    * older than the newest `keepVersions`, then delete every
    * `graft_cv=<k>` partition directory no RETAINED manifest lists —
    * including partitions from commits that crashed before their
    * manifest landed. Runs under the writer lock.
    */
  def vacuumBucketed(
      spark: SparkSession, table: String, keepVersions: Int = 1): Int = {
    import org.apache.hadoop.fs.Path
    require(keepVersions >= 1, "must retain at least the current snapshot")
    withTableLock(spark, s"$table@manifest") {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mdir = s"$root/${table}__manifests"
      val latest = LakeWriter.latestManifestVersionIn(fs, mdir)
      val keepFrom = math.max(1, latest - keepVersions + 1)
      (1 until keepFrom).foreach { v =>
        fs.delete(new Path(s"$mdir/manifest-$v.json"), false)
      }
      val live = (keepFrom to latest)
        .flatMap(v => LakeWriter.manifestLines(fs, mdir, v))
        .map(_.toInt).toSet
      val tableDir = new Path(s"$root/$table")
      // vacuum before any successful saveAsTable (or after a crash
      // preceding it) finds no data directory at all — a no-op, not a
      // FileNotFoundException
      val dropped =
        if (!fs.exists(tableDir)) Nil
        else fs.listStatus(tableDir).toSeq.filter { s =>
          val n = s.getPath.getName
          s.isDirectory && n.startsWith(s"${LakeWriter.CvCol}=") &&
            !live.contains(n.stripPrefix(s"${LakeWriter.CvCol}=").toInt)
        }
      dropped.foreach(s => fs.delete(s.getPath, true))
      // stale tmp manifests from crashed commits (no commit can be in
      // flight under the lock)
      val mPath = new Path(mdir)
      if (fs.exists(mPath))
        fs.listStatus(mPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.startsWith("_manifest-") &&
            s.getPath.getName.endsWith(".json.tmp"))
          .foreach(s => fs.delete(s.getPath, false))
      if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
      dropped.size
    }
  }

  // ------------------------------------------------------------------
  // MANIFESTED tables: snapshot-isolated commits (Iceberg-lite)
  // ------------------------------------------------------------------

  /** Commit a new snapshot of a MANIFESTED table — the
    * snapshot-isolation upgrade over directory-swap maintenance
    * (readers of a swap window need [[graft.core.Tables.withSwapRetry]];
    * readers of a manifested table need NOTHING, ever):
    *
    *  - data files are immutable, written once under a fresh
    *    `data-<uuid>` directory, never renamed or rewritten;
    *  - a snapshot is an immutable `manifest-<v>.json` listing exactly
    *    the files it covers, made visible by an atomic same-directory
    *    rename — a manifest either exists complete or not at all;
    *  - READERS take max(v) at open and read that manifest's file
    *    list: any concurrent append/compact/vacuum is invisible until
    *    its manifest lands, and files referenced by v outlive their
    *    data-dir's supersession ([[vacuumManifested]] only deletes
    *    files no retained manifest references). No torn listings, no
    *    transient misses, no retry loop.
    *
    * `append = true` carries the previous snapshot's files forward
    * (the daily-shard shape); `false` makes the commit a full
    * replacement. Commits serialize under the table writer lock;
    * version numbers are dense. A crash after the data write but
    * before the manifest rename leaves an unreferenced `data-` dir —
    * invisible to every reader, reclaimed by the next vacuum.
    */
  def commitManifested(
      df: DataFrame, name: String, append: Boolean = true,
      expectations: Option[DataFrame => DataFrame] = None): Int =
    withTableLock(df.sparkSession, s"$name@manifest") {
      commitManifestedLocked(df, name, append, expectations)
    }

  /** Lock-free commit body — caller MUST hold the `name@manifest`
    * table lock ([[withTableLock]] is a non-reentrant O_EXCL file
    * lock, so operations that read-then-replace a snapshot — e.g.
    * [[compactManifested]] — take the lock once around the whole
    * read+rewrite+commit instead of nesting).
    */
  private def commitManifestedLocked(
      df: DataFrame, name: String, append: Boolean,
      expectations: Option[DataFrame => DataFrame] = None): Int = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = new Path(s"$root/$name/data-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(dataDir.toString)
    // commit-time expectations on the WRITTEN files, before the
    // manifest rename — a refusal leaves an unreferenced data dir
    // (invisible to every reader, reclaimed by vacuum) and no new
    // manifest version: rejection is atomic
    expectations.foreach { rules =>
      LakeWriter.enforceExpectations(
        rules(spark.read.parquet(dataDir.toString)), name,
        latestManifestVersion(fs, name) + 1)
    }
    val newFiles = fs.listStatus(dataDir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.toString).sorted
    val v = latestManifestVersion(fs, name)
    val carried = if (append && v > 0) manifestFiles(fs, name, v) else Nil
    writeManifest(fs, name, v + 1, carried ++ newFiles, df.schema)
    v + 1
  }

  /** Read the current snapshot (or a pinned `version`) of a
    * manifested table. Lock-free and race-free by construction — the
    * manifest pins an immutable file set.
    */
  def readManifested(
      spark: SparkSession, name: String, version: Int = 0): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = if (version > 0) version else latestManifestVersion(fs, name)
    require(v > 0, s"manifested table $name has no committed snapshot under $root")
    val files = manifestFiles(fs, name, v)
    // Pin the read to the MANIFEST's schema (written by the commit
    // that published this version): carried files from older commits
    // may physically lack columns added since (schema evolution) —
    // under an explicit schema they read back as nulls, and a
    // column dropped by the latest commit is pruned from every file.
    // Without this, spark.read.parquet samples one file's footer and
    // the visible schema would depend on WHICH file — nondeterminism
    // the snapshot contract can't allow.
    if (files.nonEmpty) manifestSchema(fs, name, v) match {
      case Some(schema) => spark.read.schema(schema).parquet(files: _*)
      case None => spark.read.parquet(files: _*) // pre-schema-header manifest
    }
    else manifestSchema(fs, name, v) match {
      // An empty snapshot (e.g. a zero-row commit) round-trips with
      // its schema — downstream column references keep resolving.
      case Some(schema) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case None => spark.emptyDataFrame // pre-schema-header manifest
    }
  }

  /** Rewrite the current snapshot's many small files into ~one file
    * per `targetFileBytes` and commit it as a REPLACEMENT snapshot.
    * Readers holding any prior version keep reading their pinned
    * files — the old data dirs stay until [[vacuumManifested]].
    */
  def compactManifested(
      spark: SparkSession, name: String,
      targetFileBytes: Long = 128L << 20): Int = {
    import org.apache.hadoop.fs.Path
    // The lock spans read+size+rewrite+commit: an append landing after
    // a lock-free snapshot read but before the replacement commit
    // would be silently dropped from the replacement (the same
    // lost-update shape withTableLock documents for compactions).
    withTableLock(spark, s"$name@manifest") {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val v = latestManifestVersion(fs, name)
      val current = readManifested(spark, name, version = v)
      val total = math.max(1L,
        manifestFiles(fs, name, v)
          .map(f => fs.getFileStatus(new Path(f)).getLen).sum)
      val n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
      commitManifestedLocked(current.repartition(n), name, append = false)
    }
  }

  /** Reclaim storage: drop manifests older than the newest
    * `keepVersions`, then delete every `data-` directory holding no
    * file referenced by a RETAINED manifest — including orphans from
    * commits that crashed before their manifest landed. Never touches
    * a file any retained snapshot can read. Runs under the writer
    * lock so a concurrent commit can't reference a dir mid-delete.
    */
  def vacuumManifested(
      spark: SparkSession, name: String, keepVersions: Int = 1): Int = {
    import org.apache.hadoop.fs.Path
    require(keepVersions >= 1, "must retain at least the current snapshot")
    withTableLock(spark, s"$name@manifest") {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val latest = latestManifestVersion(fs, name)
      val keepFrom = math.max(1, latest - keepVersions + 1)
      (1 until keepFrom).foreach { v =>
        fs.delete(new Path(s"$root/$name/manifest-$v.json"), false)
      }
      val referenced = (keepFrom to latest)
        .flatMap(v => manifestFiles(fs, name, v))
        .map(f => new Path(f).getParent.getName).toSet
      val tableDir = new Path(s"$root/$name")
      val dropped = fs.listStatus(tableDir).toSeq.filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("data-") &&
          !referenced.contains(s.getPath.getName))
      dropped.foreach(s => fs.delete(s.getPath, true))
      // A commit that crashed between writing _manifest-<v>.json.tmp
      // and the rename leaves the tmp forever; under the writer lock
      // no commit is in flight, so EVERY tmp manifest here is stale.
      fs.listStatus(tableDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("_manifest-") &&
          s.getPath.getName.endsWith(".json.tmp"))
        .foreach(s => fs.delete(s.getPath, false))
      dropped.size
    }
  }

  private def latestManifestVersion(
      fs: org.apache.hadoop.fs.FileSystem, name: String): Int =
    LakeWriter.latestManifestVersionIn(fs, s"$root/$name")

  private def manifestFiles(
      fs: org.apache.hadoop.fs.FileSystem, name: String, v: Int): Seq[String] =
    LakeWriter.manifestLines(fs, s"$root/$name", v)

  private def manifestSchema(
      fs: org.apache.hadoop.fs.FileSystem, name: String,
      v: Int): Option[org.apache.spark.sql.types.StructType] =
    LakeWriter.manifestSchemaIn(fs, s"$root/$name", v)

  private def writeManifest(
      fs: org.apache.hadoop.fs.FileSystem, name: String, v: Int,
      files: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit =
    LakeWriter.writeManifestIn(fs, s"$root/$name", v, files, schema)
}

/** A manifested commit refused by its pre-publish expectations: the
  * violating rules with their violation counts. Nothing published —
  * the rejected data dir/partition is unreferenced and vacuumable.
  */
final class CommitRejectedException(
    val table: String, val version: Int,
    val violations: Seq[(String, Long)])
  extends IllegalStateException(
    s"commit v$version of $table refused by expectations: " +
      violations.map { case (r, n) => s"$r ($n violations)" }.mkString(", "))

object LakeWriter {

  /** Evaluate an expectations REPORT frame (the
    * [[graft.ops.Relational.expectationsReport]] shape — one row per
    * rule with `rule`, `n_violations`, `pass`) against a pending
    * commit; any failing rule aborts the commit with
    * [[CommitRejectedException]] BEFORE its manifest publishes — data
    * quality as enforcement, not just reporting (the Delta
    * constraints / Deequ VerificationSuite shape). The report is
    * rule-sized (k rows), so the collect is bounded by construction.
    */
  private[sinks] def enforceExpectations(
      report: DataFrame, table: String, version: Int): Unit = {
    val bad = graft.core.DriverProbe.boundedCollect(
        report.filter(!col("pass")).select(col("rule"), col("n_violations")),
        maxRows = 10000, what = "enforceExpectations")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    if (bad.nonEmpty) throw new CommitRejectedException(table, version, bad)
  }

  /** `compact`'s hidden sibling of `path` for its rewrite or its
    * set-aside copy: `_<tag>-<name>` with `=` replaced by `-`. */
  private[sinks] def compactSibling(path: Path, tag: String): Path =
    new Path(path.getParent, s"_$tag-" + path.getName.replace('=', '-'))

  /** Self-recovery from a crash in the middle of [[swapIn]]: if
    * `target` is missing but `aside` survives, the crash came between
    * the two renames, so the aside is restored; if both exist, the
    * aside is a superseded copy a crash failed to delete, so it is
    * dropped. Either way the next swap starts clean instead of
    * failing opaquely.
    */
  private[sinks] def recoverAside(fs: FileSystem, target: Path, aside: Path): Unit =
    if (fs.exists(aside)) {
      if (!fs.exists(target)) require(fs.rename(aside, target), s"could not recover $aside")
      else fs.delete(aside, true)
    }

  /** Replace `target` with `staged` (or remove it when `staged` is
    * None) in the old-aside-first rename order: the current `target`
    * is renamed to `aside`, the staged directory renamed in, and only
    * then is the aside deleted. At every step a full copy of the data
    * exists under a well-known name, so a crash loses nothing; a
    * failed rename-in restores the aside and throws.
    */
  private[sinks] def swapIn(
      fs: FileSystem, staged: Option[Path], target: Path, aside: Path): Unit = {
    val hadOld = fs.exists(target)
    if (hadOld) require(fs.rename(target, aside), s"could not set aside $target")
    staged.foreach { s =>
      if (!fs.rename(s, target)) {
        if (hadOld) fs.rename(aside, target)
        throw new IllegalStateException(s"could not swap $s in for $target; previous copy restored")
      }
    }
    if (hadOld) fs.delete(aside, true)
  }

  /** Reserved commit-version partition column of manifested BUCKETED
    * tables ([[LakeWriter.commitBucketed]]). Not underscore-prefixed:
    * Spark's file listing hides `_`-prefixed paths, which would make
    * the partition directories invisible to every scan.
    */
  val CvCol = "graft_cv"

  /** JVM-wide mutex around the scoped session-conf toggles the
    * bucketed compactions need (AQE + autoBucketedScan off during
    * the rewrite): the per-TABLE writer locks don't stop two
    * different tables' compactions from interleaving their
    * save/restore of the same session-global confs — the second
    * saver would capture the first one's toggled value and "restore"
    * it permanently. Serializing the toggle window fixes the
    * clobber; unrelated queries planned inside the window still see
    * the toggled confs (inherent to session-global configuration —
    * run compactions on a maintenance session when that matters).
    */
  private[sinks] val compactionConfLock = new Object

  // -- shared manifest-file machinery (atomic same-dir rename commit;
  //    '#schema <json>' header + one payload line per entry). Used by
  //    file-list manifests (plain manifested tables) and live-commit-
  //    version manifests (manifested bucketed tables). --

  private[sinks] val ManifestRe = "manifest-([0-9]+)\\.json".r

  private[sinks] def latestManifestVersionIn(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestRe(v) => v.toInt }
      .sorted.lastOption.getOrElse(0)
  }

  private[sinks] def manifestBodyIn(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, v: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest-$v.json")
    val in = fs.open(p)
    val body = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
               finally in.close()
    body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private[sinks] def manifestLines(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, v: Int): Seq[String] =
    manifestBodyIn(fs, dir, v).filterNot(_.startsWith("#"))

  /** The snapshot's schema, recorded in the manifest header so an
    * empty snapshot round-trips with its columns. None for manifests
    * written before the header existed.
    */
  private[sinks] def manifestSchemaIn(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Int): Option[org.apache.spark.sql.types.StructType] =
    manifestBodyIn(fs, dir, v)
      .find(_.startsWith("#schema "))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix("#schema "))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Write `manifest-<v>.json` atomically: create under a temp name
    * in the SAME directory, then rename into place (same-dir rename is
    * atomic on HDFS and local filesystems; a manifest is therefore
    * never observable half-written). First line is a `#schema <json>`
    * header; one payload line per entry after it.
    */
  private[sinks] def writeManifestIn(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, v: Int,
      lines: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(s"$dir/_manifest-$v.json.tmp")
    val dst = new Path(s"$dir/manifest-$v.json")
    val out = fs.create(tmp, false)
    try out.write((s"#schema ${schema.json}" +: lines)
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest commit collision in $dir v$v — concurrent writer without the lock?")
    }
  }

  /** Read the current (or a pinned `version`) snapshot of a manifested
    * BUCKETED table ([[LakeWriter.commitBucketed]]) — THE read path
    * for every persisted dedup/ANN/BM25 index probe. Lock-free and
    * retry-free: the manifest pins the set of live commit partitions,
    * and the `graft_cv IN (...)` predicate is a PARTITION filter, so
    * an in-flight commit's partition directory is pruned before a
    * single file of it is opened, a compaction's replacement commit is
    * invisible until its manifest lands, and vacuumed partitions are
    * only those no retained manifest references. The scan stays
    * `Bucketed: true` — partition pruning composes with bucketing, so
    * the zero-exchange probe plans are untouched (spec-asserted).
    *
    * Falls back to a plain `spark.table` read when the table has no
    * manifest directory (a legacy plain-bucketed-era
    * table), so mixed fleets read both generations. The fallback is
    * gated on the table NOT carrying the reserved commit-version
    * column: a table whose schema has `graft_cv` but no manifest is
    * a FIRST commit that crashed before its manifest rename — its
    * torn partition was never visible, so it reads as an EMPTY
    * snapshot (schema kept), and the retried commit overwrites it
    * ([[commitBucketed]]'s crashed-first-commit rule).
    */
  def readBucketedTable(
      spark: SparkSession, table: String, version: Int = 0): DataFrame =
    readBucketedRaw(spark, table, version).drop(CvCol)

  /** Merge-on-read view of a manifested bucketed table maintained by
    * per-key DELTA commits (the Hudi/Paimon MOR shape): each append
    * commit carries the FULL current row set of the keys it touches,
    * and the read keeps, per `keys`, only the rows of the LATEST live
    * commit that mentions the key — later deltas supersede earlier
    * rows of the same key without rewriting untouched keys' files.
    * The max-version window partitions by `keys`; when `keys` are
    * (a prefix-closed superset of) the table's bucket columns, the
    * bucketed scan already satisfies the window's distribution and
    * the merge adds NO exchange (spec-asserted) — the O(affected)
    * maintenance story for dimension-state tables like streaming
    * SCD-2 ([[graft.ops.Relational.scd2Fold]]).
    *
    * A plain [[readBucketedTable]] of such a table would union every
    * live commit and resurrect superseded rows — delta-maintained
    * tables must ALWAYS be read (and compacted) through this view.
    */
  /** CHANGE DATA FEED between two committed snapshots of a manifested
    * bucketed table — the Delta `table_changes(from, to)` shape:
    * reads BOTH versions through the merge-on-read view (so a
    * delta-maintained table diffs its logical states, not its
    * physical commits) and emits one row per insert / delete /
    * update_preimage / update_postimage via
    * [[graft.ops.Relational.snapshotDiff]]. Time travel is manifest
    * pinning — no log replay, both sides are plain pruned scans.
    * `key` must be the table's logical primary key (one row per key
    * per version).
    */
  def tableChanges(
      spark: SparkSession, table: String, key: String,
      mergeKeys: Seq[String], fromVersion: Int, toVersion: Int): DataFrame =
    graft.ops.Relational.snapshotDiff(
      readBucketedTableMerged(spark, table, mergeKeys, version = fromVersion),
      readBucketedTableMerged(spark, table, mergeKeys, version = toVersion),
      key)

  /** DESCRIBE-HISTORY for a manifested bucketed table: one row per
    * committed manifest version with its live commit list — pure
    * metadata (manifests are tiny driver-side files, never a data
    * scan), exposed to SQL text as `graft_lake.<t>__history`. A table
    * with no committed manifest yields a typed empty frame.
    */
  def tableHistory(spark: SparkSession, table: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = spark.sessionState.catalog.getTableMetadata(ident)
      .location.toString.stripSuffix("/")
    val mdir = s"${loc}__manifests"
    val fs = new Path(mdir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = latestManifestVersionIn(fs, mdir)
    val rows = (1 to latest).map { v =>
      val live = manifestLines(fs, mdir, v).map(_.toInt).sorted
      (v.toLong, live.size.toLong, live.mkString(","))
    }
    spark.createDataFrame(rows)
      .toDF("version", "n_live", "live_commits")
  }

  def readBucketedTableMerged(
      spark: SparkSession, table: String, keys: Seq[String],
      version: Int = 0): DataFrame = {
    require(keys.nonEmpty, "merge-on-read needs at least one key column")
    val raw = readBucketedRaw(spark, table, version)
    if (!raw.columns.contains(CvCol)) raw // legacy table: nothing to merge
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      raw.withColumn("_graft_maxcv", max(col(CvCol)).over(w))
        .where(col(CvCol) === col("_graft_maxcv"))
        .drop(CvCol, "_graft_maxcv")
    }
  }

  /** Shared manifest-resolution body of the bucketed read paths:
    * returns the live snapshot WITH the commit-version column (legacy
    * tables come back without it — their read is version-free).
    */
  private def readBucketedRaw(
      spark: SparkSession, table: String, version: Int): DataFrame = {
    import org.apache.hadoop.fs.Path
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = spark.sessionState.catalog.getTableMetadata(ident).location.toString
      .stripSuffix("/")
    val mdir = s"${loc}__manifests"
    val fs = new Path(mdir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(mdir))) {
      val t = spark.table(table)
      if (t.columns.contains(CvCol)) t.where(lit(false))
      else t
    } else {
      val v = if (version > 0) version else latestManifestVersionIn(fs, mdir)
      // v == 0 with a manifest dir: the first commit crashed after
      // creating the dir (tmp manifest) but before the rename — same
      // empty-snapshot semantics as the no-dir crash case above
      if (v == 0) spark.table(table).where(lit(false))
      else {
        val live = manifestLines(fs, mdir, v).map(_.toInt)
        spark.table(table).where(col(CvCol).isin(live: _*))
      }
    }
  }

  /** Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative integer columns — a's bit i lands at position 2i+1,
    * b's at 2i. Pure codegen'd shift/mask column math (no UDF), and
    * the identical expression is SQL-expressible for the oracle twin.
    * 2×16 bits covers cardinalities to 65k per dimension; for wider
    * domains quantize to rank buckets first.
    */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column = {
    // clamp into [0, 2^bits): arithmetic shiftright on a negative (or
    // silently truncating an over-wide value) would scramble the key
    // and the pruning-rectangle property would degrade with no error.
    // Clamped values still sort correctly relative to in-range ones;
    // columns with genuinely wide/skewed domains belong on the
    // rank-bucketed path (writeZOrderedByRank).
    val cap = (1L << bits) - 1
    val av = greatest(lit(0L), least(a.cast("long"), lit(cap)))
    val bv = greatest(lit(0L), least(b.cast("long"), lit(cap)))
    (0 until bits).map { i =>
      shiftleft(shiftright(av, i).bitwiseAND(1L), 2 * i + 1) +
        shiftleft(shiftright(bv, i).bitwiseAND(1L), 2 * i)
    }.reduce(_ + _)
  }

  /** Equi-depth rank bucket of a numeric column: approx-percentile
    * boundaries (one tiny driver probe), then
    * bucket = Σ [value > boundary_i] — a codegen'd comparison chain,
    * no join, no window. Monotone in the value, so footer min/max on
    * the RAW column still prunes after sorting by bucket. Multi-column
    * callers should use [[rankBounds]] once + [[bucketOf]] per column
    * — this convenience form probes the table per call.
    */
  def rankBucket(df: DataFrame, column: String, buckets: Int): Column =
    bucketOf(col(column), rankBounds(df, Seq(column), buckets).head)

  /** Approx-percentile boundary arrays for several columns in ONE
    * aggregation pass over `df`.
    */
  def rankBounds(df: DataFrame, columns: Seq[String], buckets: Int): Seq[Seq[Double]] = {
    require(buckets >= 2, "need at least 2 buckets")
    val probs = (1 until buckets).map(i => i.toDouble / buckets)
    val rows = df.select(columns.map(c => expr(
      s"approx_percentile(CAST($c AS DOUBLE), array(${probs.mkString(",")}), 10000)")): _*)
      .collect()
    // approx_percentile returns NULL over an empty frame or an
    // all-null column; getSeq would NPE with an opaque trace deep in
    // the write path — name the actual problem instead
    require(rows.nonEmpty && columns.indices.forall(i => !rows.head.isNullAt(i)),
      s"rankBounds: no percentile boundaries for ${columns.mkString(", ")} — " +
        "the frame is empty or a probed column is entirely null")
    columns.indices.map(i => rows.head.getSeq[Double](i))
  }

  /** bucket = Σ [value > boundary_i] over precomputed boundaries. */
  def bucketOf(value: Column, bounds: Seq[Double]): Column =
    bounds.foldLeft(lit(0))((acc, b) =>
      acc + when(value.cast("double") > lit(b), 1).otherwise(0))

  /** s3a credential/endpoint bootstrap — the engine-side counterpart
    * of the reference's env-var → boto3 client dance
    * (`extract-data-dota.py:14-32`). With these set, `root` may be an
    * `s3a://bucket/prefix` URI and every write above goes distributed
    * through the Hadoop committer; no client library in our code.
    */
  def configureS3a(
      spark: SparkSession,
      accessKey: String,
      secretKey: String,
      endpoint: Option[String] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.access.key", accessKey)
    conf.set("fs.s3a.secret.key", secretKey)
    endpoint.foreach(conf.set("fs.s3a.endpoint", _))
  }
}
