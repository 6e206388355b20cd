package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Dedup

/** Correctness-gate drivers for the index-backed streaming intake
  * family ([[EventStream.globalDedupStream]],
  * [[EventStream.paragraphDedupStream]], [[EventStream.nearDupStream]])
  * — the restart-critical paths that previously had only differential
  * specs. Each gate runs the REAL stream over real micro-batches
  * (file source + AvailableNow, a fresh query per shard against a
  * shared checkpoint, so every shard boundary is also a restart) and
  * returns a frame with an exact ANSI-SQL batch twin.
  *
  * The equality that makes a batch twin possible: shards are cut as
  * CONTIGUOUS doc_id ranges, so arrival order equals doc_id order and
  * the stream's arrival-order firstness (index wins, then in-batch
  * min) coincides with the batch engine's global-min rule. The final
  * emission union must therefore equal the one-shot batch recompute
  * on the same corpus — any index append bug, replay fan-out, or
  * restart state loss shows up as a row diff.
  */
object StreamGates {

  /** Cut `docs` into `n` contiguous doc_id ranges below `mxNatural`;
    * ids above it (planted re-ingestions) ride the last shard, i.e.
    * arrive last, as a re-ingestion does.
    */
  private def shards(docs: DataFrame, mxNatural: Long, n: Int): Seq[DataFrame] = {
    // materialize the source ONCE: every shard below is written to the
    // stream's input dir by [[drive]], and without this each write
    // re-evaluates the full upstream subtree (typically a multi-arm
    // planted union over the corpus scan) — n passes instead of one.
    // [[drive]] frees the checkpoint after its last shard write (a
    // multi-day gate must not hold every day's source concurrently);
    // GraftCaches.release remains the backstop between bench runs.
    val d = checkpointSource(docs)
    (0 until n).map { i =>
      val lo = i * (mxNatural + 1) / n
      val hi = (i + 1) * (mxNatural + 1) / n
      if (i == n - 1) d.filter(col("doc_id") >= lo)
      else d.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
  }

  /** Shuffle-partition count for the streaming drive — this is also
    * the STATE STORE count of every stateful operator (Spark sizes
    * state stores from `spark.sql.shuffle.partitions` at first query
    * start), and each per-shard cold restart pays per-store fixed
    * costs (delta-file commit + reload, maintenance, checkpoint
    * metadata ops) regardless of how many rows the store holds. The
    * gate corpora carry KB of state, so the session default (sized
    * for batch CPU parallelism) buys nothing here and multiplies the
    * restart fixed cost. Env-derived (`SPARK_GRAFT_STREAM_PARTITIONS`)
    * so a 100 TB deployment — where state is partition-count-bound by
    * MEMORY, not fixed cost — differs only by env; the local default
    * caps at 8. Results are partition-count-independent: every gate's
    * state fold is key-deterministic (the exact-integer discipline).
    */
  private def streamShufflePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    graft.core.GraftSession.positiveInt("SPARK_GRAFT_STREAM_PARTITIONS")
      .getOrElse(math.min(8, spark.sparkContext.defaultParallelism))

  /** Shard-source checkpoints pending release — filled by
    * [[checkpointSource]] (via [[shards]]/[[timeShards]]), drained by
    * [[drive]] once the last shard write has scanned them.
    */
  private val pendingSourceRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[(org.apache.spark.SparkContext, Int)]()

  /** localCheckpoint `df` and track its persisted RDD for release
    * after the drive that consumes it (localCheckpoint storage is
    * RDD-level — invisible to the CacheManager, so `unpersist` on the
    * Dataset would not free it; the tracked-RDD-id delta is the same
    * mechanism Dedup.checkpointTracked uses).
    */
  private def checkpointSource(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    (sc.getPersistentRDDs.keySet -- before)
      .filter(id => sc.getPersistentRDDs.get(id).exists(_.isCheckpointed))
      .foreach(id => pendingSourceRdds.add((sc, id)))
    out
  }

  private def releaseSources(): Unit = {
    var e = pendingSourceRdds.poll()
    while (e != null) {
      val (sc, id) = e
      if (!sc.isStopped)
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
      e = pendingSourceRdds.poll()
    }
  }

  /** Deliver shards as real micro-batches: one coalesced file appended
    * per run, a fresh AvailableNow query per shard against a SHARED
    * checkpoint — the file-source offset log makes run i process
    * exactly shard i, and each run is a cold restart of the stream.
    *
    * `lowerStreamConf = true` (the default) runs each query under
    * [[streamShufflePartitions]] (restored after the query): the
    * per-restart fixed cost scales with state-store count ×
    * stores-per-partition, and the streaming session CLONE pins this
    * conf for the foreachBatch batch jobs too — for the light gates
    * that is a second win (micro-batch-sized frames fanned to the
    * CPU-sized partition count are pure scheduling overhead; the
    * clone runs AQE-off, so nothing coalesces them otherwise).
    * Measured r18 (mins of 3, isolated, quiet windows): t184 1.79×,
    * t100 1.41×, t186 1.39×, t88 1.29×, t96 1.25×, t97 1.20×,
    * t242 1.13× — identical results (every gate's fold is
    * key-deterministic).
    *
    * Gates whose per-batch BATCH work is itself shuffle/CPU-heavy
    * (per-batch near-dup candidate+verify, the nine-operator crawl
    * pipeline, SCD-2/CC/TWAP/Q1-MV folds over merged state reads)
    * pass `lowerStreamConf = false`: they have ZERO state stores
    * (foreachBatch-over-lake-tables streams), so the lowered conf
    * bought no restart cost and only capped their batch parallelism
    * — measured 6–35% regressions (t90 0.88×, t228 0.88×, t137
    * 0.86×, t153 0.81×, t217 0.90×, t230 0.93×, t213 0.83×) before
    * the opt-out.
    */
  private def drive(shardFrames: Seq[DataFrame],
      lowerStreamConf: Boolean = true)(
      mk: (DataFrame, Option[String]) => StreamingQuery): Unit = {
    val in = Files.createTempDirectory("sgate_in").toString
    val cp = Some(Files.createTempDirectory("sgate_cp").toString)
    try shardFrames.foreach { sh =>
      sh.coalesce(1).write.mode("append").parquet(in)
      val spark = sh.sparkSession
      val src = spark.readStream.schema(sh.schema).parquet(in)
      if (lowerStreamConf) {
        val key = "spark.sql.shuffle.partitions"
        val outer = spark.conf.get(key)
        spark.conf.set(key, streamShufflePartitions(spark).toString)
        try mk(src, cp).awaitTermination()
        finally spark.conf.set(key, outer)
      } else mk(src, cp).awaitTermination()
    } finally releaseSources()
  }

  /** Streamed exact dedup, gated: the fixture has zero natural exact
    * dups, so both dedup arms are exercised by PLANTED re-ingestions
    * (the t86 pattern): history docs (id%9==2) re-arrive in the last
    * shard under +1e6 ids — only the persisted INDEX can drop them
    * across a restart — and novel-text docs (id%25==10, a planted
    * tail) arrive twice under +2e6/+3e6 ids in the SAME batch, dropped
    * by the in-batch first rule alone. Output joins the emissions to
    * the FINAL index (full outer, so an emission without an index row
    * or vice versa surfaces as a null/extra row): one (doc_id, fp) row
    * per surviving canonical, which must equal the batch min-per-
    * fingerprint rule on the identically-planted corpus.
    */
  def exactDedupGate(documents: DataFrame, nShards: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    val docs = documents.select("doc_id", "text")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val planted = docs
      .unionByName(docs.filter(col("doc_id") % 9 === 2)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(docs.filter(col("doc_id") % 25 === 10)
        .withColumn("text", concat(col("text"), lit(" zz novel tail")))
        .withColumn("doc_id", col("doc_id") + 2000000L))
      .unionByName(docs.filter(col("doc_id") % 25 === 10)
        .withColumn("text", concat(col("text"), lit(" zz novel tail")))
        .withColumn("doc_id", col("doc_id") + 3000000L))
    val idxRoot = Files.createTempDirectory("sgate_exact_idx").toString
    val emit = Files.createTempDirectory("sgate_exact_emit").toString + "/docs"
    val tbl = "sgate_exact_index"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shards(planted, mx, nShards)) { (src, cp) =>
      EventStream.globalDedupStream(src, tbl, idxRoot, buckets = 8,
        checkpoint = cp, availableNow = true) { (out, _) =>
        out.select("doc_id").write.mode("append").parquet(emit)
      }
    }
    // read the final index through the manifest view, exactly as every
    // production consumer does — a raw directory read would also list
    // superseded replace commits and orphaned crashed commits.
    // localCheckpoint: the catalog entry is dropped two lines below,
    // and a catalog-backed scan must not execute after its table is gone
    val idx = graft.sinks.LakeWriter.readBucketedTable(spark, tbl)
      .select(col("canonical_id"), col("fp"))
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.read.parquet(emit)
      .join(idx, col("doc_id") === col("canonical_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("canonical_id")).as("doc_id"),
        col("fp"))
      .orderBy("doc_id")
  }

  /** STREAMING CRAWL-TO-CORPUS CAPSTONE — t135's nine-operator daily
    * build run as a foreachBatch intake stream across COLD RESTARTS,
    * final corpus ≡ the batch capstone VERBATIM (the twin is t135's
    * SQL unchanged). The day's shard (doc_id ≡ 0 mod 5) arrives in
    * `nShards` contiguous doc_id-range micro-batches, each a fresh
    * query against the shared checkpoint:
    *
    *  - PER BATCH (stages 1–4 — each a per-document decision against
    *    STATIC context, so the union over batches equals the batch
    *    run): URL canon/dedup against a PERSISTED first-wins URL
    *    index (≡ the batch min-doc_id rule because ranges ascend),
    *    the full-corpus domain blocklist, Gopher quality rules, and
    *    fuzzy decontamination vs the static eval slice; survivors
    *    are STAGED into a bucketed table (the cross-restart state,
    *    alongside the URL index and the checkpoint).
    *  - AT DAY CLOSE (stages 5–9 via [[graft.ops.CorpusOps.corpusTail]],
    *    the batch code path itself): shard-internal near-dup
    *    clustering — NOT union-stable, a cluster's members span
    *    batches, which is exactly why an honest streaming build
    *    defers it — then DSIR, mixture, packing, seeded shuffle over
    *    the staged survivor set, which equals the batch stage-4
    *    output by the per-batch argument above.
    *
    * At 100 TB the per-batch work is shard-sized (index probes are
    * bucketed, zero-shuffle), staging appends O(batch) rows, and day
    * close touches only the day's survivors — the same two-phase
    * intake-then-compact shape as the SCD-2/MV maintenance gates.
    */
  def crawlCorpusGate(documents: DataFrame, withUrls: DataFrame,
      nShards: Int = 3, minDomainQuality: Double = 0.6,
      decontamThreshold: Double = 0.9, nearDupThreshold: Double = 0.9,
      budget: Long = 64L, seqLen: Long = 512L, seed: Long = 42L): DataFrame = {
    import graft.ops.{CorpusOps, UrlOps}
    val spark = documents.sparkSession
    val shard = documents.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "source", "text")
    val history = documents.filter(col("doc_id") % 5 =!= 0)
    // static context, exactly what the batch capstone derives from
    // the full corpus / history
    val blocked = UrlOps.domainQualityReport(documents, withUrls,
        minDomainQuality)
      .filter(col("blocked")).select("domain").localCheckpoint()
    val root = Files.createTempDirectory("sgate_crawl").toString
    val urlTbl = "sgate_crawl_urls"
    val stagTbl = "sgate_crawl_staged"
    spark.sql(s"DROP TABLE IF EXISTS $urlTbl")
    spark.sql(s"DROP TABLE IF EXISTS $stagTbl")
    val staged = crawlStreamDay(documents, withUrls, blocked,
      CorpusOps.evalSlice(history).localCheckpoint(), shard, nShards,
      root, urlTbl, stagTbl, decontamThreshold)
    spark.sql(s"DROP TABLE IF EXISTS $urlTbl")
    spark.sql(s"DROP TABLE IF EXISTS $stagTbl")
    // day close: stages 5-9, the batch capstone tail verbatim
    CorpusOps.corpusTail(documents,
      documents.join(staged, "doc_id").localCheckpoint(),
      history, nearDupThreshold, budget, seqLen, seed)
  }

  /** One crawl DAY's intake stream (stages 1–4 of the capstone, per
    * micro-batch, cold restart per shard): URL canon/dedup first-wins
    * against the PERSISTED index at `urlTbl` (NOT dropped here — a
    * multi-day run carries it across day boundaries so day-2 refetches
    * of day-1 URLs drop), blocklist, Gopher rules, decontamination vs
    * `evalDocs`, survivors staged into `stagTbl`. Returns the day's
    * staged doc_ids, localCheckpointed.
    */
  private def crawlStreamDay(documents: DataFrame, withUrls: DataFrame,
      blocked: DataFrame, evalDocs: DataFrame, shard: DataFrame,
      nShards: Int, root: String, urlTbl: String, stagTbl: String,
      decontamThreshold: Double): DataFrame = {
    import graft.ops.{CorpusOps, UrlOps}
    val spark = documents.sparkSession
    val mxRow = shard.agg(max("doc_id")).head()
    require(!mxRow.isNullAt(0),
      "crawlStreamDay: empty crawl shard — no ranges to derive")
    val mx = mxRow.getLong(0)
    drive(shards(shard, mx, nShards), lowerStreamConf = false) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val lw = new graft.sinks.LakeWriter(root)
            // 1. URL canon/dedup: in-batch min per url_norm, then
            // first-wins against the persisted index — under
            // ascending ranges this IS the batch global-min rule
            val n = UrlOps.normalizeUrls(
              withUrls.join(batch.select("doc_id"), "doc_id"))
            val firsts = n.groupBy("url_norm").agg(min("doc_id").as("doc_id"))
              .join(n.select("doc_id", "url_norm", "domain"),
                Seq("url_norm", "doc_id"))
            val haveUrls = spark.catalog.tableExists(urlTbl)
            val novel =
              if (!haveUrls) firsts
              else firsts.join(
                graft.sinks.LakeWriter
                  .readBucketedTableMerged(spark, urlTbl, Seq("url_norm"))
                  .select("url_norm"),
                Seq("url_norm"), "left_anti")
            lw.commitBucketed(novel.select("url_norm", "doc_id"), urlTbl,
              8, Seq("url_norm"), replace = !haveUrls)
            // 2. full-corpus domain blocklist
            val d2 = novel.select("doc_id", "domain")
              .join(blocked, Seq("domain"), "left_anti").select("doc_id")
            // 3. Gopher quality rules
            val d3 = CorpusOps.gopherFilter(documents.join(d2, "doc_id"))
              .filter(col("keep")).select("doc_id")
            val d3docs = documents.join(d3, "doc_id")
            // 4. fuzzy decontamination vs the static eval slice.
            // checkIds = false (r18): the disjointness the check
            // guards is STRUCTURAL here — d3docs ⊆ the day's shard
            // residue class mod 5, evalDocs ⊆ the complementary
            // residues (evalSlice filters history), and planted
            // refetch ids can never reach stage 3 (they are absent
            // from `documents`, and the multi-day tripwires fail the
            // gate if one survives the URL index). The eager
            // semi-join probe was one driver-blocking job PER
            // MICRO-BATCH on the crawl capstones' critical path.
            val contaminated = Dedup
              .crossNearDups(d3docs, evalDocs, decontamThreshold,
                checkIds = false)
              .select(col("train_id").as("doc_id")).distinct()
            val d4 = d3docs.join(contaminated, Seq("doc_id"), "left_anti")
              .select("doc_id")
            lw.commitBucketed(d4, stagTbl, 8, Seq("doc_id"),
              replace = !spark.catalog.tableExists(stagTbl))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    graft.sinks.LakeWriter
      .readBucketedTableMerged(spark, stagTbl, Seq("doc_id"))
      .select("doc_id").localCheckpoint()
  }

  /** MULTI-DAY CRAWL-TO-CORPUS — the daily workflow run across TWO
    * day-closes, which is the claim a one-day capstone (t228) cannot
    * make: day 1 (doc_id ≡ 0 mod 5) streams in, closes, and its
    * persisted URL index SURVIVES the close; day 2 (doc_id ≡ 1 mod 5)
    * streams against that carried index, closes, and its corpus must
    * equal the batch capstone on the day-2 shard with day-1 in
    * history — the twin is t135's SQL parameterized on the day-2
    * slice.
    *
    * The cross-day dependency is made FALSIFIABLE by planting
    * refetches: every 7th day-1 document re-arrives on day 2 under a
    * fresh doc_id (+plantBase, a round multiple derived to sit above
    * every natural id) with the SAME url. Day-1/day-2 URLs can never
    * collide naturally (urls derive from doc_id mod {2,20,50,25}, so a
    * url_norm collision forces doc_id congruence mod 100, hence equal
    * residue mod 5 — impossible across the two slices), so ONLY the
    * day-1 index can drop the plants; two loud requires fail the gate
    * if any plant is committed as novel or reaches staging. Because
    * the planted ids are absent from the corpus context, a broken
    * index would otherwise drop them silently at stage 3's join — the
    * requires are the tripwire, not the output diff.
    *
    * Two shards per day: each day still exercises a mid-day cold
    * restart, plus the day-boundary restart (fresh checkpoint), at
    * half the batch overhead of the one-day gate's three.
    */
  def crawlMultiDayGate(documents: DataFrame, withUrls: DataFrame,
      nShards: Int = 2, minDomainQuality: Double = 0.6,
      decontamThreshold: Double = 0.9, nearDupThreshold: Double = 0.9,
      budget: Long = 64L, seqLen: Long = 512L, seed: Long = 42L): DataFrame = {
    import graft.ops.{CorpusOps, UrlOps}
    val spark = documents.sparkSession
    // plant ids must be DISJOINT from every natural id or the two
    // tripwires below could fire on (or be masked by) a natural doc —
    // derive the base from the corpus instead of hardcoding it
    val plantBase = {
      val maxId = documents.agg(max(col("doc_id"))).head().getLong(0)
      require(maxId >= 0, s"crawlMultiDayGate: negative max doc_id $maxId")
      var p = 1000000L
      while (p <= maxId) p *= 10L
      p
    }
    val day1 = documents.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "source", "text")
    val hist1 = documents.filter(col("doc_id") % 5 =!= 0)
    val day2Natural = documents.filter(col("doc_id") % 5 === 1)
      .select("doc_id", "source", "text")
    val hist2 = documents.filter(col("doc_id") % 5 =!= 1)
    val refetch = day1.filter(col("doc_id") % 7 === 0)
    val day2 = day2Natural.unionByName(
      refetch.withColumn("doc_id", col("doc_id") + plantBase))
    val urls2 = withUrls.unionByName(
      withUrls.join(refetch.select("doc_id"), "doc_id")
        .withColumn("doc_id", col("doc_id") + plantBase))
    // static context shared by both days (full-corpus blocklist)
    val blocked = UrlOps.domainQualityReport(documents, withUrls,
        minDomainQuality)
      .filter(col("blocked")).select("domain").localCheckpoint()
    val root = Files.createTempDirectory("sgate_mday").toString
    val urlTbl = "sgate_mday_urls"
    val stag1 = "sgate_mday_staged_d1"
    val stag2 = "sgate_mday_staged_d2"
    Seq(urlTbl, stag1, stag2).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    // ---- DAY 1: stream, close, KEEP the url index
    val staged1 = crawlStreamDay(documents, withUrls, blocked,
      CorpusOps.evalSlice(hist1).localCheckpoint(), day1, nShards,
      root, urlTbl, stag1, decontamThreshold)
    val day1Corpus = CorpusOps.corpusTail(documents,
      documents.join(staged1, "doc_id").localCheckpoint(),
      hist1, nearDupThreshold, budget, seqLen, seed)
    require(day1Corpus.count() > 0,
      "crawlMultiDayGate: day-1 close produced an empty corpus")
    // ---- DAY 2: stream against the CARRIED day-1 url index
    val staged2 = crawlStreamDay(documents, urls2, blocked,
      CorpusOps.evalSlice(hist2).localCheckpoint(), day2, nShards,
      root, urlTbl, stag2, decontamThreshold)
    // tripwires: a planted refetch either committed as novel or staged
    // means the cross-day first-wins probe is broken — fail LOUDLY
    val leakedIdx = graft.sinks.LakeWriter
      .readBucketedTableMerged(spark, urlTbl, Seq("url_norm"))
      .filter(col("doc_id") >= plantBase)
    require(leakedIdx.limit(1).isEmpty,
      "crawlMultiDayGate: a day-1 refetch passed the persisted URL " +
        "index — cross-day first-wins is broken")
    require(staged2.filter(col("doc_id") >= plantBase).limit(1).isEmpty,
      "crawlMultiDayGate: a day-1 refetch reached day-2 staging")
    Seq(urlTbl, stag1, stag2).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    // ---- DAY-2 close: the batch capstone tail on day-2 survivors
    // with day-1 in history
    CorpusOps.corpusTail(documents,
      documents.join(staged2, "doc_id").localCheckpoint(),
      hist2, nearDupThreshold, budget, seqLen, seed)
  }

  /** STREAMING TPC-H Q1 — the pricing-summary aggregate maintained as
    * a materialized view under lineitem inserts across COLD RESTARTS.
    * Q1 is the canonical self-maintainable MV: every measure reduces
    * to sums and counts, so the carried state is the EXACT integer
    * sufficient statistics (count, Σqty, and the Exact-quantized
    * per-row addend sums Σ⌊x·10⁴+0.5⌋ / Σ⌊x·10⁶+0.5⌋ as
    * DECIMAL(38,0) — associative by construction, so partial sums
    * folded in any batch order equal the one-shot batch sums
    * bit-for-bit), and day close renders the Q1 output with the SAME
    * quantize formulas as the batch query. Twin = the q64_tpch01 SQL
    * VERBATIM. State is group-cardinality-sized (6 rows for Q1 — a
    * grouped MV's state is always |groups|, never |facts|); each
    * micro-batch contributes one partial aggregate and one tiny
    * latest-wins commit.
    */
  def tpchQ1Gate(lineitem: DataFrame, nShards: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = lineitem.sparkSession
    val dec = DecimalType(38, 0)
    val li = lineitem.select("l_orderkey", "l_returnflag", "l_linestatus",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
    val b = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi")).head()
    // EMPTY input must not kill the stream (the islandsGate
    // skip-or-loud-skip discipline): no ranges to derive → one vacuous
    // shard keeps the restart machinery exercised, and the render
    // below falls back to an empty state frame with the exact schema
    val shardFrames =
      if (b.isNullAt(0)) {
        System.err.println(
          "[tpchQ1Gate] empty lineitem — vacuous shard, empty MV output")
        Seq(li.limit(0))
      } else {
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val span = hi - lo + 1
        (0 until nShards).map { i =>
          val l = lo + i * span / nShards
          val h = lo + (i + 1) * span / nShards
          if (i == nShards - 1) li.filter(col("l_orderkey") >= l)
          else li.filter(col("l_orderkey") >= l && col("l_orderkey") < h)
        }
      }
    def q(x: Column, s: Double): Column =
      floor(x * lit(s) + lit(0.5)).cast(dec)
    def partial(batch: DataFrame): DataFrame = batch
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("l_quantity").cast("long")).cast(dec).as("sqty"),
        sum(q(col("l_extendedprice"), 10000.0)).as("sb4"),
        sum(q(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          10000.0)).as("sd4"),
        sum(q(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")), 10000.0)).as("sc4"),
        sum(q(col("l_extendedprice"), 1000000.0)).as("sp6"),
        sum(q(col("l_discount"), 1000000.0)).as("sdc6"))
    val tbl = "sgate_tpch_q1_state"
    val root = Files.createTempDirectory("sgate_q1mv").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shardFrames, lowerStreamConf = false) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val part = partial(batch)
          if (!part.isEmpty) {
            val lw = new graft.sinks.LakeWriter(root)
            val exists = spark.catalog.tableExists(tbl)
            val merged =
              if (!exists) part
              else graft.sinks.LakeWriter
                .readBucketedTableMerged(spark, tbl,
                  Seq("l_returnflag", "l_linestatus"))
                .unionByName(part)
                .groupBy("l_returnflag", "l_linestatus")
                .agg(sum("n").as("n"), sum("sqty").as("sqty"),
                  sum("sb4").as("sb4"), sum("sd4").as("sd4"),
                  sum("sc4").as("sc4"), sum("sp6").as("sp6"),
                  sum("sdc6").as("sdc6"))
            lw.commitBucketed(merged, tbl, 4,
              Seq("l_returnflag", "l_linestatus"), replace = true)
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    // no commit ever landed (empty input, or every row filtered out
    // by the shipdate cut) → an empty state frame with the partial
    // schema, so the degenerate stream renders 0 rows instead of
    // dying on a missing state table
    val state =
      if (!spark.catalog.tableExists(tbl)) partial(li.limit(0))
      else graft.sinks.LakeWriter
        .readBucketedTableMerged(spark, tbl,
          Seq("l_returnflag", "l_linestatus"))
        .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // render with the identical Exact formulas as the batch query
    import graft.ops.Exact.{quant2, quant4}
    state.select(col("l_returnflag"), col("l_linestatus"),
        col("sqty").cast("long").as("sum_qty"),
        quant2(col("sb4").cast("double") / lit(10000.0)).as("sum_base_price"),
        quant2(col("sd4").cast("double") / lit(10000.0)).as("sum_disc_price"),
        quant2(col("sc4").cast("double") / lit(10000.0)).as("sum_charge"),
        quant4(col("sqty").cast("double") / col("n").cast("double"))
          .as("avg_qty"),
        quant4(col("sp6").cast("double") / lit(1000000.0) /
          col("n").cast("double")).as("avg_price"),
        quant4(col("sdc6").cast("double") / lit(1000000.0) /
          col("n").cast("double")).as("avg_disc"),
        col("n").cast("long").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** STREAMING VOCABULARY maintenance — the corpus token-count table
    * kept as a materialized view under document intake across COLD
    * RESTARTS: token counts are ADDITIVE, so the per-batch delta is
    * one partial aggregate and the commit touches only the batch's
    * tokens (O(batch-vocabulary), never the accumulated state); day
    * close cuts the top-k with dense ids under the (cnt desc, token)
    * total order. Must equal the one-shot
    * [[graft.ops.CorpusOps.vocabulary]] — twin = t58's SQL VERBATIM.
    */
  def vocabGate(documents: DataFrame, nShards: Int = 3,
      k: Int = 500): DataFrame = {
    import graft.ops.TextOps
    val spark = documents.sparkSession
    val docs = documents.select("doc_id", "text")
    val mxRow = docs.agg(max("doc_id")).head()
    // skip-or-loud-skip (islandsGate discipline): empty corpus → one
    // vacuous shard + empty-state render, never a require-crash
    val shardFrames =
      if (mxRow.isNullAt(0)) {
        System.err.println(
          "[vocabGate] empty documents — vacuous shard, empty vocabulary")
        Seq(docs.limit(0))
      } else shards(docs, mxRow.getLong(0), nShards)
    def partial(batch: DataFrame): DataFrame = batch
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val root = Files.createTempDirectory("sgate_vocab").toString
    val tbl = "sgate_vocab_state"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shardFrames) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val part = partial(batch)
          if (!part.isEmpty) {
            val lw = new graft.sinks.LakeWriter(root)
            val exists = spark.catalog.tableExists(tbl)
            val delta =
              if (!exists) part
              else {
                // only the TOUCHED tokens re-commit: prior counts for
                // this batch's tokens fold in via a semi-restricted
                // read; untouched tokens keep their latest version
                val state = graft.sinks.LakeWriter
                  .readBucketedTableMerged(spark, tbl, Seq("token"))
                  .join(part.select("token"), Seq("token"), "left_semi")
                part.unionByName(state)
                  .groupBy("token").agg(sum("cnt").as("cnt"))
              }
            lw.commitBucketed(delta, tbl, 8, Seq("token"),
              replace = !exists)
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val state =
      if (!spark.catalog.tableExists(tbl)) partial(docs.limit(0))
      else graft.sinks.LakeWriter
        .readBucketedTableMerged(spark, tbl, Seq("token"))
        .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cnt").desc, col("token"))
    state.orderBy(col("cnt").desc, col("token")).limit(k)
      .withColumn("token_id", row_number().over(w).cast("long"))
      .select("token_id", "token", "cnt")
      .orderBy("token_id")
  }

  /** STREAMING TRIMMED-MEAN maintenance — the t241 robust statistic
    * kept as a materialized view across COLD RESTARTS. The trimmed
    * mean itself is NOT additive, but its sufficient statistic IS:
    * the per-(group, value) count histogram, additive under ANY
    * row partition (no grain constraint — unlike trendGate's
    * complete-day shards, any orderkey range works). Each micro-batch
    * folds a count delta touching only the batch's (grp, v) pairs
    * (the vocabGate O(batch-vocabulary) commit shape); day close
    * renders through [[graft.ops.Relational.trimmedMeanFromHist]] —
    * the batch gate's own render half, shared code. Twin = t241's
    * SQL verbatim.
    */
  def trimmedMeanGate(orders: DataFrame, nShards: Int = 3,
      trimPermille: Int = 50): DataFrame = {
    import graft.ops.Relational
    val spark = orders.sparkSession
    val o = orders.select(col("o_orderkey"),
      col("o_orderpriority").as("grp"),
      expr("CAST(floor(o_totalprice*100.0+0.5) AS BIGINT)").as("v"))
    val b = o.agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi")).head()
    val shardFrames =
      if (b.isNullAt(0)) {
        System.err.println(
          "[trimmedMeanGate] empty orders — vacuous shard, empty MV")
        Seq(o.limit(0))
      } else {
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val span = hi - lo + 1
        (0 until nShards).map { i =>
          val l = lo + i * span / nShards
          val h = lo + (i + 1) * span / nShards
          if (i == nShards - 1) o.filter(col("o_orderkey") >= l)
          else o.filter(col("o_orderkey") >= l && col("o_orderkey") < h)
        }
      }
    def partial(batch: DataFrame): DataFrame =
      batch.groupBy("grp", "v").agg(count(lit(1)).as("c"))
    val tbl = "sgate_trimmean_state"
    val root = Files.createTempDirectory("sgate_trimmean").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shardFrames) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val part = partial(batch)
          if (!part.isEmpty) {
            val lw = new graft.sinks.LakeWriter(root)
            val exists = spark.catalog.tableExists(tbl)
            val delta =
              if (!exists) part
              else {
                // only the TOUCHED (grp, v) cells re-commit
                val state = graft.sinks.LakeWriter
                  .readBucketedTableMerged(spark, tbl, Seq("grp", "v"))
                  .join(part.select("grp", "v"), Seq("grp", "v"),
                    "left_semi")
                part.unionByName(state)
                  .groupBy("grp", "v").agg(sum("c").as("c"))
              }
            lw.commitBucketed(delta, tbl, 8, Seq("grp", "v"),
              replace = !exists)
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val state =
      if (!spark.catalog.tableExists(tbl)) partial(o.limit(0))
      else graft.sinks.LakeWriter
        .readBucketedTableMerged(spark, tbl, Seq("grp", "v"))
        .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Relational.trimmedMeanFromHist(state, trimPermille)
  }

  /** STREAMING LINEAR-TREND maintenance — the t235 OLS statistic kept
    * as a materialized view across COLD RESTARTS: the five moments
    * (n, Σt, Σy, Σt², Σty) are ADDITIVE in DECIMAL(38,0), so each
    * micro-batch of COMPLETE days (date-range shards — a day never
    * straddles a batch, the cusumGate discipline, because the moment
    * of a PARTIAL day's count is not a partial moment) folds one
    * per-group delta into a |groups|-row state table; day close
    * renders slope/intercept with the identical micro-DIV formulas.
    * Twin = t235's SQL verbatim. This pins the general rule: a
    * statistic is streamable as an MV exactly when its sufficient
    * statistics are associative over the GRAIN the batches cut on.
    */
  def trendGate(orders: DataFrame, nShards: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val spark = orders.sparkSession
    val o = orders.select("o_orderkey", "o_orderpriority", "o_orderdate")
    val dn = datediff(col("o_orderdate"), lit("1970-01-01"))
    val b = o.agg(min(dn).as("lo"), max(dn).as("hi"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("n_null")).head()
    // null dates stay a LOUD failure — date shards would silently drop
    // them and diverge from the batch twin; emptiness is graceful. The
    // guard keys on the null COUNT, not min(dn): a non-empty all-null
    // input has min(dn) null but n_null > 0 and must still fail (only
    // truly-empty input leaves the sum itself null — graceful path).
    require(b.isNullAt(2) || b.getLong(2) == 0L,
      "trendGate: null dates would vanish")
    val shardFrames =
      if (b.isNullAt(0)) {
        System.err.println(
          "[trendGate] no non-null dates — vacuous shard, empty trend MV")
        Seq(o.limit(0))
      } else {
        val (lo, hi) = (b.getInt(0).toLong, b.getInt(1).toLong)
        val span = hi - lo + 1
        (0 until nShards).map { i =>
          val l = lo + i * span / nShards
          val h2 = lo + (i + 1) * span / nShards
          if (i == nShards - 1) o.filter(dn >= l)
          else o.filter(dn >= l && dn < h2)
        }
      }
    val epoch95 = lit("1995-01-01").cast("date")
    def partial(batch: DataFrame): DataFrame = batch
      .groupBy(col("o_orderpriority").as("grp"),
        datediff(col("o_orderdate").cast("date"), epoch95)
          .cast("long").as("t"))
      .agg(count(lit(1)).as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("t").cast(dec)).as("st"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("t").cast(dec) * col("t").cast(dec)).as("stt"),
        sum(col("t").cast(dec) * col("x").cast(dec)).as("stx"))
    val tbl = "sgate_trend_state"
    val root = Files.createTempDirectory("sgate_trend").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shardFrames) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val part = partial(batch)
          if (!part.isEmpty) {
            val lw = new graft.sinks.LakeWriter(root)
            val exists = spark.catalog.tableExists(tbl)
            val merged =
              if (!exists) part
              else graft.sinks.LakeWriter
                .readBucketedTableMerged(spark, tbl, Seq("grp"))
                .unionByName(part)
                .groupBy("grp")
                .agg(sum("n").as("n"), sum("st").as("st"),
                  sum("sx").as("sx"), sum("stt").as("stt"),
                  sum("stx").as("stx"))
            lw.commitBucketed(merged, tbl, 4, Seq("grp"), replace = true)
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val state =
      if (!spark.catalog.tableExists(tbl)) partial(o.limit(0))
      else graft.sinks.LakeWriter
        .readBucketedTableMerged(spark, tbl, Seq("grp"))
        .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    state.select(col("grp"), col("n").cast("long").as("n"),
        expr("CAST(CASE WHEN n * stt - st * st > 0 THEN " +
          "((n * stx - st * sx) * 1000000) div (n * stt - st * st) " +
          "END AS BIGINT)").as("slope_micro"),
        expr("CAST(CASE WHEN n * stt - st * st > 0 THEN " +
          "((sx * stt - st * stx) * 1000000) div (n * stt - st * st) " +
          "END AS BIGINT)").as("intercept_micro"))
      .orderBy("grp")
  }

  /** Streamed paragraph dedup, gated: the t70 planted-boilerplate
    * corpus streamed in range shards. Every doc carries one of the
    * shared banner paragraphs, so the cross-batch index arm fires on
    * every shard after the first (the banner's owner is in shard 0)
    * and the in-batch arm fires within shard 0 — no extra planting
    * needed. `indexWins` arrival-order firstness equals the batch
    * least() rule under range sharding, so the emission union must
    * equal [[graft.ops.Dedup.paragraphDedup]] on the planted corpus —
    * t70's exact twin.
    */
  def paragraphGate(documents: DataFrame, nShards: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    val docs = documents.select("doc_id", "text")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val planted = Dedup.plantParagraphs(docs)
    val idxRoot = Files.createTempDirectory("sgate_para_idx").toString
    val emit = Files.createTempDirectory("sgate_para_emit").toString + "/docs"
    val tbl = "sgate_para_index"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shards(planted, mx, nShards)) { (src, cp) =>
      EventStream.paragraphDedupStream(src, tbl, idxRoot, buckets = 8,
        checkpoint = cp, availableNow = true) { (out, _) =>
        out.write.mode("append").parquet(emit)
      }
    }
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.read.parquet(emit).orderBy("doc_id")
  }

  /** Streamed near-dup intake, gated: range shards against the
    * persisted minhash index. Every qualifying pair (a, b), a < b,
    * is found exactly once — in b's batch, either in-batch (new×new)
    * or against the index holding a (new×indexed) — so the emission
    * union must equal the one-shot [[graft.ops.Dedup.minhashLshPairs]]
    * at the same threshold: t25's exact twin. The fixture is
    * deliberately dup-heavy, so both candidate arms fire naturally.
    */
  def nearDupGate(documents: DataFrame, nShards: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    val docs = documents.select("doc_id", "text")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val idxRoot = Files.createTempDirectory("sgate_near_idx").toString
    val emit = Files.createTempDirectory("sgate_near_emit").toString + "/pairs"
    val tbl = "sgate_near_index"
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
    drive(shards(docs, mx, nShards), lowerStreamConf = false) { (src, cp) =>
      EventStream.nearDupStream(src, tbl, idxRoot, threshold = 0.5,
        buckets = 8, checkpoint = cp, availableNow = true) { (out, _) =>
        out.select("doc_a", "doc_b", "jac").write.mode("append").parquet(emit)
      }
    }
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
    spark.read.parquet(emit).orderBy("doc_a", "doc_b")
  }

  /** Streamed watermarked hourly aggregation, gated: the q21 batch
    * twin driven as a REAL stream — [[EventStream.hourlyStats]] (the
    * 1-hour tumbling window + 2-hour watermark) over TIME-contiguous
    * micro-batch shards, a fresh AvailableNow query per shard against
    * the shared checkpoint, so every shard boundary is a cold restart
    * of the windowed-aggregation state store.
    *
    * Two equalities make the batch twin exact. (1) Time-contiguous
    * ascending shards mean no row ever arrives behind the watermark
    * (the watermark only advances at batch boundaries, and shard i+1
    * starts at or after shard i's max event time), so the
    * late-row-drop arm never fires and every event reaches its
    * window. (2) The aggregation runs in COMPLETE output mode: each
    * micro-batch rewrites the full aggregate from restored state, so
    * the LAST overwrite is the whole-corpus result — and the per-row
    * quantized-decimal state of [[graft.ops.Exact.moneySum]]/
    * [[graft.ops.Exact.meanOf]] is order-independent, so streamed
    * partials merged across restarts equal the one-shot batch fold
    * bit-for-bit.
    */
  def hourlyGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val out = Files.createTempDirectory("sgate_hourly_out").toString + "/agg"
    completeGate(
      timeShards(events.select("ts", "event_type", "value"), nShards), out)(
      EventStream.hourlyStats(_))
    events.sparkSession.read.parquet(out).orderBy("hour", "event_type")
  }

  /** Streamed SLIDING windows, gated: [[EventStream.slidingStats]]
    * (2-hour width, 1-hour slide) over the time-contiguous
    * restart-per-shard drive — each event must land in BOTH of its
    * overlapping windows, including windows straddling a shard
    * boundary whose first half aggregated before a cold restart. The
    * batch twin assigns each event its two window starts explicitly.
    */
  def slidingGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val out = Files.createTempDirectory("sgate_slide_out").toString + "/agg"
    completeGate(
      timeShards(events.select("ts", "event_type", "value"), nShards), out)(
      EventStream.slidingStats(_))
    events.sparkSession.read.parquet(out).orderBy("wstart", "event_type")
  }

  /** Streamed session windows, gated: [[EventStream.sessionStats]]
    * (native session_window, 30-minute gap) over the same
    * time-contiguous restart-per-shard drive as [[hourlyGate]]. The
    * state store must MERGE windows across micro-batches and across
    * cold restarts — a session straddling a shard boundary only comes
    * out right if the restored state extends it — so the final
    * complete-mode result must equal the batch lag-gap rule (q22's
    * CTEs): same strictly-greater-than-gap session cut, session_end =
    * last event + gap.
    */
  def sessionGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val out = Files.createTempDirectory("sgate_sess_out").toString + "/agg"
    completeGate(timeShards(events.select("ts", "user_id"), nShards), out)(
      EventStream.sessionStats(_))
    events.sparkSession.read.parquet(out).orderBy("user_id", "session_start")
  }

  /** Streamed custom keyed state, gated: [[EventStream.
    * runningTotalsExact]] (mapGroupsWithState, one tiny record per
    * user) over the same restart-per-shard drive. State must restore
    * across cold restarts and fold each batch on top; the quantized
    * INTEGER accumulator makes the final state independent of arrival
    * order and shard cut, so each user's LAST emission (update-mode
    * semantics: one row per key per batch it appears in) must equal
    * the batch per-user count + integer value sum.
    */
  def runningTotalsGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val out = Files.createTempDirectory("sgate_state_out").toString + "/emissions"
    drive(timeShards(events.select("ts", "user_id", "value"), nShards)) { (src, cp) =>
      EventStream.runningTotalsExact(
          src.select("user_id", "value").as[EventStream.UserEvent])
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("batch_id").desc)
    spark.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "q_total")
      .orderBy("user_id")
  }

  /** Streaming SEARCH-INDEX intake, gated: each micro-batch's
    * [[graft.ops.CorpusOps.bm25IndexFrames]] appends its postings and
    * lengths to the persisted index (doc_ids disjoint across batches,
    * so appends ARE the [[graft.ops.CorpusOps.mergeBm25Index]] fold),
    * across restart-per-shard cold restarts. After the last shard the
    * persisted index serves the batch queries — and because serving
    * derives df by counting postings, the stream-built index must
    * rank IDENTICALLY to a one-shot full-corpus build: the twin is
    * s55's SQL verbatim. This is the serving story end-to-end:
    * documents arrive as a stream, the index stays current, rankings
    * never drift from a rebuild.
    */
  def bm25Gate(documents: DataFrame, queries: DataFrame,
      nShards: Int = 3): DataFrame = {
    import graft.ops.CorpusOps
    val spark = documents.sparkSession
    val docs = documents.select("doc_id", "text")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val root = Files.createTempDirectory("sgate_bm25_idx").toString
    drive(shards(docs, mx, nShards)) { (src, cp) =>
      src.writeStream
        .outputMode("append")
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val idx = CorpusOps.bm25IndexFrames(batch)
          idx.tf.write.mode("append").parquet(s"$root/tf")
          idx.lens.write.mode("append").parquet(s"$root/lens")
          CorpusOps.releaseCaches()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val lens = spark.read.parquet(s"$root/lens")
    val idx = CorpusOps.Bm25Index(
      spark.read.parquet(s"$root/tf"), lens,
      lens.agg(sum("len").as("sl"), count(lit(1)).as("nd")))
    CorpusOps.bm25SearchIndexed(queries, idx)
  }

  /** Streaming FUNNEL, gated: [[EventStream.funnelProgress]] (keyed
    * state, one tiny record per user) over the restart-per-shard
    * drive. Funnel steps straddling shard boundaries only come out
    * right if the per-user (t1, t2, t3) state restores across the
    * cold restarts — a user whose view lands in shard 1 and purchase
    * in shard 3 must still read stage 3. Last emission per user
    * (update-mode semantics), stage-0 users dropped; must equal the
    * one-shot batch funnel (t111's twin SQL verbatim).
    */
  def funnelGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val out = Files.createTempDirectory("sgate_funnel_out").toString + "/emissions"
    drive(timeShards(
        events.select("ts", "user_id", "event_id", "event_type"), nShards)) { (src, cp) =>
      EventStream.funnelProgress(
          src.select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("event_id"))
            .as[EventStream.FunnelEvent])
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("batch_id").desc)
    spark.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("stage") >= 1)
      .select("user_id", "stage", "t1", "t2", "t3")
      .orderBy("user_id")
  }

  /** Stream-static enrichment, gated: [[EventStream.enrichedHourly]]
    * joins each micro-batch against the customer dimension (broadcast,
    * re-planned per batch) before the watermarked hourly rollup per
    * market segment — the standard slowly-changing-reference-data
    * decoration, under the same restart-per-shard complete-mode drive
    * as [[hourlyGate]]. Twin: the plain batch join + rollup.
    */
  def enrichedGate(events: DataFrame, customer: DataFrame,
      nShards: Int = 3): DataFrame = {
    val out = Files.createTempDirectory("sgate_enr_out").toString + "/agg"
    val dim = customer.select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    completeGate(
      timeShards(events.select("ts", "user_id", "value"), nShards), out)(
      EventStream.enrichedHourly(_, dim, "user_id", "c_mktsegment"))
    events.sparkSession.read.parquet(out).orderBy("hour", "c_mktsegment")
  }

  /** Watermarked STREAM-STREAM interval join, gated:
    * [[EventStream.correlatedPairs]] (click→view within 10 minutes,
    * both sides watermarked, append mode) over the restart-per-shard
    * drive. Cross-shard pairs only come out right if the left side's
    * buffered join state survives the cold restart: a click in shard
    * i matching a view in shard i+1 sits within the 2-hour watermark
    * horizon under time-contiguous sharding, so eviction never beats
    * the match and every qualifying pair emits exactly once. The
    * emission union must equal the batch self-join.
    */
  def correlatedGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val out = Files.createTempDirectory("sgate_corr_out").toString + "/pairs"
    drive(timeShards(
        events.select("ts", "user_id", "event_id", "event_type"), nShards)) { (src, cp) =>
      EventStream.correlatedPairs(src).writeStream
        .outputMode("append")
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    events.sparkSession.read.parquet(out).orderBy("a_id", "b_id")
  }

  /** Streamed LEFT OUTER interval join, gated
    * ([[EventStream.correlatedPairsOuter]]): matched (click, view)
    * pairs emit as they occur; clicks with NO view in their window
    * emit a null arm only when the WATERMARK closes the window — so
    * the gate appends two sentinel shards (far-future click+view
    * markers, one per branch so BOTH watermark operators advance,
    * `user_id = -1` and filtered from output) after the real
    * time-contiguous shards: sentinel 1 advances the watermark past
    * every real window, sentinel 2 runs the batch in which Spark
    * actually evicts-and-emits the null arms (eviction uses the
    * PREVIOUS batch's watermark). Every shard boundary is a cold
    * restart, so unmatched-left state must survive checkpoint
    * recovery to emit at all. The emission union must equal the
    * batch LEFT JOIN twin exactly.
    */
  def outerJoinGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val spark = events.sparkSession
    val ev = events.select("ts", "user_id", "event_id", "event_type")
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val hourUs = 3600L * 1000000L
    def sentinels(off: Long, clickId: Long, viewId: Long): DataFrame =
      spark.range(1).select(
          timestamp_micros(lit(maxUs + off)).as("ts"), lit(-1L).as("user_id"),
          lit(clickId).as("event_id"), lit("click").as("event_type"))
        .unionByName(spark.range(1).select(
          timestamp_micros(lit(maxUs + off)).as("ts"), lit(-1L).as("user_id"),
          lit(viewId).as("event_id"), lit("view").as("event_type")))
    val out = Files.createTempDirectory("sgate_oj_out").toString + "/pairs"
    drive(timeShards(ev, nShards) ++
        Seq(sentinels(4 * hourUs, -1L, -2L), sentinels(6 * hourUs, -3L, -4L))) {
      (src, cp) =>
        EventStream.correlatedPairsOuter(src).writeStream
          .outputMode("append")
          .option("checkpointLocation", cp.get)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
    }
    spark.read.parquet(out).filter(col("user_id") >= 0)
      .orderBy(col("a_id"), col("b_id").asc_nulls_first)
  }

  /** Streamed BOUNDED-STATE ingest dedup, gated
    * ([[EventStream.dedupedEvents]] —
    * `dropDuplicatesWithinWatermark`): two planted re-delivery arms —
    * exact same-timestamp copies (id % 13 == 4) that land in the SAME
    * micro-batch and are dropped by in-batch state alone, and
    * CROSS-RESTART re-deliveries (originals from the last hour of
    * shard 1, re-arriving 90 minutes later — inside shard 2, inside
    * the 2-hour horizon) that only the checkpointed dedup state can
    * drop across the cold restart. Both horizons hold by
    * construction (eviction at a shard boundary reaches back
    * watermark+horizon ≈ 4 h; the re-delivery gap is 1.5 h), so the
    * survivor set must equal the natural corpus exactly — one
    * (event_type, n, id_sum) checksum row per type.
    */
  def dropDupGate(events: DataFrame, nShards: Int = 3): DataFrame = {
    val spark = events.sparkSession
    val ev = events.select("ts", "user_id", "event_id", "event_type")
    val sameBatch = ev.filter(col("event_id") % 13 === 4)
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    // shard-1/2 boundary, the same integer math as timeShards
    val b1 = lo + (hi - lo + 1) / nShards
    val hourUs = 3600L * 1000000L
    // STRICTLY < b1: an original at exactly ts == b1 belongs to shard
    // 2 (timeShards ranges are [lo + i·span/n, …)), so its +90 min
    // copy would land in the SAME micro-batch, where the in-batch
    // survivor is arbitrary — a partition-order-dependent checksum.
    // The planted re-deliveries must all cross the restart boundary.
    val redeliver = ev
      .filter(unix_micros(col("ts")) > b1 - hourUs && unix_micros(col("ts")) < b1)
      .withColumn("ts",
        timestamp_micros(unix_micros(col("ts")) + 90L * 60L * 1000000L))
    val out = Files.createTempDirectory("sgate_ddw_out").toString + "/ev"
    drive(timeShards(ev.unionByName(sameBatch).unionByName(redeliver), nShards)) {
      (src, cp) =>
        EventStream.dedupedEvents(src).writeStream
          .outputMode("append")
          .option("checkpointLocation", cp.get)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
    }
    val survivors = spark.read.parquet(out)
    // belt-and-braces determinism: the dedup key is event_id, so any
    // id with two distinct surviving timestamps means a planted copy
    // survived ALONGSIDE (not instead of) its original — fail loudly
    // rather than emit an order-dependent checksum
    require(survivors.groupBy("event_id")
      .agg(countDistinct(col("ts")).as("nts")).filter(col("nts") > 1)
      .limit(1).isEmpty,
      "dropDupGate: an event_id survived with two distinct timestamps")
    survivors
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
        // ts in the checksum: a re-delivered copy surviving in place
        // of its original has the same id but a +90 min ts — id_sum
        // alone would miss exactly that bug (+90 min ≡ 983803 mod
        // 1000003, never 0). Summed as small residues so the total
        // stays ~10¹¹ at sf0.1 — exact in BIGINT, in HUGEINT, AND in
        // a float64 round-trip (< 2⁵³): no engine/driver can distort
        // it. (A raw unix_micros sum is ~10¹⁹ — decimal-exact but
        // outside float64, the round-14 driver-hash-red class.)
        sum(pmod(unix_micros(col("ts")), lit(1000003L))).as("ts_chk"))
      .orderBy("event_type")
  }

  /** Cut an event frame into `n` contiguous event-TIME ranges — the
    * arrival order under which nothing is ever behind the watermark
    * (shard i+1 starts at or after shard i's max event time), so the
    * late-drop arm never fires and a batch twin stays exact.
    */
  private def timeShards(ev0: DataFrame, n: Int): Seq[DataFrame] = {
    // one materialization for the bounds probe + n shard writes (the
    // [[shards]] rationale); freed by [[drive]] after the last write
    val ev = checkpointSource(ev0)
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"),
      sum(when(col("ts").isNull, 1L).otherwise(0L)).as("n_null")).head()
    require(!b.isNullAt(0) && !b.isNullAt(1),
      "timeShards: input has no non-null event times — every gate " +
        "built on these shards would silently compare empty frames")
    require(b.getLong(2) == 0L,
      s"timeShards: ${b.getLong(2)} null-ts rows would vanish from " +
        "every shard (the range filters drop nulls) — a gate could " +
        "'pass' against a twin that also drops them without either " +
        "side ever seeing the rows")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = hi - lo + 1
    (0 until n).map { i =>
      val l = lo + i * (span / n)
      val h = lo + (i + 1) * (span / n)
      if (i == n - 1) ev.filter(unix_micros(col("ts")) >= l)
      else ev.filter(unix_micros(col("ts")) >= l && unix_micros(col("ts")) < h)
    }
  }

  /** Drive a COMPLETE-mode streaming aggregation over the shard
    * sequence: each micro-batch rewrites the full aggregate from
    * state restored across the per-shard cold restarts, so the last
    * overwrite of `out` is the whole-corpus result.
    */
  private def completeGate(shardFrames: Seq[DataFrame], out: String)(
      agg: DataFrame => DataFrame): Unit =
    drive(shardFrames) { (src, cp) =>
      agg(src).writeStream
        .outputMode("complete")
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }

  /** Cut a media frame into contiguous media_id ranges at the given
    * boundaries — history first, re-encodes later, so the planted
    * re-ingestions probe the index across restart boundaries (the
    * [[shards]] arrival-order story for the media fixtures' sparse
    * golden id spaces).
    */
  private def mediaShards(media: DataFrame, bounds: Seq[Long]): Seq[DataFrame] = {
    // NOT checkpointed like [[shards]]/[[timeShards]] (r17, measured):
    // media frames carry the decoded pixel/PCM payload columns, and
    // materializing those costs more than the re-evaluated shard
    // filters save (t131 min 3.4 → 6.7 s when this was checkpointed).
    val edges = Long.MinValue +: bounds :+ Long.MaxValue
    edges.sliding(2).toSeq.map { case Seq(lo, hi) =>
      media.filter(col("media_id") >= lo && col("media_id") < hi)
    }
  }

  /** Streamed SCD-2 MAINTENANCE, gated: the orders history arrives in
    * three contiguous o_orderdate range shards, each a cold restart;
    * per micro-batch the persisted interval STATE (a manifested
    * bucketed table — replace commits, snapshot-isolated) is folded
    * forward with [[graft.ops.Relational.scd2Fold]] — closed
    * intervals untouched, open intervals extend or close, new runs
    * chain. Date-range sharding satisfies the fold's monotonicity
    * contract by construction. The final state must equal the
    * one-shot rebuild over all orders: t125's twin VERBATIM — any
    * fold bug (a lost open interval, a double-counted run, state
    * that didn't survive the restart) shows as a row diff.
    */
  def scd2Gate(orders: DataFrame, nShards: Int = 3): DataFrame = {
    import graft.ops.Relational
    import graft.sinks.LakeWriter
    val spark = orders.sparkSession
    val o = orders.select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
    // day numbers, not JVM date types: the fixture's date column has
    // stored as DATE or NTZ timestamp across generations (the events
    // `ts` lesson) — integer datediff is agnostic to both
    val dn = datediff(col("o_orderdate"), lit("1970-01-01"))
    val b = o.agg(min(dn).as("lo"), max(dn).as("hi"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("n_null")).head()
    // the timeShards guards, ported: null dates would vanish from
    // every range filter and an empty input would NPE opaquely
    require(!b.isNullAt(0) && !b.isNullAt(1),
      "scd2Gate: input has no non-null order dates")
    require(b.getLong(2) == 0L,
      s"scd2Gate: ${b.getLong(2)} null-date rows would vanish from every shard")
    val (lo, hi) = (b.getInt(0).toLong, b.getInt(1).toLong)
    val span = hi - lo + 1
    val shards = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h = lo + (i + 1) * span / nShards
      if (i == nShards - 1) o.filter(dn >= l)
      else o.filter(dn >= l && dn < h)
    }
    val root = Files.createTempDirectory("sgate_scd2").toString
    val tbl = "sgate_scd2_state"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shards, lowerStreamConf = false) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // DELTA maintenance (r12): each batch commits ONLY the
          // affected customers' post-fold intervals as an append
          // commit — O(affected) physical I/O, not O(state); the
          // merged read (latest commit wins per customer) is the
          // state view, both here and for the final output
          val lw = new graft.sinks.LakeWriter(root)
          if (!spark.catalog.tableExists(tbl))
            lw.commitBucketed(
              Relational.scd2State(batch), tbl, 8, Seq("o_custkey"), replace = true)
          else {
            val state = LakeWriter.readBucketedTableMerged(
              spark, tbl, Seq("o_custkey"))
            lw.commitBucketed(
              Relational.scd2FoldDelta(state, batch), tbl, 8, Seq("o_custkey"))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("o_custkey"))
      .select("o_custkey", "o_orderstatus", "valid_from", "valid_to",
        "first_key", "n_orders")
      .orderBy("o_custkey", "valid_from", "first_key")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    out
  }

  /** Streamed INCREMENTAL connected components, gated: the sparsified
    * co-purchase edges arrive in three contiguous order-key range
    * shards, each a cold restart; the first batch labels its subgraph
    * outright, every later batch folds in through
    * [[graft.ops.GraphOps.foldComponentsDelta]] — contraction onto
    * the CURRENT merged labels, propagation on the contracted graph
    * only — and commits O(touched components) as an append delta to
    * the manifested bucketed label table (latest commit wins per id:
    * [[graft.sinks.LakeWriter.readBucketedTableMerged]]). The final
    * merged view must equal the one-shot full-graph closure: t145's
    * twin VERBATIM — a lost merge, a stale label surviving a restart,
    * or a delta that missed a touched member shows as a row diff.
    */
  def ccGate(lineitem: DataFrame, nShards: Int = 3): DataFrame = {
    import graft.ops.GraphOps
    import graft.sinks.LakeWriter
    val spark = lineitem.sparkSession
    val li = lineitem.filter(col("l_quantity") <= 5)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.ok").as("ok"), col("a.pk").as("src"), col("b.pk").as("dst"))
      .localCheckpoint() // bounds probe + three shard filters read it
    val b = pairs.agg(min("ok").as("lo"), max("ok").as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = hi - lo + 1
    val shardFrames = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h = lo + (i + 1) * span / nShards
      (if (i == nShards - 1) pairs.filter(col("ok") >= l)
       else pairs.filter(col("ok") >= l && col("ok") < h))
        .select("src", "dst")
    }
    val root = Files.createTempDirectory("sgate_cc").toString
    val tbl = "sgate_cc_labels"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shardFrames, lowerStreamConf = false) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val lw = new graft.sinks.LakeWriter(root)
          if (!spark.catalog.tableExists(tbl))
            lw.commitBucketed(
              GraphOps.connectedComponents(batch, maxIter = 60),
              tbl, 8, Seq("id"), replace = true)
          else {
            val cur = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("id"))
            lw.commitBucketed(
              GraphOps.foldComponentsDelta(cur, batch, maxIter = 60),
              tbl, 8, Seq("id"))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("id"))
      .orderBy("id")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    out
  }

  /** Streamed MATERIALIZED-VIEW maintenance, gated: the orders fact
    * arrives in three contiguous order-key range shards, each a cold
    * restart; per micro-batch the grouped (count, cents-sum) MV folds
    * the batch as an all-insert change feed through
    * [[graft.ops.Relational.incrementalGroupSum]] and commits ONLY
    * the touched groups as an append delta to a manifested bucketed
    * MV table (latest commit wins per group:
    * [[graft.sinks.LakeWriter.readBucketedTableMerged]]). The base
    * table is never re-read after its shard passes — per-batch I/O is
    * O(batch + touched groups), the 100 TB continuous-aggregation
    * shape. The final merged view must equal the one-shot full
    * recompute (the twin) exactly — integer sums, so a dropped batch,
    * a double-applied replay, or a stale group surviving a restart
    * shows as an off-by-N, never as float noise.
    */
  def mvGate(orders: DataFrame, nShards: Int = 3): DataFrame = {
    import graft.ops.Relational
    import graft.sinks.LakeWriter
    val spark = orders.sparkSession
    val o = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    val b = o.agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = hi - lo + 1
    val shardFrames = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h = lo + (i + 1) * span / nShards
      if (i == nShards - 1) o.filter(col("o_orderkey") >= l)
      else o.filter(col("o_orderkey") >= l && col("o_orderkey") < h)
    }
    val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
    val root = Files.createTempDirectory("sgate_mv").toString
    val tbl = "sgate_mv_state"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shardFrames) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val lw = new graft.sinks.LakeWriter(root)
          val feed = batch.withColumn("change_type", lit("insert"))
          if (!spark.catalog.tableExists(tbl))
            lw.commitBucketed(
              batch.groupBy(col("o_orderpriority").as("grp"))
                .agg(count(lit(1)).as("n"), sum(cents).as("s")),
              tbl, 4, Seq("grp"), replace = true)
          else {
            val mv = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("grp"))
            // commit only groups the batch touched — the untouched
            // groups' rows stay carried by their older commits
            val touched = feed.select(col("o_orderpriority").as("grp")).distinct()
            lw.commitBucketed(
              Relational.incrementalGroupSum(mv, feed,
                  col("o_orderpriority"), cents)
                .join(touched, Seq("grp"), "left_semi"),
              tbl, 4, Seq("grp"))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("grp"))
      .orderBy("grp")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    out
  }

  /** Streamed CUSUM changepoint monitoring, gated: the orders fact
    * arrives in three contiguous DATE-range shards (each a cold
    * restart — days never split, so every per-day period is complete
    * within its batch and shards arrive in time order), and each
    * micro-batch folds the fixed-target clamped CUSUM
    * s_t = max(0, s_{t−1} + (x_t − target)) forward per priority via
    * the carry identity s_t = max(s₀ + c_t, c_t − min_{1≤k≤t} c_k)
    * (c = batch-local cumsum of deviations, s₀ = the carried value) —
    * so the per-group state is FOUR numbers (last s, first detection,
    * running max, period count), not the series, and each batch
    * commits O(touched groups) as an append delta to a manifested
    * bucketed state table (latest commit wins per group). This is the
    * monitoring shape a 100 TB ingest actually runs: the fact stream
    * is read once, state is O(groups). The final merged view must
    * equal [[graft.ops.Relational.cusumFixedTarget]] on the full
    * corpus exactly — all-integer DECIMAL(38,0) arithmetic, so a
    * dropped batch, a replayed fold, or a stale carry shows as an
    * off-by-N. The planted +25/day level shift from 1996-06-01 (the
    * t196 fixture) must be detected; target = 2 ≈ the sf0.01 natural
    * daily rate so the pre-shift walk hovers near the clamp.
    */
  def cusumGate(orders: DataFrame, nShards: Int = 3,
      target: Long = 2L, h: Long = 500L): DataFrame = {
    import graft.sinks.LakeWriter
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val spark = orders.sparkSession
    val o = orders.select("o_orderkey", "o_orderpriority", "o_orderdate")
    // date-range shards, the scd2Gate discipline: integer day numbers
    // are agnostic to the fixture's DATE-vs-NTZ storage generations
    val dn = datediff(col("o_orderdate"), lit("1970-01-01"))
    val b = o.agg(min(dn).as("lo"), max(dn).as("hi"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("n_null")).head()
    require(!b.isNullAt(0) && !b.isNullAt(1), "cusumGate: no non-null dates")
    require(b.getLong(2) == 0L, "cusumGate: null dates would vanish")
    val (lo, hi) = (b.getInt(0).toLong, b.getInt(1).toLong)
    val span = hi - lo + 1
    val shards = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h2 = lo + (i + 1) * span / nShards
      if (i == nShards - 1) o.filter(dn >= l)
      else o.filter(dn >= l && dn < h2)
    }
    val root = Files.createTempDirectory("sgate_cusum").toString
    val tbl = "sgate_cusum_state"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shards) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val lw = new graft.sinks.LakeWriter(root)
          // complete per-day periods (days never straddle a shard),
          // with the planted level shift applied at source
          val daily = batch
            .groupBy(col("o_orderpriority").as("grp"),
              col("o_orderdate").as("t"))
            .agg(count(lit(1)).as("cnt"))
            .select(col("grp"), col("t"),
              (col("cnt") + when(col("t") >= lit("1996-06-01"), 25L)
                .otherwise(0L)).as("x"))
          val exists = spark.catalog.tableExists(tbl)
          val state =
            if (exists) LakeWriter.readBucketedTableMerged(spark, tbl, Seq("grp"))
            else daily.limit(0).select(col("grp"),
              lit(null).cast(dec).as("s_last"), col("t").as("t_detect"),
              lit(null).cast(dec).as("s_max"),
              lit(null).cast("long").as("n_periods"), col("t").as("last_t"))
          val w = Window.partitionBy("grp").orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val scored = daily.join(state, Seq("grp"), "left")
            .withColumn("c", sum((col("x") - lit(target)).cast(dec)).over(w))
            .withColumn("s", greatest(
              coalesce(col("s_last"), lit(0).cast(dec)) + col("c"),
              col("c") - min("c").over(w)))
          // time-ordered delivery is the fold's correctness premise —
          // a period at or before the carried frontier means the
          // shards were not time-contiguous: refuse, don't corrupt
          val regressed = scored
            .filter(col("last_t").isNotNull && col("t") <= col("last_t")).count()
          require(regressed == 0L,
            s"cusumGate: $regressed periods arrived behind the carried frontier")
          val upd = scored.groupBy("grp").agg(
            expr("max_by(s, t)").as("new_s_last"),
            min(when(col("s") > lit(h).cast(dec), col("t"))).as("batch_detect"),
            max("s").as("batch_smax"),
            count(lit(1)).as("batch_n"),
            max(col("t")).as("batch_last_t"),
            min(col("t_detect")).as("old_detect"),
            max(col("s_max")).as("old_smax"),
            max(col("n_periods")).as("old_n"))
            .select(col("grp"), col("new_s_last").as("s_last"),
              coalesce(col("old_detect"), col("batch_detect")).as("t_detect"),
              greatest(coalesce(col("old_smax"), lit(0).cast(dec)),
                col("batch_smax")).as("s_max"),
              (coalesce(col("old_n"), lit(0L)) + col("batch_n")).as("n_periods"),
              col("batch_last_t").as("last_t"))
          lw.commitBucketed(upd, tbl, 4, Seq("grp"), replace = !exists)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("grp"))
      .select(col("grp"), col("n_periods"), col("t_detect"),
        col("s_max").cast("long").as("s_max"))
      .orderBy("grp")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    out
  }

  /** Streamed TIME-WEIGHTED-AVERAGE maintenance, gated: the orders
    * fact in three date-range shards across cold restarts, each
    * micro-batch folding the per-customer LOCF integral forward with
    * O(keys) carried state — (first_t, last observation, running
    * integral, count). The boundary segment between a batch and its
    * carry is computed by UNIONING one virtual row (the carried last
    * observation) into the batch before the lead window, so the
    * batch-internal pairs and the cross-batch pair ride one code
    * path. Time-ordered delivery is asserted (a period at or behind
    * the carried frontier refuses the fold). Final view must equal
    * [[graft.ops.Relational.timeWeightedAvg]] on the full corpus —
    * twin is t209's SQL verbatim.
    */
  def twapGate(orders: DataFrame, nShards: Int = 3): DataFrame = {
    import graft.sinks.LakeWriter
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val spark = orders.sparkSession
    val o = orders.select("o_orderkey", "o_custkey", "o_orderdate",
      "o_totalprice")
    val dn = datediff(col("o_orderdate"), lit("1970-01-01"))
    val b = o.agg(min(dn).as("lo"), max(dn).as("hi"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("n_null")).head()
    require(!b.isNullAt(0) && !b.isNullAt(1), "twapGate: no non-null dates")
    require(b.getLong(2) == 0L, "twapGate: null dates would vanish")
    val (lo, hi) = (b.getInt(0).toLong, b.getInt(1).toLong)
    val span = hi - lo + 1
    val shards = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h = lo + (i + 1) * span / nShards
      if (i == nShards - 1) o.filter(dn >= l)
      else o.filter(dn >= l && dn < h)
    }
    val root = Files.createTempDirectory("sgate_twap").toString
    val tbl = "sgate_twap_state"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shards, lowerStreamConf = false) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val lw = new graft.sinks.LakeWriter(root)
          val rows = batch.select(col("o_custkey").as("k"),
            datediff(col("o_orderdate"), lit("1970-01-01"))
              .cast("long").as("t"),
            floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("v"))
          val exists = spark.catalog.tableExists(tbl)
          val state =
            if (exists) LakeWriter.readBucketedTableMerged(spark, tbl, Seq("k"))
            else rows.limit(0).select(col("k"),
              lit(null).cast("long").as("first_t"),
              lit(null).cast("long").as("last_t"),
              lit(null).cast("long").as("last_v"),
              lit(null).cast(dec).as("integral"),
              lit(null).cast("long").as("n_obs"))
          val touched = rows.select("k").distinct()
          // the carried last observation enters the batch as ONE
          // virtual row per touched key — its lead pair IS the
          // cross-batch boundary segment
          val virt = state.join(touched, Seq("k"), "left_semi")
            .select(col("k"), col("last_t").as("t"), col("last_v").as("v"))
            .withColumn("real", lit(false))
          val uni = rows.withColumn("real", lit(true)).unionByName(virt)
          val regressed = uni.filter(col("real"))
            .join(state.select(col("k"), col("last_t")), Seq("k"), "left")
            .filter(col("last_t").isNotNull && col("t") <= col("last_t"))
            .count()
          require(regressed == 0L,
            s"twapGate: $regressed rows arrived behind the carried frontier")
          val w = Window.partitionBy("k").orderBy("t", "v")
          val segs = uni.withColumn("t2", lead("t", 1).over(w))
            .filter(col("t2").isNotNull)
            .groupBy("k")
            .agg(sum((col("t2") - col("t")).cast(dec) * col("v").cast(dec))
              .as("int_add"))
          val tops = uni.groupBy("k").agg(
            max(struct(col("t"), col("v"))).as("lastS"),
            min(when(col("real"), col("t"))).as("bfirst"),
            sum(when(col("real"), 1L).otherwise(0L)).as("n_add"))
          val upd = tops
            .join(segs, Seq("k"), "left")
            .join(state, Seq("k"), "left")
            .select(col("k"),
              coalesce(col("first_t"), col("bfirst")).as("first_t"),
              col("lastS.t").as("last_t"), col("lastS.v").as("last_v"),
              (coalesce(col("integral"), lit(0).cast(dec)) +
                coalesce(col("int_add"), lit(0).cast(dec))).as("integral"),
              (coalesce(col("n_obs"), lit(0L)) + col("n_add")).as("n_obs"))
          lw.commitBucketed(upd, tbl, 8, Seq("k"), replace = !exists)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("k"))
      .filter(col("last_t") - col("first_t") > 0)
      .select(col("k"), col("n_obs"),
        (col("last_t") - col("first_t")).as("span"),
        expr("CAST((integral * 1000000) DIV " +
          "CAST(last_t - first_t AS DECIMAL(38,0)) AS BIGINT)")
          .as("twap_micro"))
      .orderBy("k")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    out
  }

  /** Streamed ISLANDS & GAPS maintenance, gated: the (gap-planted)
    * order-key domain arrives in three contiguous key-range shards
    * across cold restarts; each batch computes ITS islands with the
    * batch-local anti-join form, then stitches the single possible
    * cross-batch seam — the batch's first island extends the carried
    * last island iff it starts exactly one past its end (latest-wins
    * per island_start makes the extension a one-row delta commit).
    * State is O(islands); the fact stream is read once. Final view
    * must equal the one-shot [[graft.ops.Relational.islands]] — twin
    * is t204's SQL verbatim.
    */
  def islandsGate(orders: DataFrame, nShards: Int = 3): DataFrame = {
    import graft.ops.Relational
    import graft.sinks.LakeWriter
    val spark = orders.sparkSession
    val ids = orders.filter(col("o_orderkey") % 13 =!= 5)
      .select("o_orderkey")
    val bb = ids.agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi")).head()
    val (lo, hi) = (bb.getLong(0), bb.getLong(1))
    val span = hi - lo + 1
    val shardFrames = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h = lo + (i + 1) * span / nShards
      if (i == nShards - 1) ids.filter(col("o_orderkey") >= l)
      else ids.filter(col("o_orderkey") >= l && col("o_orderkey") < h)
    }
    val root = Files.createTempDirectory("sgate_isl").toString
    val tbl = "sgate_islands_state"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    drive(shardFrames) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val lw = new graft.sinks.LakeWriter(root)
          val bi = Relational.islands(batch, col("o_orderkey"))
            .select("island_start", "island_end")
          val exists = spark.catalog.tableExists(tbl)
          // an empty micro-batch (possible: shard ranges are
          // data-derived) has no islands and no frontier to stitch —
          // skip the commit entirely, like cusumGate/twapGate's guards
          val biMin = bi.agg(min("island_start")).head()
          if (biMin.isNullAt(0)) ()
          else if (!exists)
            lw.commitBucketed(bi, tbl, 4, Seq("island_start"), replace = true)
          else {
            val state = LakeWriter.readBucketedTableMerged(
              spark, tbl, Seq("island_start"))
            // the carried frontier island — one bounded driver row
            val c = state
              .agg(max(struct(col("island_start"), col("island_end"))))
              .head().getStruct(0)
            val (cs, ce) = (c.getLong(0), c.getLong(1))
            val bmin = biMin.getLong(0)
            require(bmin > ce,
              s"islandsGate: batch island at $bmin is behind the carried frontier $ce")
            // seam stitch: a batch island starting exactly one past
            // the carried end inherits the carried start — the
            // latest-wins commit replaces the frontier row in place
            val upd =
              if (bmin == ce + 1)
                bi.withColumn("island_start",
                  when(col("island_start") === ce + 1, cs)
                    .otherwise(col("island_start")))
              else bi
            lw.commitBucketed(upd, tbl, 4, Seq("island_start"))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = LakeWriter.readBucketedTableMerged(spark, tbl, Seq("island_start"))
      .select(col("island_start"), col("island_end"),
        (col("island_end") - col("island_start") + 1).as("span_len"))
      .orderBy("island_start")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    out
  }

  /** Streamed POINT-IN-TIME enrichment, gated: the t127 probe stream
    * (event-derived lookup dates) arrives in three id-range shards
    * across cold restarts; each micro-batch LEFT-joins the STATIC
    * SCD-2 interval table (built once, checkpointed — the
    * stream-static dimension-lookup shape) and appends its
    * enrichments. Per-batch work is O(batch ⋈ intervals); the
    * emission union must equal the one-shot batch PIT join — twin is
    * t127's SQL verbatim.
    */
  def pitGate(events: DataFrame, orders: DataFrame,
      nShards: Int = 3): DataFrame = {
    import graft.ops.{EventOps, Relational}
    val spark = events.sparkSession
    val probes = events.select(col("event_id"),
      (col("user_id") + 1).as("custkey"),
      date_add(to_date(lit("1992-01-01")),
        (col("event_id") % 2500).cast("int")).as("pdate"))
    val mb = probes.agg(min("event_id").as("lo"), max("event_id").as("hi"))
      .head()
    val (lo, hi) = (mb.getLong(0), mb.getLong(1))
    val span = hi - lo + 1
    val shardFrames = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h = lo + (i + 1) * span / nShards
      if (i == nShards - 1) probes.filter(col("event_id") >= l)
      else probes.filter(col("event_id") >= l && col("event_id") < h)
    }
    val intervals = Relational.scd2Intervals(orders).localCheckpoint()
    val out = Files.createTempDirectory("sgate_pit_out").toString + "/enriched"
    drive(shardFrames) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          EventOps.pitJoin(batch, "custkey", "pdate", intervals, "o_custkey",
              payload = Seq("o_orderstatus", "valid_from"))
            .write.mode("append").parquet(out)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    spark.read.parquet(out).orderBy("event_id")
  }

  /** Streamed EMBEDDING→IVF index intake, gated: corpus vectors
    * arrive in three vec_id-range shards (each a cold restart). The
    * FIRST batch trains nothing — the deterministic seed-centroid
    * contract (first nCells corpus vectors by id, the s35 shape)
    * fixes the centroid table once, and every later batch only runs
    * the ASSIGN step against that broadcast table and appends its
    * cell-bucketed rows as a manifested commit — O(batch) work, the
    * way a production ANN index actually ingests (train once, assign
    * forever, retrain offline). Because assignment is per-row against
    * fixed centroids, the streamed index is bit-identical to the
    * one-shot build, and serving the standard queries against it must
    * reproduce s35's gated output exactly — twin is s35's SQL
    * verbatim.
    */
  def ivfGate(embeddings: DataFrame, nShards: Int = 3): DataFrame = {
    import graft.ops.Similarity
    import graft.sinks.LakeWriter
    val spark = embeddings.sparkSession
    val queries = embeddings.filter(col("vec_id") < 5)
    val corpus = embeddings.filter(col("vec_id") >= 5)
    val b = corpus.agg(min("vec_id").as("lo"), max("vec_id").as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = hi - lo + 1
    // id-range shards: shard 1 contains the first nCells corpus ids,
    // so the seed-centroid contract sees exactly the s35 centroids
    val shardFrames = (0 until nShards).map { i =>
      val l = lo + i * span / nShards
      val h = lo + (i + 1) * span / nShards
      if (i == nShards - 1) corpus.filter(col("vec_id") >= l)
      else corpus.filter(col("vec_id") >= l && col("vec_id") < h)
    }
    val root = Files.createTempDirectory("sgate_ivf").toString
    val name = "sgate_ivf_idx"
    spark.sql(s"DROP TABLE IF EXISTS ${name}_cents")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_assigned")
    drive(shardFrames, lowerStreamConf = false) { (src, cp) =>
      src.writeStream
        .option("checkpointLocation", cp.get)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val lw = new LakeWriter(root)
          if (!spark.catalog.tableExists(s"${name}_cents"))
            Similarity.writeIvfIndex(
              Similarity.ivfIndexFrames(batch, nCells = 16, kmeansIters = 0),
              lw, name)
          else {
            val cents = LakeWriter.readBucketedTable(spark, s"${name}_cents")
            lw.commitBucketed(Similarity.ivfAssign(cents, batch),
              s"${name}_assigned", 32, Seq("cid"))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = Similarity
      .ivfServe(queries, Similarity.readIvfIndex(spark, name))
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS ${name}_cents")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_assigned")
    out
  }

  /** Streamed IMAGE near-dup intake, gated: the golden t93 corpus
    * arrives first (in-batch pairs = t93's frame, and its hashes
    * build the index), then the t105 re-encodes split across TWO
    * further cold restarts — (11,14) straddles them, so it is only
    * found if 11's hashes survived the restart in the persisted
    * index. Emission union must equal the one-shot batch pairs over
    * the full corpus: t93's golden frame ∪ t105's golden frame,
    * hand-derived VALUES.
    */
  def imageNearDupStreamGate(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val M = graft.multimodal.MediaOps
    val corpus = M.goldenImageFixture(spark)
      .unionByName(M.goldenImageProbeFixture(spark))
    val idxRoot = Files.createTempDirectory("sgate_img_idx").toString
    val emit = Files.createTempDirectory("sgate_img_emit").toString + "/pairs"
    val tbl = "sgate_img_index"
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_chunks")
    drive(mediaShards(corpus, Seq(10L, 14L))) { (src, cp) =>
      EventStream.imageNearDupStream(src, tbl, idxRoot,
        decoder = M.ImageIoDecoder, maxHamming = 5, buckets = 8,
        checkpoint = cp, availableNow = true) { (out, _) =>
        out.select("media_a", "media_b", "hamming")
          .write.mode("append").parquet(emit)
      }
    }
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_chunks")
    spark.read.parquet(emit).orderBy("media_a", "media_b")
  }

  /** Streamed AUDIO near-dup intake, gated: the golden t106 corpus
    * first (in-batch window pairs = t106's frame), then the t108
    * re-encodes across two further cold restarts — (31,34) straddles
    * them, provable only through the persisted index. Emission union
    * must equal t106's ∪ t108's golden frames.
    */
  def audioNearDupStreamGate(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val M = graft.multimodal.MediaOps
    val corpus = M.goldenAudioFixture(spark)
      .unionByName(M.goldenAudioProbeFixture(spark))
    val idxRoot = Files.createTempDirectory("sgate_aud_idx").toString
    val emit = Files.createTempDirectory("sgate_aud_emit").toString + "/pairs"
    val tbl = "sgate_aud_index"
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_achunks")
    drive(mediaShards(corpus, Seq(30L, 33L))) { (src, cp) =>
      EventStream.audioNearDupStream(src, tbl, idxRoot,
        decoder = M.WavDecoder, windowMs = 2000L, strideMs = 2000L,
        maxHamming = 5, buckets = 8,
        checkpoint = cp, availableNow = true) { (out, _) =>
        out.select("media_a", "media_b", "start_ms", "hamming")
          .write.mode("append").parquet(emit)
      }
    }
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_achunks")
    spark.read.parquet(emit).orderBy("media_a", "media_b", "start_ms")
  }
}
