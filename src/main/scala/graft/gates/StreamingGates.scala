package graft.gates

import graft.ops._
import Twins._

/** Streaming forms, each driven micro-batch by micro-batch
  * (`graft.streaming.StreamGates`, `EventStream`). */
object StreamingGates {
  def gates: Seq[Gate] = Seq(
    // STREAMING incremental components: edge shards across cold
    // restarts, per-batch contraction folds + O(touched) delta commits
    // to the manifested label table; final merged view = full closure
    Gate("t153_stream_cc",
      // t153 twin: the t145 full-graph closure verbatim — the streamed
      // delta-committed label table must reproduce it exactly
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
      t => graft.streaming.StreamGates.ccGate(t.lineitem)),
    // STREAMING MV maintenance: the orders fact in three key-range
    // shards (each a cold restart), the grouped (count, cents-sum) MV
    // folded per batch and committed as O(touched groups) deltas to a
    // merge-on-read state table; final view = full recompute exactly
    Gate("t176_stream_mv",
      // t176 twin: the full recompute the streamed fold must land on
      """SELECT o_orderpriority AS grp, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS HUGEINT)) AS BIGINT) AS s
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      t => graft.streaming.StreamGates.mvGate(t.orders)),
    // STREAM-STREAM LEFT OUTER interval join across cold restarts:
    // null arms emit only when the watermark closes each window —
    // driven past the corpus by two sentinel shards
    Gate("t184_stream_outer_join",
      // t184 twin: the plain batch LEFT JOIN — every unmatched click's
      // window closed before the sentinel-driven final watermark
      """WITH c AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id AS vuser, event_id AS b_id, epoch_us(ts) AS b_us
        |  FROM events WHERE event_type = 'view')
        |SELECT user_id, a_id, b_id, a_us, b_us
        |FROM c LEFT JOIN v ON user_id = vuser
        |  AND b_us >= a_us AND b_us <= a_us + 600000000
        |ORDER BY a_id, b_id NULLS FIRST""".stripMargin,
      t => graft.streaming.StreamGates.outerJoinGate(t.events)),
    // dropDuplicatesWithinWatermark gate: same-batch exact copies AND
    // cross-restart 90-minute re-deliveries both dropped — survivors
    // must equal the natural corpus (ts in the checksum)
    Gate("t186_stream_dropdup",
      // t186 twin: survivors = the natural corpus, every planted
      // re-delivery dropped. ts_chk sums BOUNDED residues (epoch_us mod
      // 1000003) so every hashed value stays < 2^53 — exact in BIGINT,
      // HUGEINT, and any float64 round-trip; a surviving +90 min copy
      // still shifts the residue (983803 mod 1000003 ≠ 0)
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(epoch_us(ts) % 1000003) AS BIGINT) AS ts_chk
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      t => graft.streaming.StreamGates.dropDupGate(t.events)),
    // STREAMING CUSUM monitoring: the t196 planted shift, but the
    // orders fact arrives in three date-range shards across cold
    // restarts and the fixed-target clamped CUSUM folds forward with
    // O(groups) carried state; must equal the batch closed form
    Gate("t197_stream_cusum",
      // t197 twin: the one-shot fixed-target closed form over the full
      // corpus — the streamed carry fold must land on it exactly
      """WITH daily AS (SELECT o_orderpriority AS pri, o_orderdate AS dt,
        |    count(*) + CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1996-06-01'
        |      THEN 25 ELSE 0 END AS x
        |  FROM orders GROUP BY 1, 2),
        |b AS (SELECT pri AS grp, dt AS t, CAST(x AS HUGEINT) AS x FROM daily),
        |c AS (SELECT grp, t,
        |    sum(x - 2) OVER (PARTITION BY grp ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM b),
        |k AS (SELECT grp, t, c - least(CAST(0 AS HUGEINT),
        |    min(c) OVER (PARTITION BY grp ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
        |  FROM c)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_periods,
        |  min(CASE WHEN cusum > 500 THEN t END) AS t_detect,
        |  CAST(max(cusum) AS BIGINT) AS s_max
        |FROM k GROUP BY grp ORDER BY grp""".stripMargin,
      t => graft.streaming.StreamGates.cusumGate(t.orders)),
    // STREAMING POINT-IN-TIME enrichment: probe shards across cold
    // restarts, each micro-batch PIT-joined to the static SCD-2
    // interval table; emissions union to the batch join
    Gate("t221_stream_pit",
      // t221 twin: t127's one-shot SQL VERBATIM — per-micro-batch
      // enrichment emissions must union to the batch join
      t127Sql,
      t => graft.streaming.StreamGates.pitGate(t.events, t.orders)),
    // STREAMING ISLANDS maintenance: key-range shards across cold
    // restarts, each batch's islands seam-stitched onto the carried
    // frontier island by a one-row latest-wins delta; O(islands) state
    Gate("t220_stream_islands",
      // t220 twin: t204's one-shot SQL VERBATIM — the streamed
      // seam-stitched fold must be indistinguishable
      t204Sql,
      t => graft.streaming.StreamGates.islandsGate(t.orders)),
    // STREAMING TWAP maintenance: date-range shards across cold
    // restarts, per-customer LOCF integral folded forward with
    // O(keys) carried state; must equal the batch closed form
    Gate("t217_stream_twap",
      // t217 twin: t209's one-shot SQL VERBATIM — the streamed carry
      // fold must be indistinguishable from the batch closed form
      t209Sql,
      t => graft.streaming.StreamGates.twapGate(t.orders)),
    // STREAMING IVF intake: vec_id-range shards across cold restarts,
    // centroids fixed by the first batch (seed contract), later
    // batches assign-and-append only; serving must equal the one-shot
    // s35 build bit-for-bit
    Gate("t213_stream_ivf",
      // t213 twin: s35's one-shot build SQL VERBATIM — the streamed
      // train-once/assign-forever intake must be indistinguishable
      s35Sql,
      t => graft.streaming.StreamGates.ivfGate(t.embeddings)),
    // STREAMING SCD-2: the orders history streamed in three
    // date-range shards (each a cold restart), the interval state
    // folded forward in a manifested bucketed table per batch; final
    // state must equal the one-shot rebuild (t125's twin verbatim)
    Gate("t137_scd2_stream",
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
      t => graft.streaming.StreamGates.scd2Gate(t.orders)),
    // STREAMING search-index intake: per-batch index frames appended
    // across cold restarts; the stream-built index must rank exactly
    // like a one-shot rebuild (twin = s55 verbatim)
    Gate("t122_stream_bm25",
      // t122 twin: s55's full-corpus SQL verbatim — the stream-built
      // index must serve identical rankings
      bm25BatchSql,
      t => { val s = t.spark
        import s.implicits._
        graft.streaming.StreamGates.bm25Gate(
          t.documents, BatchQueries.toDF("query_id", "qtext")) }),
    // STREAMING funnel: the t111 rule as per-user keyed state over
    // real restart-per-shard micro-batches — (t1, t2, t3) must
    // restore across cold restarts for steps straddling shards
    Gate("t113_stream_funnel",
      // t113 twin: the stream's final per-user funnel state must equal
      // the one-shot batch funnel — t111's SQL verbatim
      funnelSql,
      t => graft.streaming.StreamGates.funnelGate(t.events)),
    // the SAME nine-operator capstone as a foreachBatch intake stream
    // across cold restarts (stages 1-4 per micro-batch against a
    // persisted URL index + staging table, stages 5-9 at day close) —
    // final corpus must equal the batch capstone VERBATIM, so the
    // twin IS t135's SQL unchanged
    Gate("t228_stream_crawl_corpus",
      // t228 twin: the batch capstone's SQL verbatim — the streaming
      // intake must converge to the identical corpus
      t135Sql,
      t => {
        graft.streaming.StreamGates.crawlCorpusGate(
        t.documents, UrlOps.plantUrls(t.documents)) }),
    // the capstone across TWO day-closes: day-1 streams and closes,
    // its URL index carries over the day boundary, day-2 streams
    // against it (planted refetches make the cross-day probe
    // falsifiable) and closes — day-2's corpus must equal the batch
    // build on the day-2 slice with day-1 in history
    Gate("t240_stream_crawl_multiday", t240Sql,
      t => {
        graft.streaming.StreamGates.crawlMultiDayGate(
        t.documents, UrlOps.plantUrls(t.documents)) }),
    // TPC-H Q1 as a streaming MATERIALIZED VIEW: exact integer
    // sufficient statistics folded per micro-batch across cold
    // restarts, rendered at day close with the batch quant formulas —
    // must equal the one-shot q64_tpch01 verbatim
    Gate("t230_stream_tpch_q1",
      // t230 twin: the MV must equal the one-shot Q1 verbatim
      tpch01Sql,
      t => graft.streaming.StreamGates.tpchQ1Gate(t.lineitem)),
    // streaming LINEAR-TREND MV: additive OLS moments folded per
    // complete-day micro-batch across cold restarts ≡ t235 verbatim
    Gate("t236_stream_trend",
      // t236 twin: the streamed moment-MV must equal the one-shot OLS
      trendSql,
      t => graft.streaming.StreamGates.trendGate(t.orders)),
    // the SAME statistic as a streaming MV across cold restarts: the
    // trimmed mean is not additive but its VALUE HISTOGRAM is — each
    // batch folds an O(touched-cells) count delta, day close renders
    // through the batch gate's own code path; twin = t241 verbatim
    Gate("t242_stream_trimmed_mean", trimmedMeanSql,
      t => graft.streaming.StreamGates.trimmedMeanGate(t.orders)),
    // streaming VOCABULARY maintenance: additive token counts folded
    // per micro-batch across cold restarts (O(batch-vocab) delta
    // commits), day-close top-k ≡ the one-shot t58 verbatim
    Gate("t232_stream_vocab",
      // t232 twin: the streamed count-MV must equal the one-shot
      // vocabulary verbatim
      vocabSql,
      t => graft.streaming.StreamGates.vocabGate(t.documents)),
    // the streaming intake family under the gate: each drives the
    // REAL foreachBatch stream (file source, AvailableNow, a fresh
    // query per range shard against a shared checkpoint — every
    // shard boundary is a cold restart) and returns a frame whose
    // batch twin is exact under arrival-order == doc_id-order
    // sharding. See graft.streaming.StreamGates.
    Gate("t88_stream_exact_dedup",
      // streamed exact dedup: emissions ⋈ final index must equal the
      // batch min-per-fingerprint rule on the identically-planted
      // corpus (re-ingests under +1e6 ids; an in-batch novel-text dup
      // pair under +2e6/+3e6 — mirrors StreamGates.exactDedupGate)
      """WITH pl AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 9 = 2
        |  UNION ALL SELECT doc_id + 2000000, text || ' zz novel tail' FROM documents WHERE doc_id % 25 = 10
        |  UNION ALL SELECT doc_id + 3000000, text || ' zz novel tail' FROM documents WHERE doc_id % 25 = 10),
        |fp AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM pl)
        |SELECT min(doc_id) AS doc_id, fp FROM fp GROUP BY fp
        |ORDER BY doc_id""".stripMargin,
      t => graft.streaming.StreamGates.exactDedupGate(t.documents)),
    Gate("t89_stream_paragraph_dedup",
      // streamed paragraph dedup: arrival-order firstness under range
      // sharding equals the batch least() rule, so the emission union
      // is exactly t70's planted-corpus recompute — twin shared
      paragraphDedupSql(""),
      t => graft.streaming.StreamGates.paragraphGate(t.documents)),
    Gate("t90_stream_neardup_pairs",
      // streamed near-dup intake: every pair is found exactly once
      // under range sharding (in b's batch, in-batch or vs the index),
      // so the emission union must equal t25's one-shot recompute —
      // the twin is shared verbatim
      minhashPairsSql,
      t => graft.streaming.StreamGates.nearDupGate(t.documents)),
    // the event-analytics side of the streaming family under the
    // gate: the watermarked 1-hour tumbling aggregation driven over
    // time-contiguous micro-batch shards (complete-mode state
    // surviving per-shard cold restarts) == the q21 batch twin
    Gate("t96_stream_hourly",
      // t96 twin: the stream's final complete-mode aggregate must equal
      // the one-shot batch rollup — q21's SQL verbatim
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour, event_type, count(*) AS n_events,
         | ${mny("value")} AS sum_value, ${mean("value")} AS avg_value
         |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => graft.streaming.StreamGates.hourlyGate(t.events)),
    // session_window state must merge across batches AND restarts; the
    // twin is the batch lag-gap rule with end = last + gap
    // STREAMING sliding windows (2h width / 1h slide): every event in
    // BOTH overlapping windows, across cold restarts
    Gate("t142_stream_sliding",
      // t142 twin: each event assigned its TWO window starts explicitly
      // (w <= ts < w+2h on hour boundaries), then the same money sums
      s"""WITH e2 AS (
         |  SELECT epoch_us(date_trunc('hour', ts)) AS wstart, event_type, value FROM events
         |  UNION ALL
         |  SELECT epoch_us(date_trunc('hour', ts) - INTERVAL 1 HOUR), event_type, value FROM events)
         |SELECT wstart, event_type, count(*) AS n_events, ${mny("value")} AS sum_value
         |FROM e2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      t => graft.streaming.StreamGates.slidingGate(t.events)),
    Gate("t97_stream_sessions",
      // t97 twin: q22's lag-gap session CTEs, emitted per session with
      // session_window's end convention (last event + gap)
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT min(us) AS session_start, max(us) + 1800000000 AS session_end,
        |  user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
      t => graft.streaming.StreamGates.sessionGate(t.events)),
    // mapGroupsWithState under the gate: per-user running totals with
    // a quantized-integer accumulator (order-free), final state per
    // user == batch count + integer value sum
    Gate("t98_stream_state",
      // t98 twin: the per-user batch rollup of the same quantized
      // integer the stream state accumulates — order-free by
      // construction, so the streamed final state matches exactly
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value*10000.0+0.5) AS DECIMAL(18,0))) AS BIGINT) AS q_total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      t => graft.streaming.StreamGates.runningTotalsGate(t.events)),
    // stream-static enrichment: per-batch broadcast join against the
    // customer dim, hourly rollup per market segment
    Gate("t99_stream_enriched",
      // t99 twin: the plain batch join + hourly rollup per segment
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour, c_mktsegment,
         |  count(*) AS n_events, ${mny("value")} AS sum_value
         |FROM events JOIN customer ON c_custkey = user_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      t => graft.streaming.StreamGates.enrichedGate(t.events, t.customer)),
    // watermarked stream-stream interval join: click→view pairs
    // within 10 min; cross-shard pairs prove join state survives the
    // per-shard cold restarts
    Gate("t100_stream_interval_join",
      // t100 twin: the batch self-join with the identical interval
      // bounds — every qualifying pair exactly once
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  epoch_us(a.ts) AS a_us, epoch_us(b.ts) AS b_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_type = 'click' AND b.event_type = 'view'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY a_id, b_id""".stripMargin,
      t => graft.streaming.StreamGates.correlatedGate(t.events)),
    // STREAMING image near-dup intake: golden corpus in 3 cold-
    // restart shards against the persisted manifested aHash index;
    // emission union must equal the one-shot batch pairs (t93 ∪ t105
    // golden frames — pair (11,14) straddles the restart boundary)
    Gate("t131_image_neardup_stream",
      // t131 twin: the streamed emission union must equal the one-shot
      // batch pairs over the full golden corpus — t93's in-batch frame
      // plus t105's incremental frame, nothing else (an index append
      // bug, restart state loss, or replay fan-out shows as a row diff)
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        | (1, 3, 1), (1, 11, 0), (1, 14, 0), (2, 3, 1), (2, 11, 0),
        | (2, 14, 0), (3, 11, 1), (3, 14, 1), (4, 12, 0), (11, 14, 0)
        |) AS t(media_a, media_b, hamming) ORDER BY media_a, media_b""".stripMargin,
      t => { val s = t.spark
        graft.streaming.StreamGates.imageNearDupStreamGate(s) }),
    // STREAMING audio near-dup intake: t106 corpus + t108 re-encodes
    // across restarts; (31,34) straddles the boundary
    Gate("t132_audio_neardup_stream",
      // t132 twin: t106's in-batch window pairs plus t108's incremental
      // frame — the streamed union of both golden derivations
      """SELECT * FROM (VALUES
        | (CAST(21 AS BIGINT), CAST(22 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        | (21, 23, 0, 1), (21, 31, 0, 0), (21, 34, 0, 0), (22, 23, 0, 1),
        | (22, 31, 0, 0), (22, 34, 0, 0), (23, 31, 0, 1), (23, 34, 0, 1),
        | (24, 32, 0, 0), (31, 34, 0, 0)
        |) AS t(media_a, media_b, start_ms, hamming)
        |ORDER BY media_a, media_b, start_ms""".stripMargin,
      t => { val s = t.spark
        graft.streaming.StreamGates.audioNearDupStreamGate(s) })
  )

  // t240 twin: the SAME capstone chain on the DAY-2 slice — the
  // multi-day streaming gate's day-2 corpus must equal the batch
  // build over day-2 input with day-1 in history
  private lazy val t240Sql: String = t135SqlFor(1)
}
