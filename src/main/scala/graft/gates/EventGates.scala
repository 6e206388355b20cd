package graft.gates

import graft.ops._
import Twins._

/** Event-stream analytics in batch form (`graft.ops.EventOps`). */
object EventGates {
  def gates: Seq[Gate] = Seq(
    // sweep-line peak concurrent sessions per day — the global
    // running sum via the two-phase distributed prefix sum, never an
    // unpartitioned corpus window
    Gate("t148_concurrency",
      // t148 twin: q22's session CTEs -> interval deltas -> ONE global
      // running sum (the oracle can afford the single window the engine
      // replaces with the two-phase prefix sum), day peaks
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |sess AS (SELECT user_id, session_id, min(us) AS st, max(us) AS en
        |  FROM s GROUP BY 1, 2),
        |d AS (SELECT st AS t, 1 AS d FROM sess
        |      UNION ALL SELECT en + 1, -1 FROM sess),
        |c AS (SELECT t, sum(d) OVER (ORDER BY t, d) AS conc FROM d)
        |SELECT t // 86400000000 AS day, CAST(max(conc) AS BIGINT) AS peak
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
      t => EventOps.concurrentSessions(t.events)),
    // global interval-union coverage + peak: segment lengths from the
    // same two-phase sweep, boundary lead stitched from a broadcast
    // per-partition summary
    Gate("t149_active_coverage",
      // t149 twin: one global window for conc AND the segment lead (the
      // engine splits both across the two-phase machinery); peers get
      // zero-length segments, so tie order can't move the union sum
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |sess AS (SELECT user_id, session_id, min(us) AS st, max(us) AS en
        |  FROM s GROUP BY 1, 2),
        |d AS (SELECT st AS t, 1 AS d FROM sess
        |      UNION ALL SELECT en + 1, -1 FROM sess),
        |c AS (SELECT t, sum(d) OVER (ORDER BY t, d) AS conc,
        |  lead(t) OVER (ORDER BY t, d) AS nxt FROM d)
        |SELECT CAST(coalesce(sum(CASE WHEN conc > 0 THEN nxt - t END), 0)
        |    AS BIGINT) AS active_us,
        |  CAST(max(conc) AS BIGINT) AS peak
        |FROM c""".stripMargin,
      t => EventOps.activeCoverage(t.events)),
    // linear multi-touch attribution: each purchase splits 1e6
    // micro-credits over its segment's touches, remainder to the last
    // touch — integer-auditable, all windows user-partitioned
    Gate("t151_attribution",
      // t151 twin: identical segmentation (purchases strictly before),
      // identical integer credit split with last-touch remainder
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |pb AS (SELECT user_id, event_id, event_type, us,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        |  FROM e),
        |t AS (SELECT user_id, seg, event_id, event_type, us FROM pb
        |  WHERE event_type IN ('click', 'view')),
        |p AS (SELECT user_id, seg FROM pb WHERE event_type = 'purchase'),
        |j AS (SELECT t.user_id, t.seg, t.event_id, t.event_type, t.us
        |  FROM t JOIN p ON p.user_id = t.user_id AND p.seg = t.seg),
        |c AS (SELECT event_type,
        |    1000000 // (count(*) OVER w)
        |    + CASE WHEN row_number() OVER
        |        (PARTITION BY user_id, seg ORDER BY us DESC, event_id DESC) = 1
        |      THEN 1000000 % (count(*) OVER w) ELSE 0 END AS credit
        |  FROM j WINDOW w AS (PARTITION BY user_id, seg))
        |SELECT event_type, CAST(sum(credit) AS BIGINT) AS credit_micro,
        |  count(*) AS n_touches
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
      t => EventOps.attribution(t.events)),
    // TWO-PROPORTION A/B test with zero floating point: planted
    // variant bias (conversion threshold 45 vs 50), pooled z-squared
    // as a cross-multiplied DECIMAL(38,0) inequality
    Gate("t168_ab_test",
      // t168 twin: the same cross-multiplied z-squared inequality in
      // HUGEINT — borderline experiments can never flip on an ulp
      """WITH e AS (SELECT event_type AS grp, user_id % 2 AS v,
        |    CASE WHEN value > 45.0 + 5.0 * CAST(user_id % 2 AS DOUBLE)
        |      THEN 1 ELSE 0 END AS c
        |  FROM events),
        |s AS (SELECT grp,
        |    sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN v = 0 THEN c ELSE 0 END) AS x_a,
        |    sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS n_b,
        |    sum(CASE WHEN v = 1 THEN c ELSE 0 END) AS x_b
        |  FROM e GROUP BY 1)
        |SELECT grp, CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
        |  625 * CAST(x_a * n_b - x_b * n_a AS HUGEINT)
        |      * CAST(x_a * n_b - x_b * n_a AS HUGEINT) * (n_a + n_b)
        |    > 2401 * CAST(n_a AS HUGEINT) * n_b * (x_a + x_b)
        |      * ((n_a + n_b) - (x_a + x_b)) AS significant
        |FROM s ORDER BY grp""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, lit}
        EventOps.abTest(t.events, col("event_type"), col("user_id") % 2,
          col("value") > lit(45.0) + lit(5.0) * (col("user_id") % 2).cast("double")) }),
    // MARKOV first-order transition matrix over per-user event
    // sequences: one per-user lag window + one pair aggregate; row
    // probabilities normalized against a broadcast |types|-sized total
    Gate("t182_markov",
      // t182 twin: identical per-user lead window, identical quantized
      // row normalization
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |p AS (SELECT event_type AS from_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id) AS to_type FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  floor(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
      t => EventOps.markovTransitions(t.events)),
    // NEAREST-event join: each click to its closest view of the same
    // user within ±10 min, either direction — bucketed candidates +
    // one argmin aggregate, ties to the earlier view
    Gate("t206_nearest_event",
      // t206 twin: the quadratic same-user candidate join + the same
      // deterministic (|Δ|, earlier, smaller-id) argmin rank
      """WITH c AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id AS vu, event_id AS b_id, epoch_us(ts) AS b_us
        |  FROM events WHERE event_type = 'view'),
        |cand AS (SELECT c.user_id, c.a_id, c.a_us, v.b_id, v.b_us
        |  FROM c JOIN v ON c.user_id = v.vu
        |    AND abs(v.b_us - c.a_us) <= 600000000),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY a_id
        |    ORDER BY abs(b_us - a_us), b_us, b_id) AS rn FROM cand)
        |SELECT user_id, a_id, b_id, CAST(b_us - a_us AS BIGINT) AS delta_us
        |FROM rk WHERE rn = 1 ORDER BY a_id""".stripMargin,
      t => {
        EventOps.nearestEvent(t.events, "click", "view",
        windowUs = 600L * 1000000L) }),
    // rolling 7-day active users over the event stream (integer days)
    Gate("t126_rolling_active",
      // t126 twin: the identical distinct-activity range join over
      // integer days
      """WITH du AS (SELECT DISTINCT user_id,
        |  CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day FROM events),
        |ds AS (SELECT DISTINCT day AS d FROM du)
        |SELECT d, count(DISTINCT user_id) AS active_users
        |FROM du JOIN ds ON du.day >= ds.d - 6 AND du.day <= ds.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => EventOps.rollingActiveUsers(t.events)),
    // the 100 TB form of the same curve: per-day mergeable HLL
    // sketches unioned per window; gated the q38 way (exact count +
    // within-10% boolean)
    Gate("t128_rolling_active_sketch",
      // t128 twin: the exact window counts + literal TRUE tolerance
      // booleans (the q38 oracle pattern — the estimate must land
      // within 10% for the row to hash-match)
      """WITH du AS (SELECT DISTINCT user_id,
        |  CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day FROM events),
        |ds AS (SELECT DISTINCT day AS d FROM du)
        |SELECT d, count(DISTINCT user_id) AS active_users, TRUE AS within_10pct
        |FROM du JOIN ds ON du.day >= ds.d - 6 AND du.day <= ds.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => EventOps.rollingActiveUsersSketch(t.events)),
    // top length-3 event-type journeys across user timelines
    Gate("t129_event_paths",
      // t129 twin: per-user ordered type sequence via string_agg, the
      // same 3-gram slide, identical (count DESC, path) top-k
      """WITH s AS (SELECT user_id,
        |  string_agg(event_type, ' ' ORDER BY epoch_us(ts), event_id) AS seq
        |  FROM events GROUP BY 1),
        |tk AS (SELECT string_split(seq, ' ') AS t FROM s),
        |g AS (SELECT array_to_string(t[i:i+2], ' ') AS path
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) u
        |  WHERE len(t) >= 3),
        |c AS (SELECT path, count(*) AS n_paths FROM g GROUP BY 1)
        |SELECT rnk, path, n_paths FROM (
        |  SELECT path, n_paths,
        |    CAST(row_number() OVER (ORDER BY n_paths DESC, path) AS BIGINT) AS rnk
        |  FROM c) WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
      t => EventOps.topEventPaths(t.events)),
    // POINT-IN-TIME join: deterministic probe dates (event_id-derived,
    // spanning the order-history years) look up the t125 intervals --
    // the leakage-free feature-store lookup; probes before a key's
    // first interval or with no intervals keep nulls
    Gate("t127_pit_join",
      // t127 twin: t125's interval CTEs probed with the identical
      // containment rule and the same deterministic probe dates
      t127Sql,
      t => {
        import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
        val probes = t.events.select(
          col("event_id"), (col("user_id") + 1).as("custkey"),
          date_add(to_date(lit("1992-01-01")),
            (col("event_id") % 2500).cast("int")).as("pdate"))
        EventOps.pitJoin(probes, "custkey", "pdate",
          Relational.scd2Intervals(t.orders), "o_custkey",
          payload = Seq("o_orderstatus", "valid_from"))
          .orderBy("event_id") }),
    Gate("q18_event_bursts",
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT a.event_type AS type_first, b.event_type AS type_next, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND b.us > a.us AND b.us <= a.us + 600000000
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => EventOps.eventBursts(t.events)),
    Gate("q19_asof_last_order",
      """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1,2)
        |SELECT e.event_id, e.user_id, e.event_type, r.o_orderkey
        |FROM events e ASOF JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
      t => EventOps.asofLastOrder(t.events, t.orders)),
    Gate("q20_json_props",
      s"""SELECT event_type, ${meanL("k")} AS avg_k, min(k) AS min_k, max(k) AS max_k,
         | count(*) AS n_events
         |FROM (SELECT event_type, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |      FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => EventOps.jsonProps(t.events)),
    Gate("q21_events_hourly",
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour, event_type, count(*) AS n_events,
         | ${mny("value")} AS sum_value, ${mean("value")} AS avg_value
         |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => EventOps.hourlyStats(t.events)),
    Gate("q22_sessionize", q22Sql, t => EventOps.sessionize(t.events)),
    Gate("q43_event_heatmap",
      """SELECT CAST(floor(value/25.0) AS BIGINT) AS x_bin,
        | CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT)/2.0) AS BIGINT) AS y_bin,
        | count(*) AS n
        |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => EventOps.eventHeatmap(t.events)),
    // ordered per-user funnel over the event stream: step i+1 counts
    // only strictly after the first completion of step i
    Gate("t111_funnel",
      // t111 twin: per-step firsts chained by strictly-after joins —
      // the same user-keyed min cascade, stage from null-ness
      funnelSql,
      t => EventOps.funnel(t.events)),
    // cohort retention triangle: users grouped by first-event week,
    // counted distinct in every week-offset they return
    Gate("t112_cohort_retention",
      // t112 twin: identical integer week arithmetic (floor of epoch
      // micros over 7 days — no calendar functions on either side)
      cohortSql,
      t => EventOps.cohortRetention(t.events)),
    // incremental cohort maintenance: the distinct (user, week)
    // activity index folds a new shard without rescanning history;
    // twin is t112's full-history SQL verbatim
    Gate("t116_incremental_cohort",
      // t116 twin: t112's full-history SQL verbatim — the incremental
      // activity-index fold must reproduce the one-shot triangle
      cohortSql,
      t => {
        import org.apache.spark.sql.functions.col
        val idx = EventOps.activityWeeks(t.events.filter(col("event_id") < 5000))
        EventOps.incrementalCohortRetention(
          t.events.filter(col("event_id") >= 5000), idx)._1 })
  )

  // t112/t116 shared twin: the cohort retention triangle over the
  // full event history (the incremental activity-index fold must
  // reproduce it)
  private lazy val cohortSql: String =
    """WITH e AS (SELECT user_id,
      |  CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
      |a AS (SELECT DISTINCT f.cohort_wk, e.wk - f.cohort_wk AS wk_offset, e.user_id
      |  FROM e JOIN f USING (user_id))
      |SELECT cohort_wk, wk_offset, count(*) AS n_users
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
