package graft.gates

/** DuckDB twin fragments shared by more than one gate family.
  *
  * SQL twins follow the [[graft.ops.Exact]] portability contract:
  * decimal sums, floor-quantization, micros-precision time arithmetic,
  * md5 hex-string hashing, total ORDER BY with id tiebreaks.
  */
private[gates] object Twins {
  // quantization fragments for the SQL twins (see Exact.scala):
  // per-row floor-quantize in pure IEEE, exact integer-decimal sum.
  def mny(x: String): String =
    s"floor(CAST(sum(CAST(floor(($x)*10000.0+0.5) AS DECIMAL(18,0))) AS DOUBLE)/10000.0*100.0+0.5)/100.0"
  def mean(x: String): String =
    s"floor(CAST(sum(CAST(floor(($x)*1000000.0+0.5) AS DECIMAL(18,0))) AS DOUBLE)/1000000.0/count(*)*10000.0+0.5)/10000.0"
  def meanL(x: String): String =
    s"floor(CAST(sum($x) AS DOUBLE)/count(*)*10000.0+0.5)/10000.0"
  def q4(x: String): String = s"floor(($x)*10000.0+0.5)/10000.0"
  val rev = "l_extendedprice*(1.0-l_discount)"
  val toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** OLS trend twin — shared by the one-shot gate (t235) and the
    * streaming moment-MV gate (t236). */
  lazy val trendSql: String =
    """WITH daily AS (SELECT o_orderpriority AS grp,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      AS t, count(*) AS x
      |  FROM orders GROUP BY 1, 2),
      |m AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(t) AS HUGEINT) AS st, CAST(sum(x) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
      |    CAST(sum(CAST(t AS HUGEINT) * x) AS HUGEINT) AS stx
      |  FROM daily GROUP BY 1)
      |SELECT grp, CAST(n AS BIGINT) AS n,
      |  CAST(CASE WHEN n * stt - st * st > 0 THEN
      |    ((n * stx - st * sx) * 1000000) // (n * stt - st * st)
      |    END AS BIGINT) AS slope_micro,
      |  CAST(CASE WHEN n * stt - st * st > 0 THEN
      |    ((sx * stt - st * stx) * 1000000) // (n * stt - st * st)
      |    END AS BIGINT) AS intercept_micro
      |FROM m ORDER BY grp""".stripMargin

  /** Vocabulary twin — shared by the one-shot gate (t58) and the
    * streaming count-MV gate (t232). */
  lazy val vocabSql: String =
    s"""WITH w AS (SELECT unnest($toks) AS token FROM documents),
       |c AS (SELECT token, count(*) AS cnt FROM w GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS token_id,
       | token, cnt
       |FROM c ORDER BY cnt DESC, token LIMIT 500""".stripMargin

  /** TPC-H Q1 twin — shared by the one-shot gate (q64) and the
    * streaming-MV gate (t230), whose folded state must render the
    * identical rows. */
  lazy val tpch01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       | ${mny("l_extendedprice")} AS sum_base_price,
       | ${mny(rev)} AS sum_disc_price,
       | ${mny(rev + "*(1.0+l_tax)")} AS sum_charge,
       | ${meanL("CAST(l_quantity AS BIGINT)")} AS avg_qty,
       | ${mean("l_extendedprice")} AS avg_price,
       | ${mean("l_discount")} AS avg_disc,
       | count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       |GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  // sequential-fold dot/norm over DOUBLE[] lists — bit-identical to
  // Spark's aggregate() fold (see Similarity scaladoc)
  def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1,65), i -> $a.v[i]*$b.v[i]))"
  val sqlNorm = "sqrt(list_sum(list_transform(range(1,65), i -> v[i]*v[i])))"

  // affine-minhash constants shared with Dedup (same seed → same values)
  val mhP = graft.ops.Dedup.MinhashP
  val mhCoeffs = graft.ops.Dedup.minhashCoeffs(16)

  // s47's literal query — one constant interpolated into BOTH the
  // Spark call and the twin SQL (single source of truth)
  val SearchQuery = "spark agg window merge vector"

  // s55's query table — one constant Seq interpolated into BOTH the
  // Spark frame and the twin's VALUES rows (single source of truth);
  // query 1 is s53's literal so the batch form provably covers it
  val BatchQueries = Seq(
    (1L, SearchQuery),
    (2L, "customer query stream filter"),
    (3L, "hash join sort column"))
  def batchQueryValues: String =
    BatchQueries.map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
      .mkString(", ")

  // t70/t75 shared twin: the planted-paragraph corpus deduplicated by
  // global first occurrence; `where` restricts the OUTPUT docs (t75's
  // shard) while kept flags always see every occurrence
  def paragraphDedupSql(where: String): String =
    s"""WITH p AS (SELECT doc_id,
       |  substring(text,1,80) || chr(10)||chr(10) ||
       |  ([${graft.ops.Dedup.BoilerParagraphs.map(b => s"'$b'").mkString(",")}])[CAST(doc_id % ${graft.ops.Dedup.BoilerParagraphs.size} + 1 AS INTEGER)] ||
       |  chr(10)||chr(10) || substring(text,81,1000000) AS text FROM documents),
       |sp AS (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM p),
       |pr AS (SELECT doc_id, CAST(i-1 AS INTEGER) AS pos, ps[i] AS para
       |  FROM sp, LATERAL (SELECT unnest(range(1, len(ps)+1)) AS i) u
       |  WHERE length(ps[i]) > 0),
       |k AS (SELECT doc_id, pos, para,
       |  row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) = 1 AS kept
       |  FROM pr)
       |SELECT doc_id, count(*) AS n_paras,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  coalesce(string_agg(CASE WHEN kept THEN para END, chr(10)||chr(10) ORDER BY pos), '') AS clean_text
       |FROM k $where GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // t23/q121 shared twin: normalized-fingerprint exact dedup — the
  // SQL-text gate reuses the library gate's oracle verbatim
  lazy val exactDedupSql: String =
    """WITH fp AS (SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |  FROM documents),
      |c AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY 1)
      |SELECT f.doc_id, c.canonical_id, f.doc_id <> c.canonical_id AS is_dup
      |FROM fp f JOIN c ON f.fp = c.fp ORDER BY f.doc_id""".stripMargin

  // s31/q123 shared twin: the sequential-fold cosine top-k recompute
  lazy val cosineTopKSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
       |d AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ${sqlDot("a", "b")} AS dp
       |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id >= 5),
       |r AS (SELECT qid AS query_id, cid AS vec_id,
       |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
       |  FROM d JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = cid)
       |SELECT query_id, rnk, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM r)
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // t243/q124 shared twin: the planted-contamination 13-gram
  // verbatim-leak recompute — the SQL-text gate reuses it verbatim
  lazy val ngramDecontaminateSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |esp AS (SELECT doc_id AS eid,
       |  array_to_string(($toks)[1:13], ' ') AS span
       |  FROM d WHERE doc_id % 20 = 0),
       |tp AS (SELECT d.doc_id, d.text || ' ' || esp.span AS text
       |  FROM d JOIN esp ON esp.eid = (d.doc_id // 20) * 20
       |  WHERE d.doc_id % 20 <> 0 AND d.doc_id % 7 = 1),
       |corpus AS (SELECT doc_id, text FROM d
       |  WHERE doc_id NOT IN (SELECT doc_id FROM tp)
       |  UNION ALL SELECT doc_id, text FROM tp),
       |t AS (SELECT doc_id, $toks AS tk FROM corpus),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)-11),
       |    i -> array_to_string(tk[i:i+12], ' '))) AS ng
       |  FROM t WHERE len(tk) >= 13),
       |ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 20 = 0),
       |h AS (SELECT doc_id, count(*) AS n_hit FROM g
       |  WHERE doc_id % 20 <> 0 AND ng IN (SELECT ng FROM ev)
       |  GROUP BY 1)
       |SELECT t.doc_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_grams,
       |  coalesce(h.n_hit, 0) > 0 AS contaminated
       |FROM t LEFT JOIN h ON h.doc_id = t.doc_id
       |WHERE t.doc_id % 20 <> 0 ORDER BY t.doc_id""".stripMargin

  // t25/t90 shared twin: the seeded minhash-LSH pair recompute —
  // identical affine family, band rule, and quantized exact-Jaccard
  // verify; t90 streams the same corpus and must emit the same pairs
  lazy val minhashPairsSql: String =
    s"""WITH w AS (SELECT DISTINCT doc_id, tok FROM
       |  (SELECT doc_id, unnest($toks) AS tok FROM documents)),
       |hb AS (SELECT doc_id,
       |  CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % $mhP AS h FROM w),
       |sig AS (SELECT doc_id,
       |  ${mhCoeffs.zipWithIndex.map { case ((a, b), i) =>
            s"min(($a*h+$b) % $mhP) AS h$i" }.mkString(",\n       |  ")}
       |  FROM hb GROUP BY 1),
       |band AS (
       |  ${(0 until 4).map(b =>
            s"SELECT doc_id, $b${if (b == 0) " AS b" else ""}, md5(${(4 * b until 4 * b + 4).map(i => s"h$i::VARCHAR").mkString("||','||")})${if (b == 0) " AS k" else ""} FROM sig")
            .mkString(" UNION ALL\n       |  ")}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id),
       |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
       |p AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c JOIN w wa ON wa.doc_id = c.doc_a
       |  JOIN w wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok GROUP BY 1,2)
       |SELECT p.doc_a, p.doc_b,
       | ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} AS jac
       |FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
       |WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // s55/t117 shared twin: integer-cleared batch BM25 over the full
  // corpus (the incremental index merge must reproduce it)
  lazy val bm25BatchSql: String =
    s"""WITH w AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(len) AS BIGINT) AS sl, count(*) AS nd FROM lens),
         |q AS (SELECT * FROM (VALUES $batchQueryValues) AS v(query_id, qtext)),
         |qt AS (SELECT DISTINCT query_id,
         |    unnest(regexp_extract_all(lower(qtext), '[a-z0-9]+')) AS term FROM q),
         |m AS (SELECT qt.query_id, tf.doc_id,
         |  CAST(floor(
         |    (44.0*(nd-df)*tf*sl) / (20.0*tf*sl + 6.0*sl + 18.0*len*nd)
         |    * 1000000.0 + 0.5) AS BIGINT) AS ts
         |  FROM tf JOIN qt USING (term) JOIN df USING (term)
         |    JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN tot),
         |s AS (SELECT query_id, doc_id, CAST(sum(ts) AS DOUBLE)/1000000.0 AS score
         |  FROM m GROUP BY 1, 2)
         |SELECT query_id, rnk, doc_id, score FROM (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
         |  FROM s)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  // t111/t113 shared twin: the ordered per-user funnel over the
  // full event table (the streaming state fold must equal it)
  lazy val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, min(us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND us > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
      |SELECT s1.user_id,
      |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
      |         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage,
      |  t1, t2, t3
      |FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
      |  LEFT JOIN s3 ON s3.user_id = s1.user_id
      |ORDER BY s1.user_id""".stripMargin

  // t71/t72 shared fragment: the planted raw-URL corpus (UrlOps
  // .plantUrls verbatim) canonicalized by the same rule chain — ends
  // at CTE `n` = (doc_id, url_norm, domain)
  def urlNormCte: String = urlNormCteNamed("", "")

  /** [[urlNormCte]] with prefixed CTE names and a source predicate,
    * so one twin (t135) can instantiate the chain twice — once
    * shard-scoped, once corpus-wide — without CTE collisions.
    */
  def urlNormCteNamed(p: String, where: String): String = {
    // every fragment must actually occur in the body — a silent no-op
    // replace (after a body edit drifts whitespace or adds a second
    // reference) would leave the prefixed chain pointing at the
    // corpus-wide CTEs, caught only when the t135 gate diffs at runtime
    def sub(s: String, from: String, to: String): String = {
      require(s.contains(from),
        s"urlNormCteNamed: fragment '$from' not found — urlNormCteBody drifted")
      s.replace(from, to)
    }
    Seq(
      "FROM documents)" -> s"FROM documents$where)",
      "u AS (" -> s"${p}u AS (",
      "w AS (" -> s"${p}w AS (",
      "c AS (" -> s"${p}c AS (",
      "n AS (" -> s"${p}n AS (",
      "FROM u)" -> s"FROM ${p}u)",
      "FROM w)" -> s"FROM ${p}w)",
      "FROM c))" -> s"FROM ${p}c))"
    ).foldLeft(urlNormCteBody) { case (acc, (from, to)) => sub(acc, from, to) }
  }

  def urlNormCteBody: String =
    s"""u AS (SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.News.Site' ELSE 'HTTP://WWW.News.Site' END ||
       |  (doc_id % 20) ||
       |  CASE WHEN doc_id % 2 = 0 THEN '.COM:443' ELSE '.NET:80' END ||
       |  '/Article/Item' || (doc_id % 50) || '/?utm_source=feed&id=' ||
       |  (doc_id % 25) || '&ref=abc&utm_campaign=x#sec' || (doc_id % 5) AS url
       |  FROM documents),
       |w AS (SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS wk FROM u),
       |c AS (SELECT doc_id,
       |  lower(regexp_extract(wk, '${graft.ops.UrlOps.UrlSchemeRe}', 1)) AS scheme,
       |  regexp_replace(lower(regexp_extract(wk, '${graft.ops.UrlOps.UrlHostRe}', 1)), '^www\\.', '') AS hp,
       |  regexp_replace(regexp_extract(wk, '${graft.ops.UrlOps.UrlPathRe}', 1), '/+$$', '') AS path,
       |  regexp_extract(wk, '${graft.ops.UrlOps.UrlQueryRe}', 1) AS q FROM w),
       |n AS (SELECT doc_id,
       |  scheme || '://' || host || path ||
       |    CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS url_norm,
       |  regexp_extract(regexp_replace(host, ':[0-9]+$$', ''), '${graft.ops.UrlOps.DomainRe}', 1) AS domain
       |  FROM (SELECT doc_id, scheme, path,
       |    CASE WHEN scheme = 'https' THEN regexp_replace(hp, ':443$$', '')
       |         WHEN scheme = 'http' THEN regexp_replace(hp, ':80$$', '')
       |         ELSE hp END AS host,
       |    array_to_string(list_filter(string_split(q, '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '${graft.ops.UrlOps.TrackingParamRe}')), '&') AS qn
       |    FROM c))""".stripMargin

  // s36/s41 twin: one definition, two gate rows (the serving path
  // must answer bit-identically to the one-shot Lloyd-refined IVF)
  // t127's one-shot PIT-join SQL — shared verbatim by the t221
  // streaming enrichment twin
  lazy val t127Sql: String =
    """WITH o AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |  row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey)
      |  - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
      |    ORDER BY o_orderdate, o_orderkey) AS grp
      |  FROM orders),
      |r AS (SELECT o_custkey, o_orderstatus, grp,
      |  min(o_orderdate) AS valid_from, min(o_orderkey) AS first_key
      |  FROM o GROUP BY 1, 2, 3),
      |iv AS (SELECT o_custkey, o_orderstatus, valid_from,
      |  lead(valid_from, 1) OVER (PARTITION BY o_custkey
      |    ORDER BY valid_from, first_key) AS valid_to
      |  FROM r),
      |p AS (SELECT event_id, user_id + 1 AS custkey,
      |  DATE '1992-01-01' + CAST(event_id % 2500 AS INTEGER) AS pdate
      |  FROM events)
      |SELECT p.event_id, p.custkey, p.pdate, iv.o_orderstatus, iv.valid_from
      |FROM p LEFT JOIN iv ON iv.o_custkey = p.custkey
      |  AND iv.valid_from <= p.pdate
      |  AND (iv.valid_to IS NULL OR p.pdate < iv.valid_to)
      |ORDER BY p.event_id""".stripMargin

  // t204's one-shot islands SQL — shared verbatim by the t220
  // streaming seam-stitch twin
  lazy val t204Sql: String =
    """WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders
      |  WHERE o_orderkey % 13 <> 5),
      |g AS (SELECT id, id - row_number() OVER (ORDER BY id) AS grpk FROM ids)
      |SELECT min(id) AS island_start, max(id) AS island_end,
      |  max(id) - min(id) + 1 AS span_len
      |FROM g GROUP BY grpk ORDER BY island_start""".stripMargin

  // t209's one-shot TWAP SQL — shared verbatim by the t217 streaming
  // carry-fold twin
  lazy val t209Sql: String =
    """WITH o AS (SELECT o_custkey AS k,
      |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS t,
      |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders),
      |p AS (SELECT k, t, v,
      |    lead(t) OVER (PARTITION BY k ORDER BY t, v) AS t2 FROM o),
      |f AS (SELECT k, CAST(t2 - t AS HUGEINT) AS w, CAST(v AS HUGEINT) AS v
      |  FROM p WHERE t2 IS NOT NULL),
      |m AS (SELECT k, count(*) AS n1, sum(w) AS span, sum(w * v) AS integral
      |  FROM f GROUP BY 1)
      |SELECT k, CAST(n1 + 1 AS BIGINT) AS n_obs, CAST(span AS BIGINT) AS span,
      |  CAST((integral * 1000000) // span AS BIGINT) AS twap_micro
      |FROM m WHERE span > 0 ORDER BY k""".stripMargin

  // s35's seed-centroid IVF SQL (kmeansIters = 0) — shared verbatim
  // by the t213 streaming-intake twin: the streamed index must be
  // indistinguishable from the one-shot build
  lazy val s35Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
       |ev AS (SELECT e.vec_id, e.v, nr.nrm FROM e JOIN nr ON nr.vec_id = e.vec_id),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev
       |  WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
       |asg AS (SELECT vec_id, v, nrm, cid FROM (
       |  SELECT c.vec_id, c.v, c.nrm, ct.cid,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY list_sum(list_transform(range(1,65), j -> c.v[j]*ct.cv[j]))/(c.nrm*ct.cn) DESC,
       |        ct.cid) AS rn
       |  FROM ev c CROSS JOIN cent ct WHERE c.vec_id >= 5)
       |  WHERE rn = 1),
       |qp AS (SELECT query_id, qv, qn, cid FROM (
       |  SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, ct.cid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_sum(list_transform(range(1,65), j -> q.v[j]*ct.cv[j]))/(q.nrm*ct.cn) DESC,
       |        ct.cid) AS rn
       |  FROM ev q CROSS JOIN cent ct WHERE q.vec_id < 5)
       |  WHERE rn <= 4),
       |s AS (SELECT DISTINCT query_id, a.vec_id,
       |  floor(list_sum(list_transform(range(1,65), j -> qv[j]*a.v[j]))/(qn*a.nrm)*1000000.0+0.5)/1000000.0 AS cos
       |  FROM qp JOIN asg a ON qp.cid = a.cid)
       |SELECT query_id, rnk, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM s)
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // t135 twin: the crawl-to-corpus capstone as ONE chained query —
  // each stage is its gated twin's CTEs verbatim (t71 URL chain ×2,
  // t124 blocklist, t55 rules, t107 banded decontam, t87 incremental
  // near-dup + recursive cluster min, t121 resample, t92 temperature,
  // t54 pack, t91 shuffle), wired in the same order as
  // CorpusOps.crawlCorpusBuild. Constants: blocklist 0.6, decontam
  // and near-dup at 0.9, budget 64, seqLen 512, seed 42.
  lazy val t135Sql: String = t135SqlFor(0)

  def t135SqlFor(day: Int): String = {
    val sigBlock =
      s"""hb AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % $mhP AS h FROM fw),
         |sig AS (SELECT doc_id,
         |  ${mhCoeffs.zipWithIndex.map { case ((a, b), i) =>
              s"min(($a*h+$b) % $mhP) AS h$i" }.mkString(",\n         |  ")}
         |  FROM hb GROUP BY 1),
         |band AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id, $b${if (b == 0) " AS b" else ""}, md5(${(4 * b until 4 * b + 4).map(i => s"h$i::VARCHAR").mkString("||','||")})${if (b == 0) " AS k" else ""} FROM sig")
              .mkString(" UNION ALL\n         |  ")})""".stripMargin
    val fp = "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"
    s"""WITH RECURSIVE
       |${urlNormCteNamed("s", s" WHERE doc_id % 5 = $day")},
       |um AS (SELECT url_norm, min(doc_id) AS canonical_id FROM sn GROUP BY 1),
       |d1 AS (SELECT sn.doc_id, sn.domain FROM sn JOIN um ON um.url_norm = sn.url_norm
       |  AND sn.doc_id = um.canonical_id),
       |$urlNormCte,
       |ft AS MATERIALIZED (SELECT doc_id, $toks AS tk FROM documents),
       |fm AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
       |  CAST(coalesce(list_aggregate(list_transform(tk, x -> length(x)), 'sum'), 0) AS BIGINT) AS sum_len,
       |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS BIGINT) AS n_stop,
       |  CAST(len(list_filter(['the','a','of','and','is','to','in'], s -> list_contains(tk, s))) AS BIGINT) AS n_stop_uniq
       |  FROM ft),
       |fq AS (SELECT doc_id, CAST(floor(
       |  (${q4("CAST(n_uniq AS DOUBLE)/n_tokens*0.5 + least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.3 + (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)*0.2")})
       |  * 10000.0 + 0.5) AS BIGINT) AS q4i
       |  FROM fm WHERE n_tokens > 0),
       |blocked AS (SELECT n.domain FROM n JOIN fq ON fq.doc_id = n.doc_id
       |  GROUP BY 1 HAVING sum(fq.q4i) < 6000 * count(*)),
       |d2 AS (SELECT d1.doc_id FROM d1 LEFT JOIN blocked b ON b.domain = d1.domain
       |  WHERE b.domain IS NULL),
       |d3 AS MATERIALIZED (SELECT m.doc_id FROM fm m JOIN d2 ON d2.doc_id = m.doc_id
       |  WHERE m.n_tokens >= 20 AND m.n_tokens <= 400
       |    AND m.sum_len >= 3*m.n_tokens AND m.sum_len <= 10*m.n_tokens
       |    AND m.n_stop_uniq >= 2 AND 5*m.n_uniq >= m.n_tokens),
       |fw AS MATERIALIZED (SELECT DISTINCT doc_id, tok FROM
       |  (SELECT doc_id, unnest(tk) AS tok FROM ft)),
       |$sigBlock,
       |fn AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM fw GROUP BY 1),
       |evaldocs AS MATERIALIZED (SELECT doc_id FROM documents
       |  WHERE doc_id % 5 != $day AND CAST(('0x'||substr($fp,1,4)) AS BIGINT) % 10 >= 8),
       |db3 AS (SELECT band.* FROM band JOIN d3 ON d3.doc_id = band.doc_id),
       |dbe AS (SELECT band.* FROM band JOIN evaldocs ev ON ev.doc_id = band.doc_id),
       |dcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM db3 a JOIN dbe b ON a.b = b.b AND a.k = b.k),
       |dp AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM dcand c JOIN fw wa ON wa.doc_id = c.doc_a
       |  JOIN fw wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok GROUP BY 1,2),
       |contaminated AS (SELECT DISTINCT dp.doc_a AS doc_id
       |  FROM dp JOIN fn na ON na.doc_id = dp.doc_a JOIN fn nb ON nb.doc_id = dp.doc_b
       |  WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.9),
       |d4 AS MATERIALIZED (SELECT d3.doc_id FROM d3
       |  LEFT JOIN contaminated c ON c.doc_id = d3.doc_id WHERE c.doc_id IS NULL),
       |nb4 AS (SELECT band.* FROM band JOIN d4 ON d4.doc_id = band.doc_id),
       |nbh AS (SELECT band.* FROM band WHERE band.doc_id % 5 != $day),
       |ncand AS (SELECT DISTINCT least(a.doc_id, o.doc_id) AS doc_a,
       |    greatest(a.doc_id, o.doc_id) AS doc_b
       |  FROM nb4 a JOIN (SELECT * FROM nb4 UNION ALL SELECT * FROM nbh) o
       |    ON a.b = o.b AND a.k = o.k AND a.doc_id != o.doc_id),
       |np AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM ncand c JOIN fw wa ON wa.doc_id = c.doc_a
       |  JOIN fw wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok GROUP BY 1,2),
       |npr AS MATERIALIZED (SELECT np.doc_a, np.doc_b,
       |    da.doc_id IS NOT NULL AS a_new, db.doc_id IS NOT NULL AS b_new
       |  FROM np JOIN fn na ON na.doc_id = np.doc_a JOIN fn nb ON nb.doc_id = np.doc_b
       |  LEFT JOIN d4 da ON da.doc_id = np.doc_a
       |  LEFT JOIN d4 db ON db.doc_id = np.doc_b
       |  WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.9),
       |hd AS (SELECT DISTINCT CASE WHEN a_new THEN doc_a ELSE doc_b END AS doc_id
       |  FROM npr WHERE a_new != b_new),
       |sp AS (SELECT doc_a, doc_b FROM npr WHERE a_new AND b_new),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM sp UNION SELECT doc_b, doc_a FROM sp),
       |reach(id, r) AS (
       |  SELECT src, src FROM e UNION SELECT src, dst FROM e
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
       |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |nc AS (SELECT doc_id FROM cl WHERE doc_id != cluster_id),
       |d5 AS MATERIALIZED (SELECT d4.doc_id FROM d4
       |  LEFT JOIN hd ON hd.doc_id = d4.doc_id
       |  LEFT JOIN nc ON nc.doc_id = d4.doc_id
       |  WHERE hd.doc_id IS NULL AND nc.doc_id IS NULL),
       |rtb AS MATERIALIZED (SELECT doc_id,
       |  CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS b
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM ft)),
       |rtc AS (SELECT b, count(*) AS tc FROM rtb WHERE doc_id % 10 < 3 GROUP BY 1),
       |rrc AS (SELECT b, count(*) AS rc FROM rtb WHERE doc_id % 10 >= 3 GROUP BY 1),
       |rwt AS (SELECT rrc.b,
       |  CAST(floor(CAST(coalesce(rtc.tc, 0) + 1 AS DOUBLE) / (rrc.rc + 1) * 1000000.0 + 0.5) AS BIGINT) AS wq
       |  FROM rrc LEFT JOIN rtc ON rtc.b = rrc.b),
       |rsc AS (SELECT tb.doc_id, count(*) AS n_tok, CAST(sum(wq) AS BIGINT) AS swq
       |  FROM rtb tb JOIN rwt ON rwt.b = tb.b JOIN d5 ON d5.doc_id = tb.doc_id
       |  WHERE tb.doc_id % 10 >= 3 GROUP BY 1),
       |ru AS (SELECT doc_id, CAST(('0x'||substr($fp,1,4)) AS BIGINT) AS u16 FROM documents),
       |d6 AS (SELECT doc_id FROM d5 WHERE doc_id % 10 < 3
       |  UNION
       |  SELECT rsc.doc_id FROM rsc JOIN ru ON ru.doc_id = rsc.doc_id
       |  WHERE ru.u16 * rsc.n_tok * 1000000 < rsc.swq * 65536),
       |md AS (SELECT d.doc_id, d.source, $fp AS h FROM documents d
       |  JOIN d6 ON d6.doc_id = d.doc_id),
       |mc AS (SELECT source, count(*) AS n_docs FROM md GROUP BY 1),
       |mw AS (SELECT source, n_docs,
       |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w FROM mc),
       |mt AS (SELECT sum(w) AS w_total FROM mw),
       |mr AS (SELECT source, n_docs, w,
       |  CAST((64 * w) // w_total AS BIGINT) AS target,
       |  floor(least(1.0, CAST((64 * w) // w_total AS DOUBLE) / n_docs) * 4294967296.0) AS cut
       |  FROM mw CROSS JOIN mt),
       |d7 AS (SELECT md.doc_id, md.source FROM md JOIN mr ON mr.source = md.source
       |  WHERE CAST(CAST(('0x'||substr(md.h,1,8)) AS BIGINT) AS DOUBLE) < mr.cut),
       |pk AS (SELECT d7.source, d7.doc_id, CAST(len(t.tk) AS BIGINT) AS n
       |  FROM d7 JOIN ft t ON t.doc_id = d7.doc_id),
       |po AS (SELECT source, doc_id, n,
       |  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS off FROM pk),
       |seqs AS (SELECT source, CAST(floor(CAST(off AS DOUBLE)/512.0) AS BIGINT) AS seq_id,
       |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |  FROM po GROUP BY 1,2)
       |SELECT CAST(row_number() OVER (
       |    ORDER BY md5('42:' || source || ':' || seq_id), source, seq_id) AS BIGINT) AS pos,
       |  source, seq_id, n_docs, n_tokens, first_doc, last_doc
       |FROM seqs ORDER BY pos""".stripMargin
  }

  // twins shared between a DataFrame gate and its SQL-text
  // front-door sibling (q110-q115) - one string, verbatim
  lazy val q08Sql: String =
    s"""WITH rv AS (
         |  SELECT p_brand, p_partkey, ${mny(rev)} AS revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1,2)
         |SELECT p_brand, rnk, p_partkey, revenue FROM (
         |  SELECT p_brand, p_partkey, revenue,
         |    row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rnk
         |  FROM rv)
         |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin

  lazy val q58Sql: String =
    """WITH x AS (SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem),
        |c AS (SELECT rf, q, count(*) AS c FROM x GROUP BY 1, 2),
        |cum AS (SELECT rf, q, sum(c) OVER (PARTITION BY rf ORDER BY q) AS cum,
        |        sum(c) OVER (PARTITION BY rf) AS n FROM c),
        |v1 AS (SELECT rf, min(q) AS v1 FROM cum WHERE cum >= (n+1)//2 GROUP BY rf),
        |v2 AS (SELECT rf, min(q) AS v2 FROM cum WHERE cum >= (n+2)//2 GROUP BY rf)
        |SELECT v1.rf, CAST(v1.v1 + v2.v2 AS DOUBLE) / 2.0 AS median_qty
        |FROM v1 JOIN v2 USING (rf) ORDER BY rf""".stripMargin

  lazy val q51Sql: String =
    """SELECT l_returnflag, l_quantity, n FROM (
        |  SELECT l_returnflag, l_quantity, count(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_quantity) AS rn
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  lazy val q12Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
         | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         | ${mny("l_quantity")} AS sum_qty, count(*) AS n_lines
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  lazy val q22Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |sess AS (SELECT user_id, session_id, count(*) AS n_events,
        |  max(us) - min(us) AS dur_us FROM s GROUP BY 1,2)
        |SELECT user_id, count(*) AS n_sessions,
        | floor(CAST(sum(n_events) AS DOUBLE)/count(*)*10000.0+0.5)/10000.0 AS avg_events,
        | max(dur_us) AS max_dur_us
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  lazy val trimmedMeanSql: String =
    """WITH x AS (SELECT o_orderpriority AS grp,
        |    CAST(floor(o_totalprice*100.0+0.5) AS BIGINT) AS v FROM orders),
        |h AS (SELECT grp, v, count(*) AS c FROM x GROUP BY 1, 2),
        |cum AS (SELECT grp, v, c,
        |  sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum_end,
        |  sum(c) OVER (PARTITION BY grp) AS n FROM h),
        |k AS (SELECT grp, v, c, cum_end, cum_end - c AS cum_start, n,
        |  (n * 50) // 1000 AS k_lo FROM cum),
        |kp AS (SELECT grp, v, n,
        |  greatest(0, least(cum_end, n - k_lo) - greatest(cum_start, k_lo))
        |    AS keep FROM k)
        |SELECT grp, CAST(min(n) AS BIGINT) AS n,
        |  CAST(sum(keep) AS BIGINT) AS kept,
        |  CAST(CASE WHEN sum(keep) > 0 THEN
        |      (CAST(sum(CAST(v AS HUGEINT) * keep) AS HUGEINT) * 1000000)
        |        // CAST(sum(keep) AS HUGEINT)
        |    END AS BIGINT) AS trimmed_mean_micro
        |FROM kp GROUP BY 1 ORDER BY 1""".stripMargin

  lazy val t48Sql: String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |s AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS shingle
         |  FROM t WHERE len(tk) >= 3),
         |c AS (SELECT doc_id, shingle, count(*) AS c FROM s GROUP BY 1,2),
         |m AS (SELECT doc_id, max(c) AS top_count, sum(c) AS n_shingles FROM c GROUP BY 1)
         |SELECT doc_id, CAST(top_count AS BIGINT) AS top_count,
         | CAST(n_shingles AS BIGINT) AS n_shingles,
         | ${q4("CAST(top_count AS DOUBLE)/n_shingles")} AS rep_ratio
         |FROM m ORDER BY doc_id""".stripMargin

  lazy val q57Sql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dn,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, dn,
        |  count(*) OVER w AS n_30d,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY dn
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, dn, o_orderkey""".stripMargin

  lazy val q62Sql: String =
    """WITH r AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CASE WHEN o_totalprice > 150000.0 THEN o_orderpriority END AS big_pri
        |  FROM orders WHERE o_custkey % 50 = 3)
        |SELECT o_custkey, o_orderkey,
        |  last_value(big_pri IGNORE NULLS) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_big_pri,
        |  first_value(big_pri IGNORE NULLS) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_big_pri
        |FROM r ORDER BY o_custkey, o_orderkey""".stripMargin
}
