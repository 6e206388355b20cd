package graft.gates

import org.apache.spark.sql.DataFrame

import graft.ops._
import Twins._

/** Text and corpus operators (`TextOps`, `CorpusOps`, `UrlOps`). */
object TextGates {
  def gates: Seq[Gate] = Seq(
    // POSITIONAL PHRASE SEARCH: 'table table' as a posting-list join
    // chain on (doc_id, pos - k) — adjacency, not bag-of-words
    Gate("t223_phrase_search",
      // t223 twin: the same adjacency predicate evaluated list-wise
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         |h AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(1, len(tk)),
         |    i -> CASE WHEN tk[i] = 'table' AND tk[i + 1] = 'table'
         |      THEN 1 ELSE 0 END)) AS BIGINT) AS n_hits,
         |  CAST(list_aggregate(list_filter(range(1, len(tk)),
         |    i -> tk[i] = 'table' AND tk[i + 1] = 'table'), 'min')
         |    AS BIGINT) AS first_pos
         |  FROM d)
         |SELECT doc_id, n_hits, first_pos FROM h
         |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,
      t => TextOps.phraseSearch(t.documents, Seq("table", "table"))),
    // RECORD-LINKAGE EVALUATION: pairwise precision/recall/F1 of the
    // t144 entity assignment against the planted ground truth (the
    // +1e6/+2e6 variants share their base key's cluster; the +3e6
    // md5 decoys are singletons) — pure integer pair counting
    Gate("t219_linkage_eval",
      // t219 twin: t144's assignment chain + the same integer pair sums
      s"""WITH RECURSIVE $fuzzyCte,
         |e AS (SELECT key_a AS src, key_b AS dst FROM m
         |      UNION SELECT key_b, key_a FROM m),
         |reach(id, r) AS (
         |  SELECT src, src FROM e UNION SELECT src, dst FROM e
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |cl AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
         |asg AS (SELECT n.key, coalesce(cl.cid, n.key) AS entity_id
         |  FROM (SELECT DISTINCT key FROM named) n
         |  LEFT JOIN cl ON cl.id = n.key),
         |w AS (SELECT entity_id AS p,
         |    CASE WHEN key >= 3000000 THEN key ELSE key % 1000000 END AS t
         |  FROM asg),
         |pp AS (SELECT coalesce(sum((c * (c - 1)) // 2), 0) AS pred_pairs
         |  FROM (SELECT count(*) AS c FROM w GROUP BY p)),
         |tt AS (SELECT coalesce(sum((c * (c - 1)) // 2), 0) AS true_pairs
         |  FROM (SELECT count(*) AS c FROM w GROUP BY t)),
         |b AS (SELECT coalesce(sum((c * (c - 1)) // 2), 0) AS tp
         |  FROM (SELECT count(*) AS c FROM w GROUP BY p, t))
         |SELECT CAST(tp AS BIGINT) AS tp,
         |  CAST(pred_pairs AS BIGINT) AS pred_pairs,
         |  CAST(true_pairs AS BIGINT) AS true_pairs,
         |  CAST(CASE WHEN pred_pairs > 0
         |    THEN (tp * 1000000) // pred_pairs END AS BIGINT)
         |    AS precision_micro,
         |  CAST(CASE WHEN true_pairs > 0
         |    THEN (tp * 1000000) // true_pairs END AS BIGINT)
         |    AS recall_micro,
         |  CAST(CASE WHEN pred_pairs + true_pairs > 0
         |    THEN (2 * tp * 1000000) // (pred_pairs + true_pairs) END
         |    AS BIGINT) AS f1_micro
         |FROM b CROSS JOIN pp CROSS JOIN tt""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, expr}
        val planted = fuzzyPlanted(t)
        val pairs = TextOps.fuzzyMatchMultiBlock(planted,
          Seq(expr("substr(name, 2)"), expr("substr(name, 1, length(name)-1)")),
          maxDist = 2).select(col("key_a"), col("key_b"))
        val assigned = TextOps.entityIds(planted, pairs)
          .withColumn("truth", expr(
            "CASE WHEN key >= 3000000 THEN key ELSE key % 1000000 END"))
        Relational.clusteringPairMetrics(assigned, col("entity_id"),
          col("truth")) }),
    // fuzzy key match: every distinct name entity re-ingested once
    // with a mangled first character, recovered by blocked
    // candidates + exact Levenshtein verify
    Gate("t140_fuzzy_match",
      // t140 twin: identical planted variants, identical suffix block
      // and the same classic Levenshtein DP (engine-exact integers)
      """WITH ent AS (SELECT min(p_partkey) AS key, p_name AS name FROM part GROUP BY 2),
        |named AS (SELECT key, name FROM ent
        |  UNION ALL
        |  SELECT key + 1000000, 'x' || substr(name, 2) FROM ent),
        |blk AS (SELECT key, name, substr(name, 2) AS b FROM named)
        |SELECT DISTINCT a.key AS key_a, b.key AS key_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM blk a JOIN blk b ON a.b = b.b AND a.key < b.key
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY key_a, key_b""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, concat, expr, lit, min, substring}
        // entity resolution runs over DISTINCT name entities (the
        // fixture reuses 64 names across 2000 parts — matching row
        // instances would be quadratic in the reuse count and say
        // nothing new); each name keyed by its min part key, and every
        // entity re-ingested once with a mangled first character
        val base = t.part.groupBy(col("p_name").as("name"))
          .agg(min("p_partkey").as("key")).select("key", "name")
        val planted = base.unionByName(
          base.select((col("key") + 1000000L).as("key"),
            concat(lit("x"), substring(col("name"), 2, 1000)).as("name")))
        TextOps.fuzzyMatch(planted, expr("substr(name, 2)"), maxDist = 2) }),
    // TWO-PASS blocked fuzzy match: a first-character typo escapes
    // the prefix block and a last-character typo escapes the suffix
    // block — candidates union from BOTH complementary blocks, dedup,
    // one shared verify. The planting mangles each entity at both
    // ends, so each pass finds pairs the other is blind to
    Gate("t143_fuzzy_two_pass",
      // t143 twin: identical double planting, identical two complementary
      // blocks, one shared exact-Levenshtein verify over the deduped
      // candidate union
      s"""WITH $fuzzyCte
         |SELECT key_a, key_b, dist FROM m ORDER BY key_a, key_b""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.expr
        TextOps.fuzzyMatchMultiBlock(fuzzyPlanted(t),
          Seq(expr("substr(name, 2)"), expr("substr(name, 1, length(name)-1)")),
          maxDist = 2) }),
    // entity-id assignment: the two-pass pairs through the shared
    // min-label propagation core — every key gets the min key of its
    // fuzzy component (base + both typo variants resolve to ONE id),
    // unmatched singletons get themselves
    Gate("t144_entity_ids",
      // t144 twin: recursive closure over the verified pair graph (the
      // t49 reach pattern), min key per component, singletons filled
      // from the full key universe by the left-join null arm
      s"""WITH RECURSIVE $fuzzyCte,
         |e AS (SELECT key_a AS src, key_b AS dst FROM m
         |      UNION SELECT key_b, key_a FROM m),
         |reach(id, r) AS (
         |  SELECT src, src FROM e UNION SELECT src, dst FROM e
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |cl AS (SELECT id, min(r) AS cid FROM reach GROUP BY id)
         |SELECT n.key, coalesce(cl.cid, n.key) AS entity_id,
         |  n.key = coalesce(cl.cid, n.key) AS is_canonical
         |FROM (SELECT DISTINCT key FROM named) n
         |LEFT JOIN cl ON cl.id = n.key
         |ORDER BY key""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, expr}
        val planted = fuzzyPlanted(t)
        val pairs = TextOps.fuzzyMatchMultiBlock(planted,
          Seq(expr("substr(name, 2)"), expr("substr(name, 1, length(name)-1)")),
          maxDist = 2).select(col("key_a"), col("key_b"))
        TextOps.entityIds(planted, pairs) }),
    // unicode normalization (CCNet-style cleanup): accent/typography
    // fold + lowercase + whitespace collapse, exercised by a planted
    // accented tail (the t67 pattern — the fixture corpus is ASCII)
    Gate("t114_normalize_unicode",
      // t114 twin: the IDENTICAL fold table and planted tail (both
      // interpolated from the same Scala constants), translate/lower/
      // collapse applied in the same order
      s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0 THEN text || ${sqlLit(NormPlantTail)}
         |       ELSE text END AS text
         |  FROM documents),
         |n AS (SELECT doc_id,
         |  trim(regexp_replace(translate(lower(text),
         |    ${sqlLit(TextOps.UnicodeFoldFrom)}, ${sqlLit(TextOps.UnicodeFoldTo)}),
         |    '\\s+', ' ', 'g')) AS norm_text
         |  FROM p)
         |SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_chars
         |FROM n ORDER BY doc_id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, concat, lit, when}
        TextOps.normalizeTexts(
          t.documents.withColumn("text",
            when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(NormPlantTail))).otherwise(col("text")))) }),
    Gate("t42_bpeish_tokens",
      s"""SELECT source, CAST(sum(n) AS BIGINT) AS total_tokens,
         | ${meanL("n")} AS avg_tokens, count(*) AS n_docs
         |FROM (SELECT source,
         |   CAST(len(regexp_extract_all(lower(text), '${graft.ops.TextOps.bpeishPattern.replace("'", "''")}')) AS BIGINT) AS n
         | FROM documents)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => TextOps.bpeishTokenCounts(t.documents)),
    Gate("t48_repetition",
      // repeated-3-gram fraction; shingles WITH multiplicity
      t48Sql,
      t => TextOps.repetitionScores(t.documents)),
    Gate("t51_split_assign",
      // split twin: 16-bit md5 prefix of the normalized text, mod 10
      """WITH b AS (SELECT source, n_chars,
        |  CAST(('0x'||substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))),1,4)) AS BIGINT) % 10 AS bucket
        |  FROM documents)
        |SELECT source,
        | CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => TextOps.splitAssign(t.documents)),
    Gate("t52_sample_stratified",
      // stratified sample twin: same (content-hash, doc_id) order, same
      // per-source quota — md5 hex strings compare identically (ASCII)
      stratSampleSql,
      t => CorpusOps.stratifiedSample(t.documents)),
    // incremental sample maintenance: yesterday's sample is the whole
    // index; folding today's shard against it reproduces the one-shot
    // full-corpus sample EXACTLY (greedy hash-smallest property) —
    // twin is t52's full-corpus SQL verbatim
    Gate("t110_incremental_sample",
      // t110 twin: t52's FULL-CORPUS SQL verbatim — the incremental fold
      // (yesterday's sample index + today's shard) must reproduce the
      // one-shot sample bit-for-bit, which is the exactness claim of
      // hash-smallest greedy maintenance
      stratSampleSql,
      t => {
        import org.apache.spark.sql.functions.col
        val idx = CorpusOps.stratifiedSample(t.documents.filter(col("doc_id") < 250))
          .select("source", "doc_id", "h")
        CorpusOps.incrementalStratifiedSample(
          t.documents.filter(col("doc_id") >= 250), idx) }),
    // politeness crawl schedule: distinct canonical URLs ranked into
    // per-domain fetch slots (one fetch per domain per slot)
    Gate("t115_crawl_schedule",
      // t115 twin: the t71 canonicalization chain -> distinct per-domain
      // URLs -> the same (url_norm) rank rule
      s"""WITH $urlNormCte,
         |d AS (SELECT DISTINCT domain, url_norm FROM n)
         |SELECT domain, url_norm, CAST(row_number() OVER (
         |    PARTITION BY domain ORDER BY url_norm) AS BIGINT) AS slot
         |FROM d ORDER BY domain, slot""".stripMargin,
      t => UrlOps.crawlSchedule(UrlOps.plantUrls(t.documents))),
    // per-domain quality blocklist: page-level quality aggregated to
    // the granularity a crawler acts on -- integer score sums, the
    // decision bit a pure-integer comparison
    Gate("t124_domain_quality",
      // t124 twin: the t71 domain chain + t28's quality CTEs, the same
      // integer score sums and integer blocklist comparison
      s"""WITH $urlNormCte,
         |t AS (SELECT doc_id, $toks AS tk FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
         |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS BIGINT) AS n_stop
         |  FROM t),
         |q AS (SELECT doc_id, CAST(floor(
         |  (${q4("CAST(n_uniq AS DOUBLE)/n_tokens*0.5 + least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.3 + (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)*0.2")})
         |  * 10000.0 + 0.5) AS BIGINT) AS q4i
         |  FROM m WHERE n_tokens > 0),
         |g AS (SELECT n.domain, count(*) AS n_docs,
         |  CAST(sum(q.q4i) AS BIGINT) AS sq, min(q.q4i) AS minq
         |  FROM n JOIN q ON q.doc_id = n.doc_id GROUP BY 1)
         |SELECT domain, n_docs,
         |  floor(CAST(sq AS DOUBLE) / 10000.0 / n_docs * 1000000.0 + 0.5) / 1000000.0 AS mean_quality,
         |  CAST(minq AS DOUBLE) / 10000.0 AS min_quality,
         |  sq < 7000 * n_docs AS blocked
         |FROM g ORDER BY domain""".stripMargin,
      t => UrlOps.domainQualityReport(t.documents, UrlOps.plantUrls(t.documents))),
    // integer-scaled PageRank over the co-purchase graph (parts
    // sharing an order, both directions): 3 power iterations, every
    // per-edge contribution floored before the order-free integer sum
    // the DSIR RESAMPLING step: t95's scores drive a deterministic
    // content-hash Bernoulli accept (p = min(1, score), no PRNG) --
    // pure integer cross-multiplied accept test, engine-exact
    Gate("t121_importance_resample",
      // t121 twin: t95's weight CTEs + the identical integer
      // cross-multiplied accept test on the content-hash uniform
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |tb AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % 1024 AS b FROM tk),
         |tc AS (SELECT b, count(*) AS tc FROM tb WHERE doc_id % 10 < 3 GROUP BY 1),
         |rc AS (SELECT b, count(*) AS rc FROM tb WHERE doc_id % 10 >= 3 GROUP BY 1),
         |wt AS (SELECT rc.b,
         |  CAST(floor(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE)
         |    / (rc.rc + 1) * 1000000.0 + 0.5) AS BIGINT) AS wq
         |  FROM rc LEFT JOIN tc ON tc.b = rc.b),
         |sc AS (SELECT doc_id, count(*) AS n_tok,
         |  CAST(sum(wq) AS BIGINT) AS swq,
         |  floor(CAST(sum(wq) AS DOUBLE) / 1000000.0 / count(*)
         |    * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM tb JOIN wt ON wt.b = tb.b
         |  WHERE doc_id % 10 >= 3 GROUP BY 1),
         |u AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))),1,4)) AS BIGINT) AS u16
         |  FROM documents)
         |SELECT sc.doc_id, sc.score
         |FROM sc JOIN u ON u.doc_id = sc.doc_id
         |WHERE u.u16 * sc.n_tok * 1000000 < sc.swq * 65536
         |ORDER BY sc.doc_id""".stripMargin,
      t => CorpusOps.importanceResample(t.documents)),
    // source-overlap matrix: content jaccard between source pairs
    // over distinct fingerprints -- the mirror-detection report a
    // mixture designer runs before assigning per-source budgets
    Gate("t130_source_overlap",
      // t130 twin: the identical distinct-fingerprint equi-join and
      // exact-integer jaccard per source pair
      """WITH p AS (SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror-of-' || source AS source, text FROM documents
        |  WHERE doc_id % 10 = 4),
        |sf AS (SELECT DISTINCT source,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM p),
        |sz AS (SELECT source, count(*) AS n FROM sf GROUP BY 1),
        |iv AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, inter,
        |  floor(CAST(inter AS DOUBLE) / (za.n + zb.n - inter) * 10000.0 + 0.5) / 10000.0 AS jac
        |FROM iv JOIN sz za ON za.source = src_a JOIN sz zb ON zb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{col, concat, lit}
        // the fixture's dups are within-source, so the cross-source arm
        // is PLANTED (t67 pattern): every 10th==4 doc mirrored into a
        // synthetic aggregator source at fresh ids
        val planted = t.documents.select(col("doc_id"), col("source"), col("text"))
          .unionByName(t.documents.filter(col("doc_id") % 10 === 4)
            .select((col("doc_id") + 50000L).as("doc_id"),
              concat(lit("mirror-of-"), col("source")).as("source"), col("text")))
        CorpusOps.sourceOverlap(planted) }),
    // re-crawl snapshot diff: per doc_id added/removed/changed/
    // unchanged by content fingerprint — all four arms planted
    // in-query (edit every 7th, drop every 11th≡3, add re-ids)
    Gate("t118_corpus_diff",
      // t118 twin: identical planted snapshot B (edit/drop/re-id arms)
      // and identical normalized-fingerprint comparison
      """WITH b AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_a
        |  FROM documents),
        |a0 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' re-crawl edit' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 13 = 0),
        |a AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_b
        |  FROM a0)
        |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN fp_a IS NULL THEN 'added'
        |       WHEN fp_b IS NULL THEN 'removed'
        |       WHEN fp_a = fp_b THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM b FULL OUTER JOIN a ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, concat, lit, when}
        val base = t.documents.select(col("doc_id"), col("text"))
        val after = base.filter(col("doc_id") % 11 =!= 3)
          .withColumn("text",
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" re-crawl edit"))).otherwise(col("text")))
          .unionByName(base.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        CorpusOps.corpusDiff(base, after) }),
    Gate("t53_tfidf_terms",
      // linear-idf score tf/df: single IEEE division of exact integers —
      // bit-identical in every engine (ln is libm-dependent, so no log)
      s"""WITH w AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1,2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         |SELECT doc_id, rnk, term, score FROM (
         |  SELECT tf.doc_id, tf.term, CAST(tf.tf AS DOUBLE)/df.df AS score,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf AS DOUBLE)/df.df DESC, tf.term) AS BIGINT) AS rnk
         |  FROM tf JOIN df USING (term))
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
      t => CorpusOps.tfidfTopTerms(t.documents)),
    Gate("t54_seq_pack",
      // packing twin: same per-source doc_id-ordered cumulative sum; the
      // integral-valued floor division is exact as DOUBLE (< 2^53)
      s"""WITH t AS (SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents),
         |o AS (SELECT source, doc_id, n,
         |  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS off
         |  FROM t)
         |SELECT source, CAST(floor(CAST(off AS DOUBLE)/512.0) AS BIGINT) AS seq_id,
         | count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM o GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => CorpusOps.packSequences(t.documents)),
    Gate("t55_quality_filter",
      // filter twin: integer cross-multiplied rule bounds, coalesce(,0)
      // because DuckDB list_aggregate of an empty list is NULL where
      // Spark's aggregate returns the seed
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
         |  CAST(coalesce(list_aggregate(list_transform(tk, x -> length(x)), 'sum'), 0) AS BIGINT) AS sum_len,
         |  CAST(len(list_filter(['the','a','of','and','is','to','in'], s -> list_contains(tk, s))) AS BIGINT) AS n_stop
         |  FROM t)
         |SELECT doc_id, n AS n_tokens,
         | (n >= 20 AND n <= 400) AS ok_len,
         | (sum_len >= 3*n AND sum_len <= 10*n) AS ok_word_len,
         | (n_stop >= 2) AS ok_stopwords,
         | (5*n_uniq >= n) AS ok_ttr,
         | (n >= 20 AND n <= 400 AND sum_len >= 3*n AND sum_len <= 10*n
         |   AND n_stop >= 2 AND 5*n_uniq >= n) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
      t => CorpusOps.gopherFilter(t.documents)),
    // capstone: dedup → gopher filter → split assign → pack manifest,
    // one composed pipeline over the operators gated individually
    Gate("t56_corpus_build",
      // capstone twin: the t23 dedup CTE → t55 rule bounds → t51 split
      // rule (same fingerprint) → t54 packing per (source, split)
      s"""WITH fp AS (SELECT doc_id, source, text,
         |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents),
         |c AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY 1),
         |canon AS (SELECT f.doc_id, f.source, f.text, f.fp
         |  FROM fp f JOIN c ON f.fp = c.fp WHERE f.doc_id = c.canonical_id),
         |t AS (SELECT doc_id, source,
         |  CASE WHEN CAST(('0x'||substr(fp,1,4)) AS BIGINT) % 10 < 8 THEN 'train'
         |       WHEN CAST(('0x'||substr(fp,1,4)) AS BIGINT) % 10 < 9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  $toks AS tk FROM canon),
         |m AS (SELECT doc_id, source, split,
         |  CAST(len(tk) AS BIGINT) AS n,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
         |  CAST(coalesce(list_aggregate(list_transform(tk, x -> length(x)), 'sum'), 0) AS BIGINT) AS sum_len,
         |  CAST(len(list_filter(['the','a','of','and','is','to','in'], s -> list_contains(tk, s))) AS BIGINT) AS n_stop
         |  FROM t),
         |k AS (SELECT source, split, doc_id, n FROM m
         |  WHERE n >= 20 AND n <= 400 AND sum_len >= 3*n AND sum_len <= 10*n
         |    AND n_stop >= 2 AND 5*n_uniq >= n),
         |o AS (SELECT source, split, doc_id, n,
         |  CAST(sum(n) OVER (PARTITION BY source, split ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS off FROM k)
         |SELECT source, split, CAST(floor(CAST(off AS DOUBLE)/512.0) AS BIGINT) AS seq_id,
         | count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM o GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
      t => CorpusOps.corpusBuild(t.documents)),
    // the CRAWL-TO-CORPUS capstone: nine gated operators wired in
    // production order over today's shard (t71 URL dedup → t124
    // blocklist → t55 quality → t107 decontam → t87 near-dup-vs-
    // index → t121 DSIR → t92 temperature → t54 pack → t91 shuffle)
    Gate("t135_crawl_corpus_build", t135Sql,
      t => CorpusOps.crawlCorpusBuild(t.documents, UrlOps.plantUrls(t.documents))),
    // BPE merge-pair learning: 3 count→top-1→greedy-apply rounds over
    // the document token streams; the run-parity rule makes greedy
    // leftmost application exact in both engines
    Gate("t229_bpe_merges",
      // t229 twin: the identical 3 unrolled BPE rounds (bpeUnrolledSql)
      bpeUnrolledSql(steps = 3),
      t => CorpusOps.bpeMerges(t.documents, nMerges = 3)),
    // SYSTEMATIC PPS SAMPLE: exactly 16 token-weighted draws from the
    // documents corpus — deterministic weight-proportional selection
    // with multiplicity (two-phase prefix sum, broadcast grid)
    Gate("t234_pps_sample",
      // t234 twin: the identical grid-containment rule over the same
      // cumulative weight layout (HUGEINT grid arithmetic)
      s"""WITH s AS (SELECT doc_id AS id,
         |    CAST(len($toks) AS BIGINT) AS w FROM documents),
         |c AS (SELECT id, w, sum(w) OVER (ORDER BY id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
         |  FROM s),
         |t AS (SELECT max(hi) AS wtot FROM c),
         |g AS (SELECT j, CAST((CAST(wtot AS HUGEINT) * (2*j + 1)) // 32
         |    AS BIGINT) AS g
         |  FROM t CROSS JOIN (SELECT unnest(range(0, 16)) AS j))
         |SELECT g.j AS sample_ord, c.id, c.w
         |FROM c JOIN g ON g.g >= c.hi - c.w AND g.g < c.hi
         |ORDER BY sample_ord""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, size}
        CorpusOps.ppsSystematic(t.documents, col("doc_id"),
          size(graft.ops.TextOps.tokens(col("text"))), k = 16) }),
    // mixture reweighting: uniform per-source budget, deterministic
    // content-hash slice per source
    Gate("t57_mixture_sample",
      // mixture twin: identical arithmetic chain — integer floor-div
      // budget/n_sources, exactly-rounded rate division, power-of-two
      // scale, floor — then the same 32-bit hash-prefix threshold
      """WITH h AS (SELECT doc_id, source,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n_docs FROM h GROUP BY 1),
        |ns AS (SELECT count(*) AS n_sources FROM c),
        |r AS (SELECT source, n_docs,
        |  CAST(floor(CAST(200 AS DOUBLE) / n_sources) AS BIGINT) AS target,
        |  floor(least(1.0, CAST(CAST(floor(CAST(200 AS DOUBLE) / n_sources) AS BIGINT) AS DOUBLE) / n_docs) * 4294967296.0) AS cut
        |  FROM c CROSS JOIN ns)
        |SELECT h.source, count(*) AS n_docs, r.target AS target,
        | CAST(sum(CASE WHEN CAST(CAST(('0x'||substr(h.h,1,8)) AS BIGINT) AS DOUBLE) < r.cut
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM h JOIN r ON r.source = h.source
        |GROUP BY 1, r.target ORDER BY 1""".stripMargin,
      t => CorpusOps.mixtureSample(t.documents)),
    // temperature-weighted mixture (α=0.5): per-source budget ∝ √n,
    // exact integer share arithmetic (sqrt is the one IEEE-portable
    // transcendental-adjacent op: correctly rounded everywhere)
    Gate("t92_mixture_temperature",
      // temperature-mixture twin: identical integer-quantized √n
      // weights (w = floor(sqrt(n)·1e6) — sqrt correctly rounded IEEE
      // in both engines, floor exact below 2^53), integer-div targets,
      // same md5-prefix keep rule as t57
      """WITH h AS (SELECT doc_id, source,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n_docs FROM h GROUP BY 1),
        |wt AS (SELECT source, n_docs,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w FROM c),
        |tt AS (SELECT sum(w) AS w_total FROM wt),
        |r AS (SELECT source, n_docs, w,
        |  CAST((200 * w) // w_total AS BIGINT) AS target,
        |  floor(least(1.0, CAST((200 * w) // w_total AS DOUBLE) / n_docs) * 4294967296.0) AS cut
        |  FROM wt CROSS JOIN tt)
        |SELECT h.source, count(*) AS n_docs, r.w AS w, r.target AS target,
        | CAST(sum(CASE WHEN CAST(CAST(('0x'||substr(h.h,1,8)) AS BIGINT) AS DOUBLE) < r.cut
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM h JOIN r ON r.source = h.source
        |GROUP BY 1, r.w, r.target ORDER BY 1""".stripMargin,
      t => CorpusOps.mixtureSampleTemperature(t.documents)),
    // seeded global training-order permutation, two-phase rank
    // (bucket offsets + within-bucket row_number — no global window)
    Gate("t91_shuffle_order",
      // shuffle-order twin: the same seeded key, one global window (the
      // oracle may centralize; the engine's two-phase rank may not)
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5('42:' || doc_id), doc_id) AS BIGINT) AS pos
        |FROM documents ORDER BY pos""".stripMargin,
      t => CorpusOps.shuffleOrder(t.documents)),
    // vocabulary construction: top-k tokens by occurrence, dense ids
    Gate("t58_vocabulary",
      // vocabulary twin: same (count desc, token) total order for both
      // the top-k cut and the dense ids
      vocabSql,
      t => CorpusOps.vocabulary(t.documents)),
    // collocation mining: window-2 co-occurrence, PMI-monotone ratio
    Gate("t59_cooccurrence",
      // co-occurrence twin: parallel unnests zip positions with tokens;
      // the ratio multiplies exactly-representable ints as doubles, so
      // the single division (then quant) is bit-identical
      s"""WITH tk AS (SELECT doc_id, $toks AS tks FROM documents),
         |pos AS (SELECT doc_id, unnest(range(1, len(tks)+1)) AS pos, unnest(tks) AS tok FROM tk),
         |p AS (SELECT least(a.tok, b.tok) AS ta, greatest(a.tok, b.tok) AS tb,
         |    count(*) AS c_ab
         |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
         |    AND b.pos > a.pos AND b.pos <= a.pos + 2
         |  GROUP BY 1,2),
         |c AS (SELECT tok, count(*) AS c FROM pos GROUP BY 1),
         |n AS (SELECT count(*) AS n_tok FROM pos),
         |s AS (SELECT ta, tb, c_ab,
         |  floor((CAST(n_tok AS DOUBLE) * CAST(c_ab AS DOUBLE))
         |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) * 1000000.0 + 0.5)/1000000.0 AS score
         |  FROM p JOIN c ca ON ca.tok = p.ta JOIN c cb ON cb.tok = p.tb CROSS JOIN n)
         |SELECT ta, tb, c_ab, score FROM s
         |ORDER BY score DESC, ta, tb LIMIT 50""".stripMargin,
      t => CorpusOps.cooccurrence(t.documents)),
    // context-window chunk sizing: windows/stride/padding per source
    Gate("t60_chunk_plan",
      // chunk-plan twin: identical integer ceil arithmetic
      s"""WITH t AS (SELECT source, CAST(len($toks) AS BIGINT) AS n FROM documents),
         |c AS (SELECT source, n,
         |  CASE WHEN n = 0 THEN 0
         |       ELSE 1 + (greatest(n - 64, 0) + 31) // 32 END AS chunks
         |  FROM t)
         |SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         | CAST(sum(chunks) AS BIGINT) AS n_chunks,
         | CAST(sum(CASE WHEN chunks = 0 THEN 0
         |   ELSE greatest((chunks-1)*32 + 64 - n, 0) END) AS BIGINT) AS pad_tokens
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
      t => CorpusOps.chunkPlan(t.documents)),
    // boilerplate detection: most-shared cross-document shingles
    Gate("t61_boilerplate",
      // boilerplate twin: t50's distinct-shingle CTE, df count, same
      // (df desc, shingle) total order for cut and ranks
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |s AS (SELECT doc_id,
         |  unnest(list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
         |  FROM t WHERE len(tk) >= 3),
         |c AS (SELECT shingle, count(*) AS df FROM s GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY df DESC, shingle) AS BIGINT) AS rnk,
         | shingle, df
         |FROM c WHERE df >= 2 ORDER BY df DESC, shingle LIMIT 50""".stripMargin,
      t => CorpusOps.boilerplateShingles(t.documents)),
    // winnowing: rolling-hash document fingerprint selection
    Gate("t62_winnow",
      // winnowing twin: same k-gram hash sequence (60-bit md5 prefix),
      // same length-w window minima; DuckDB list slices are INCLUSIVE
      // (hs[i:i+3] is 4 hashes) and both engines min over BIGINTs
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |h AS (SELECT doc_id,
         |  list_transform(range(1, len(tk)-1), i -> CAST(('0x'||substr(md5(array_to_string(tk[i:i+2], ' ')),1,15)) AS BIGINT)) AS hs
         |  FROM t WHERE len(tk) >= 3),
         |s AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles,
         |  CASE WHEN len(hs) >= 4
         |    THEN list_distinct(list_transform(range(1, len(hs)-2), i -> list_min(hs[i:i+3])))
         |    ELSE [list_min(hs)] END AS fp
         |  FROM h WHERE len(hs) > 0)
         |SELECT doc_id, n_shingles, CAST(len(fp) AS BIGINT) AS n_fp,
         | list_min(fp) AS fp_min, list_max(fp) AS fp_max
         |FROM s ORDER BY doc_id""".stripMargin,
      t => TextOps.winnowFingerprints(t.documents)),
    // BPE training's inner loop under the gate: first-iteration
    // adjacent character-pair frequencies over word types (the merge
    // loop itself is spec'd differentially vs a reference impl)
    Gate("t76_bpe_pairs",
      // BPE first-iteration twin: same word-type weights, same adjacent
      // character pairs, same (freq DESC, pair) total order
      s"""WITH w AS (SELECT tok AS w, count(*) AS cnt
         |  FROM (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1),
         |p AS (SELECT substring(w, i, 1) || ' ' || substring(w, i+1, 1) AS pair, cnt
         |  FROM w, LATERAL (SELECT unnest(range(1, length(w))) AS i) u
         |  WHERE length(w) >= 2)
         |SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq
         |FROM p GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""".stripMargin,
      t => CorpusOps.bpePairCounts(t.documents)),
    // Kneser-Ney substrate: trigram counts + continuation diversity
    Gate("t77_lm_counts",
      // LM-counts twin: parallel list indexing builds the trigrams
      s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents),
         |g AS (SELECT tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
         |  FROM tk, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) u
         |  WHERE len(tk) >= 3)
         |SELECT w1, w2, count(*) AS n_trigrams,
         |  count(DISTINCT w3) AS n_continuations
         |FROM g GROUP BY 1,2 ORDER BY n_trigrams DESC, w1, w2 LIMIT 50""".stripMargin,
      t => CorpusOps.lmCounts(t.documents)),
    // CCNet-style reference-LM quality signal: trigram backoff-level
    // coverage of held-out docs against a reference slice's n-gram
    // tables — integer hit counts plus ONE deferred IEEE division
    Gate("t94_lm_coverage",
      // t94 twin: same trigram stream, same doc_id % 10 < 3 reference
      // slice, same three DISTINCT backoff tables and CASE ladder; the
      // only double is the final floor(x·1e6+0.5)/1e6 coverage ratio
      s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents),
         |g AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
         |  FROM tk, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) u
         |  WHERE len(tk) >= 3),
         |r3 AS (SELECT DISTINCT w1, w2, w3 FROM g WHERE doc_id % 10 < 3),
         |r2 AS (SELECT DISTINCT w2, w3 FROM g WHERE doc_id % 10 < 3),
         |r1 AS (SELECT DISTINCT w3 FROM g WHERE doc_id % 10 < 3),
         |lv AS (SELECT g.doc_id,
         |  CASE WHEN r3.w1 IS NOT NULL THEN 3
         |       WHEN r2.w2 IS NOT NULL THEN 2
         |       WHEN r1.w3 IS NOT NULL THEN 1 ELSE 0 END AS lvl
         |  FROM g
         |  LEFT JOIN r3 ON g.w1 = r3.w1 AND g.w2 = r3.w2 AND g.w3 = r3.w3
         |  LEFT JOIN r2 ON g.w2 = r2.w2 AND g.w3 = r2.w3
         |  LEFT JOIN r1 ON g.w3 = r1.w3
         |  WHERE g.doc_id % 10 >= 3)
         |SELECT doc_id, count(*) AS n_tri,
         |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
         |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
         |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
         |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  floor(CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS coverage
         |FROM lv GROUP BY 1 ORDER BY doc_id""".stripMargin,
      t => CorpusOps.lmCoverageScores(t.documents)),
    // DSIR-style data selection: per-doc importance score from the
    // ratio of target-slice vs candidate hashed-unigram counts —
    // integer weight table broadcast to the candidates
    Gate("t95_importance_weights",
      // t95 twin: same md5-prefix unigram buckets (the s46 hash), same
      // target slice, same integer weight table (one floored division
      // per bucket), same integer per-doc sums + one deferred division
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |tb AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % 1024 AS b FROM tk),
         |tc AS (SELECT b, count(*) AS tc FROM tb WHERE doc_id % 10 < 3 GROUP BY 1),
         |rc AS (SELECT b, count(*) AS rc FROM tb WHERE doc_id % 10 >= 3 GROUP BY 1),
         |wt AS (SELECT rc.b,
         |  CAST(floor(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE)
         |    / (rc.rc + 1) * 1000000.0 + 0.5) AS BIGINT) AS wq
         |  FROM rc LEFT JOIN tc ON tc.b = rc.b)
         |SELECT doc_id, count(*) AS n_tok,
         |  CAST(sum(wq) AS BIGINT) AS swq,
         |  floor(CAST(sum(wq) AS DOUBLE) / 1000000.0 / count(*)
         |    * 1000000.0 + 0.5) / 1000000.0 AS score
         |FROM tb JOIN wt ON wt.b = tb.b
         |WHERE doc_id % 10 >= 3
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
      t => CorpusOps.importanceWeights(t.documents)),
    // mixture upsampling: rare sources repeat (ceil(n_max/n), cap 4),
    // the explicit epoch manifest a trainer's loader consumes
    Gate("t103_mixture_epochs",
      // t103 twin: same integer epoch rule ((n_max+n-1)//n capped at 4)
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |mx AS (SELECT max(n) AS n_max FROM c),
        |r AS (SELECT source, least((n_max + n - 1) // n, 4) AS epochs
        |  FROM c CROSS JOIN mx)
        |SELECT doc_id, d.source, CAST(u.e AS BIGINT) AS epoch
        |FROM documents d JOIN r ON r.source = d.source,
        |  LATERAL (SELECT unnest(range(1, epochs + 1)) AS e) u
        |ORDER BY doc_id, epoch""".stripMargin,
      t => CorpusOps.mixtureEpochs(t.documents)),
    // inverted index over rare terms, position-aware ordered postings
    Gate("t78_inverted_index",
      // inverted-index twin: same 3-gram phrase unit, same rare-gram
      // cap, same ordered doc:pos postings (0-based positions)
      s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents),
         |p AS (SELECT doc_id, CAST(i-1 AS INTEGER) AS pos,
         |    array_to_string(tk[i:i+2], ' ') AS term
         |  FROM tk, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) u
         |  WHERE len(tk) >= 3)
         |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS n_postings,
         |  string_agg(doc_id || ':' || pos, ',' ORDER BY doc_id, pos) AS postings
         |FROM p GROUP BY 1 HAVING count(DISTINCT doc_id) <= 3
         |ORDER BY term""".stripMargin,
      t => CorpusOps.invertedIndex(t.documents)),
    // corpus card: the one-row dataset report (dup rate, quality keep
    // rate, token budget, diversity), composed from gated operators
    Gate("t79_corpus_card",
      // corpus-card twin: t23's dedup CTE + t55's rule bounds + plain
      // aggregates, one row
      s"""WITH fp AS (SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents),
         |c AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY 1),
         |dup AS (SELECT f.doc_id, f.doc_id <> c.canonical_id AS is_dup
         |  FROM fp f JOIN c ON f.fp = c.fp),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
         |  CAST(coalesce(list_aggregate(list_transform(tk, x -> length(x)), 'sum'), 0) AS BIGINT) AS sum_len,
         |  CAST(len(list_filter(['the','a','of','and','is','to','in'], s -> list_contains(tk, s))) AS BIGINT) AS n_stop
         |  FROM (SELECT doc_id, $toks AS tk FROM documents)),
         |k AS (SELECT doc_id, n,
         |  (n >= 20 AND n <= 400 AND sum_len >= 3*n AND sum_len <= 10*n
         |    AND n_stop >= 2 AND 5*n_uniq >= n) AS keep FROM m),
         |t AS (SELECT doc_id, lang, source FROM documents)
         |SELECT count(*) AS n_docs, CAST(sum(k.n) AS BIGINT) AS n_tokens,
         |  count(DISTINCT t.lang) AS n_langs, count(DISTINCT t.source) AS n_sources,
         |  CAST(sum(CASE WHEN dup.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
         |  CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_keep
         |FROM t JOIN dup ON dup.doc_id = t.doc_id JOIN k ON k.doc_id = t.doc_id""".stripMargin,
      t => CorpusOps.corpusCard(t.documents)),
    // the capstone with NEAR-dup canonicalization: one representative
    // per Jaccard cluster (t49 machinery) feeds the t56 tail
    Gate("t80_corpus_build_neardup",
      // near-dup capstone twin: t49's recursive cluster closure picks
      // the survivors (cluster-less docs keep themselves), then t56's
      // split/filter/pack tail verbatim
      s"""WITH RECURSIVE
         |w AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toks) AS tok FROM documents)),
         |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1,2),
         |pr AS (SELECT doc_a, doc_b
         |  FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
         |  WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.9),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |      UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (
         |  SELECT src, src FROM e UNION SELECT src, dst FROM e
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |kept0 AS (SELECT d.doc_id, d.source, d.text,
         |    md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
         |  WHERE cl.cluster_id IS NULL OR d.doc_id = cl.cluster_id),
         |t AS (SELECT doc_id, source,
         |  CASE WHEN CAST(('0x'||substr(fp,1,4)) AS BIGINT) % 10 < 8 THEN 'train'
         |       WHEN CAST(('0x'||substr(fp,1,4)) AS BIGINT) % 10 < 9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  $toks AS tk FROM kept0),
         |m AS (SELECT doc_id, source, split,
         |  CAST(len(tk) AS BIGINT) AS n,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
         |  CAST(coalesce(list_aggregate(list_transform(tk, x -> length(x)), 'sum'), 0) AS BIGINT) AS sum_len,
         |  CAST(len(list_filter(['the','a','of','and','is','to','in'], s -> list_contains(tk, s))) AS BIGINT) AS n_stop
         |  FROM t),
         |k AS (SELECT source, split, doc_id, n FROM m
         |  WHERE n >= 20 AND n <= 400 AND sum_len >= 3*n AND sum_len <= 10*n
         |    AND n_stop >= 2 AND 5*n_uniq >= n),
         |o AS (SELECT source, split, doc_id, n,
         |  CAST(sum(n) OVER (PARTITION BY source, split ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS off FROM k)
         |SELECT source, split, CAST(floor(CAST(off AS DOUBLE)/512.0) AS BIGINT) AS seq_id,
         | count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM o GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
      t => CorpusOps.corpusBuildNearDup(t.documents, threshold = 0.9)),
    // character-window chunk extraction (width 200, overlap 50)
    Gate("t68_chunk_text",
      // chunk-extraction twin: identical 1-based substring arithmetic
      // with the geometry interpolated from TextOps (single source of
      // truth); starts are 1 + k·stride so the chunk_id division is exact
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len
         |  FROM documents WHERE length(text) > 0),
         |s AS (SELECT doc_id, text,
         |  CAST(unnest(range(1, len + 1, $chunkStride)) AS INTEGER) AS start FROM d)
         |SELECT doc_id, CAST((start - 1) // $chunkStride AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS start,
         |  substring(text, start, ${TextOps.DefaultChunkWidth}) AS chunk
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
      t => TextOps.chunkTexts(t.documents)),
    // hashed tf-idf document vectors: the text→vector bridge; bucket
    // weights are exact integer sums (common denominator N) with one
    // final division, so the 64 doubles hash bit-identically. Gate
    // shape: the vector is exploded to (doc_id, i, x) rows — the
    // driver's comparator sorts scalar columns only, so an
    // array<double> column is unscorable; the library API
    // (hashedTfIdfVectors) keeps the dense vector for composition
    Gate("s46_tfidf_vectors",
      // tf-idf vector twin: identical bucket hash, identical integer
      // numerators, same deferred division; exploded (doc_id, i, x)
      // rows from a doc × range(dim) grid left-joined to bucket sums
      s"""WITH w AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |bw AS (SELECT doc_id,
         |    CAST(('0x'||substr(md5(term),1,15)) AS BIGINT) % 64 AS b,
         |    CAST(sum(tf * (n_docs - df)) AS BIGINT) AS num
         |  FROM tf JOIN df USING (term) CROSS JOIN nd GROUP BY 1, 2),
         |grid AS (SELECT doc_id, i FROM (SELECT DISTINCT doc_id FROM tf),
         |  (SELECT unnest(range(0, 64)) AS i))
         |SELECT g.doc_id, CAST(g.i AS BIGINT) AS i,
         |    CAST(coalesce(bw.num, 0) AS DOUBLE) / nd.n_docs AS x
         |  FROM grid g LEFT JOIN bw ON bw.doc_id = g.doc_id AND bw.b = g.i
         |  CROSS JOIN nd
         |ORDER BY g.doc_id, g.i""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, posexplode}
        CorpusOps.hashedTfIdfVectors(t.documents)
          .select(col("doc_id"), posexplode(col("vec")).as(Seq("i", "x")))
          .select(col("doc_id"), col("i").cast("long").as("i"), col("x"))
          .orderBy("doc_id", "i") }),
    // embedding-free semantic search: the s46 bridge driven end-to-end
    // — literal query → corpus-idf hashed vector → cosine top-k
    Gate("s47_tfidf_search",
      // tf-idf search twin: the s46 vectors rebuilt (list-assembled this
      // time — the dot needs arrays), the query folded with the SAME
      // corpus idf into INTEGER components (scale-invariant cosine
      // skips the /N), sequential-fold cosine quantized before ranking
      s"""WITH w AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |bw AS (SELECT doc_id,
         |    CAST(('0x'||substr(md5(term),1,15)) AS BIGINT) % 64 AS b,
         |    CAST(sum(tf * (n_docs - df)) AS BIGINT) AS num
         |  FROM tf JOIN df USING (term) CROSS JOIN nd GROUP BY 1, 2),
         |grid AS (SELECT doc_id, i FROM (SELECT DISTINCT doc_id FROM tf),
         |  (SELECT unnest(range(0, 64)) AS i)),
         |dv AS (SELECT g.doc_id,
         |    list(CAST(coalesce(bw.num, 0) AS DOUBLE) / nd.n_docs ORDER BY g.i) AS v
         |  FROM grid g LEFT JOIN bw ON bw.doc_id = g.doc_id AND bw.b = g.i
         |  CROSS JOIN nd GROUP BY 1),
         |qt AS (SELECT unnest(regexp_extract_all(lower('$SearchQuery'), '[a-z0-9]+')) AS term),
         |qtf AS (SELECT term, count(*) AS tf FROM qt GROUP BY 1),
         |qbw AS (SELECT CAST(('0x'||substr(md5(term),1,15)) AS BIGINT) % 64 AS b,
         |    CAST(sum(tf * (n_docs - df)) AS BIGINT) AS num
         |  FROM qtf JOIN df USING (term) CROSS JOIN nd GROUP BY 1),
         |qv AS (SELECT list(CAST(coalesce(q.num, 0) AS DOUBLE) ORDER BY g.i) AS v
         |  FROM (SELECT unnest(range(0, 64)) AS i) g LEFT JOIN qbw q ON q.b = g.i),
         |sc AS (SELECT a.doc_id,
         |    floor(${sqlDot("a", "b")} /
         |      (sqrt(list_sum(list_transform(range(1,65), i -> a.v[i]*a.v[i]))) *
         |       sqrt(list_sum(list_transform(range(1,65), i -> b.v[i]*b.v[i]))))
         |      *1000000.0+0.5)/1000000.0 AS score
         |  FROM dv a CROSS JOIN qv b
         |  WHERE sqrt(list_sum(list_transform(range(1,65), i -> a.v[i]*a.v[i]))) > 0
         |    AND sqrt(list_sum(list_transform(range(1,65), i -> b.v[i]*b.v[i]))) > 0)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
         |  doc_id, score
         |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      t => CorpusOps.tfidfSearch(t.documents, SearchQuery)),
    // BM25-shaped retrieval: tf saturation + length normalization in
    // integer-cleared arithmetic (44/20/6/18 at k1=1.2, b=0.75),
    // linear idf — one IEEE division per (doc, term), integer sums
    Gate("s53_bm25_search",
      // s53 twin: identical integer-cleared BM25 — same 44/20/6/18
      // coefficients, same single division per (doc, term), same
      // 6-dp integer quantization and integer per-doc sum
      s"""WITH w AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(len) AS BIGINT) AS sl, count(*) AS nd FROM lens),
         |qt AS (SELECT DISTINCT unnest(regexp_extract_all(lower('$SearchQuery'), '[a-z0-9]+')) AS term),
         |m AS (SELECT tf.doc_id,
         |  CAST(floor(
         |    (44.0*(nd-df)*tf*sl) / (20.0*tf*sl + 6.0*sl + 18.0*len*nd)
         |    * 1000000.0 + 0.5) AS BIGINT) AS ts
         |  FROM tf JOIN qt USING (term) JOIN df USING (term)
         |    JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN tot),
         |s AS (SELECT doc_id, CAST(sum(ts) AS DOUBLE)/1000000.0 AS score
         |  FROM m GROUP BY 1)
         |SELECT rnk, doc_id, score FROM (
         |  SELECT doc_id, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
         |  FROM s)
         |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
      t => CorpusOps.bm25Search(t.documents, SearchQuery)),
    // embedding-free topic clustering: hashed tf-idf vectors assigned
    // to their argmax-cosine seed centroid (first-8-docs contract,
    // the s42 shape) — the cluster-balanced-curation primitive with
    // no model in the loop; zero-norm vectors excluded on both sides
    Gate("s56_topic_clusters",
      // s56 twin: the s47 vector CTEs + the s42 assignment shape —
      // seed centroids are the first 8 non-zero-norm docs' vectors,
      // cosine is the sequential-fold dot over both lists, argmax by
      // (sim DESC, cid), quantized to 6 dp in the output
      s"""WITH $topicClusterCtes
         |SELECT doc_id, cid, floor(sim*1000000.0+0.5)/1000000.0 AS cos
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      t => CorpusOps.topicClusters(t.documents)),
    // cluster-balanced sampling: the t52 deterministic content-hash
    // quota with s56's TOPIC assignment as the stratum — every
    // cluster contributes equally to a budgeted subsample
    Gate("t109_cluster_sample",
      // t109 twin: the s56 assignment CTEs as the stratum for the t52
      // rank rule — per-CLUSTER content-hash selection (the pre-filter
      // is lossless, so the twin ranks everything per cid)
      s"""WITH $topicClusterCtes,
         |asg AS (SELECT doc_id, cid FROM r WHERE rn = 1),
         |hh AS (SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
         |  FROM documents),
         |j AS (SELECT asg.cid, asg.doc_id, hh.h FROM asg JOIN hh USING (doc_id))
         |SELECT cid, rnk, doc_id, h FROM (
         |  SELECT cid, doc_id, h,
         |    CAST(row_number() OVER (PARTITION BY cid ORDER BY h, doc_id) AS BIGINT) AS rnk
         |  FROM j) WHERE rnk <= 5 ORDER BY cid, rnk""".stripMargin,
      t => CorpusOps.clusterBalancedSample(t.documents)),
    // BM25 batch serving: a 3-query TABLE scored in one corpus pass —
    // tf/lens/totals computed once, the per-query df table broadcast
    // onto the shared tf frame, per-query top-k by a partitioned rank
    // window. The single-query s53 path delegates to this form.
    Gate("s55_bm25_batch",
      // s55 twin: the s53 arithmetic with query_id carried through —
      // VALUES query table, per-query rank window, same 44/20/6/18
      // integer-cleared scoring and 6-dp quantization
      bm25BatchSql,
      t => { val s = t.spark
        import s.implicits._
        CorpusOps.bm25SearchBatch(
          t.documents, BatchQueries.toDF("query_id", "qtext")) }),
    // incremental search-index maintenance: two shard indexes merged
    // (disjoint unions + integer totals) serve the same batch
    // queries; twin = s55's full-corpus SQL verbatim, so the merge
    // must shift df/idf/length-norm corpus-wide exactly as a rebuild
    Gate("t117_incremental_bm25",
      // t117 twin: s55's full-corpus SQL verbatim — the merged shard
      // indexes must serve identical rankings to a one-shot build
      bm25BatchSql,
      t => { val s = t.spark
        import s.implicits._
        import org.apache.spark.sql.functions.col
        val idx = CorpusOps.mergeBm25Index(
          CorpusOps.bm25IndexFrames(t.documents.filter(col("doc_id") < 250)),
          CorpusOps.bm25IndexFrames(t.documents.filter(col("doc_id") >= 250)))
        CorpusOps.bm25SearchIndexed(
          BatchQueries.toDF("query_id", "qtext"), idx) }),
    // count-min sketch heavy hitters: word-bigram occurrences →
    // (d, bucket) counters → min-over-depth estimates for a sampled
    // candidate slice; the twin recomputes the identical sketch (the
    // md5-prefix bucket hash is the engine-portable minhash pattern)
    Gate("t84_cms_heavy_hitters",
      // CMS twin: the identical sketch — same salted md5-prefix bucket
      // hash ('d:' || gram, 60-bit '0x' cast ≡ Spark's conv(hex,16,10)),
      // same (d, bucket) counters over bigram OCCURRENCES, same sampled
      // candidate slice, min-over-depth estimate, threshold 30
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |occ AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))) AS gram
         |  FROM t WHERE len(tk) >= 2),
         |dd AS (SELECT unnest(range(0, 4)) AS d),
         |sk AS (SELECT d,
         |    CAST(('0x'||substr(md5(d::VARCHAR||':'||gram),1,15)) AS BIGINT) % 2048 AS bucket,
         |    count(*) AS cnt
         |  FROM occ, dd GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT gram FROM occ WHERE doc_id % 20 = 0),
         |probe AS (SELECT gram, d,
         |    CAST(('0x'||substr(md5(d::VARCHAR||':'||gram),1,15)) AS BIGINT) % 2048 AS bucket
         |  FROM cand, dd),
         |est AS (SELECT p.gram, min(s.cnt) AS est
         |  FROM probe p JOIN sk s ON s.d = p.d AND s.bucket = p.bucket GROUP BY 1)
         |SELECT gram, est FROM est WHERE est >= 30 ORDER BY gram""".stripMargin,
      t => CorpusOps.cmsHeavyHitters(t.documents, threshold = 30L)),
    // BPE tokenizer APPLICATION under a REAL hash gate: iterative
    // greedy segmentation with data-dependent merges is not
    // ANSI-SQL-expressible, so the gate encodes the golden fixture
    // (four planted docs) under a FIXED 10-merge table whose output is
    // hand-derivable — the twin is the expected VALUES frame (t93/q41
    // pattern; CorpusOps.goldenBpeFixture scaladoc walks the
    // derivation). Exercises the full library path: tokenize →
    // word-type table → batched merge composition → corpus reassembly.
    // The trained full-corpus encode stays spec-covered (CorpusOpsSpec
    // round-trip vs bpeTrain + reference-encoder differential).
    Gate("t85_bpe_encode",
      // t85 twin: the GOLDEN encode frame — four planted docs under the
      // fixed 10-merge table, hand-derived in CorpusOps.goldenBpeFixture's
      // scaladoc. Any drift in tokenization, rank-ordered merge
      // application, greedy-leftmost overlap handling ("aaa" → [aa, a]),
      // or positional document reassembly breaks the hash match.
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(5 AS BIGINT), 'low low er low est'),
        | (2, 5, 'new new est new s'),
        | (3, 5, 'wid e wid est low'),
        | (4, 12, 'aa a a b a b b a n a n a')
        |) AS t(doc_id, n_tokens, tokens_str) ORDER BY doc_id""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.{col, concat_ws}
        CorpusOps.bpeEncode(
            CorpusOps.goldenBpeFixture(s), CorpusOps.goldenBpeMerges)
          .select(col("doc_id"), col("n_tokens"),
            concat_ws(" ", col("tokens")).as("tokens_str")) }),
    // URL canonicalization + URL-level dedup over a planted raw-URL
    // corpus (no URL column in the fixtures) that exercises every
    // rule: case, www, default port, trailing slash, tracking
    // params, fragment. 5 crawls per canonical URL → non-vacuous.
    Gate("t71_url_dedup",
      // URL twins: identical planted construction, identical rule chain
      // (pattern constants interpolated from UrlOps — single source of
      // truth); RE2 and Java agree on every pattern used
      s"""WITH $urlNormCte,
         |m AS (SELECT url_norm, min(doc_id) AS canonical_id FROM n GROUP BY 1)
         |SELECT n.doc_id, n.url_norm, n.domain, m.canonical_id,
         |  n.doc_id <> m.canonical_id AS is_dup
         |FROM n JOIN m USING (url_norm) ORDER BY n.doc_id""".stripMargin,
      t => UrlOps.urlDedup(UrlOps.plantUrls(t.documents))),
    // per-domain crawl stats over the same planted corpus
    Gate("t72_domain_stats",
      s"""WITH $urlNormCte
         |SELECT domain, count(*) AS n_docs,
         |  count(DISTINCT url_norm) AS n_unique_urls
         |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
      t => UrlOps.domainStats(UrlOps.plantUrls(t.documents))),
    // PII redaction; the fixture corpus carries no PII, so docs
    // doc_id ≡ 0 (mod 7) gain a deterministic planted email/phone/IP
    // tail (s38 precedent) — the gate checks real redactions
    Gate("t67_pii_redact",
      // PII twin: identical planted tail, identical pattern constants
      // (interpolated from TextOps — single source of truth), identical
      // email→phone→IP order with counts on the text as redacted so far
      s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' reach user' || doc_id ||
         |    '@mail.example or 555-867-5309 from 10.0.0.' || (doc_id % 250)
         |  ELSE text END AS text FROM documents),
         |e AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |  regexp_replace(text, '${TextOps.EmailRe}', '[EMAIL]', 'g') AS t1 FROM p),
         |ph AS (SELECT doc_id, n_emails,
         |  CAST(len(regexp_extract_all(t1, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(t1, '${TextOps.PhoneRe}', '[PHONE]', 'g') AS t2 FROM e)
         |SELECT doc_id, n_emails, n_phones,
         |  CAST(len(regexp_extract_all(t2, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  regexp_replace(t2, '${TextOps.Ipv4Re}', '[IP]', 'g') AS redacted
         |FROM ph ORDER BY doc_id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions._
        val planted = t.documents.withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"),
            lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example or 555-867-5309 from 10.0.0."),
            (col("doc_id") % 250).cast("string"))).otherwise(col("text")))
        TextOps.redactPii(planted) }),
    // hashed-feature linear classifier serving (fasttext-shaped
    // model-based quality filter): explode → bucket join → mean
    // weight; fixture weights are the deterministic pseudo table
    Gate("t74_classifier_score",
      // classifier twin: same 60-bit md5 feature hash, same integer
      // weight formula (constants from TextOps), same exact long sum
      // with the two divisions + quantize at the end
      s"""WITH w AS (SELECT i AS bucket,
         |  (${TextOps.ClassifierA}*i + ${TextOps.ClassifierB}) % ${TextOps.ClassifierP} AS w_int
         |  FROM (SELECT unnest(range(0, 4096)) AS i)),
         |tk AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 4096 AS bucket
         |  FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)),
         |s AS (SELECT doc_id, count(*) AS n_tokens, sum(w_int) AS s
         |  FROM tk JOIN w USING (bucket) GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  floor((CAST(s AS DOUBLE)/n_tokens/${TextOps.ClassifierP}.0 - 0.5)*10000.0+0.5)/10000.0 AS score,
         |  floor((CAST(s AS DOUBLE)/n_tokens/${TextOps.ClassifierP}.0 - 0.5)*10000.0+0.5)/10000.0 > 0.0 AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
      t => { val s = t.spark
        TextOps.classifierScores(t.documents, TextOps.hashedWeightTable(s)) }),
    Gate("t27_langid",
      s"""WITH t AS (SELECT lang, $toks AS tk FROM documents),
         |s AS (SELECT lang,
         |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(tk, x -> list_contains(['el','la','de','que','los'], x))) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(tk, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(tk, x -> list_contains(['le','les','des','et','est'], x))) AS BIGINT) AS s_fr
         |  FROM t),
         |p AS (SELECT lang,
         |  CASE WHEN greatest(s_en,s_es,s_de,s_fr) > 0 THEN
         |    CASE WHEN s_en = greatest(s_en,s_es,s_de,s_fr) THEN 'en'
         |         WHEN s_es = greatest(s_en,s_es,s_de,s_fr) THEN 'es'
         |         WHEN s_de = greatest(s_en,s_es,s_de,s_fr) THEN 'de'
         |         ELSE 'fr' END
         |  ELSE 'unknown' END AS pred_lang FROM s)
         |SELECT lang, pred_lang, count(*) AS n_docs FROM p GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => TextOps.langIdReport(t.documents)),
    Gate("t28_quality",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
         |  CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
         |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS BIGINT) AS n_stop
         |  FROM t)
         |SELECT doc_id, n_tokens, n_uniq,
         | ${q4("CAST(sum_len AS DOUBLE)/n_tokens")} AS avg_token_len,
         | ${q4("CAST(n_uniq AS DOUBLE)/n_tokens")} AS uniq_ratio,
         | ${q4("CAST(n_stop AS DOUBLE)/n_tokens")} AS stop_ratio,
         | ${q4("CAST(n_uniq AS DOUBLE)/n_tokens*0.5 + least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.3 + (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)*0.2")} AS quality_score
         |FROM m WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,
      t => TextOps.qualityScores(t.documents)),
    Gate("t29_token_counts",
      s"""SELECT source, CAST(sum(n) AS BIGINT) AS total_tokens,
         | ${meanL("n")} AS avg_tokens, count(*) AS n_docs
         |FROM (SELECT source, CAST(len($toks) AS BIGINT) AS n FROM documents)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      t => TextOps.tokenCounts(t.documents)),
    Gate("t30_fingerprints",
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        | n_chars - n_chars % 100 AS len_bucket
        |FROM documents ORDER BY doc_id""".stripMargin,
      t => TextOps.fingerprints(t.documents))
  )

  /** t229 twin builder: BPE merge learning unrolled to `steps`
    * count → top-1 → greedy-apply rounds as materialized chained CTEs
    * — including the run-parity rule for overlapping (l, l) matches
    * (leftmost-greedy merges the even offsets of each maximal run).
    */
  private def bpeUnrolledSql(steps: Int): String = {
    val head =
      s"""WITH s0 AS MATERIALIZED (SELECT doc_id,
         |    CAST(unnest(range(1, len(tk) + 1)) AS BIGINT) AS pos,
         |    unnest(tk) AS tok
         |  FROM (SELECT doc_id, $toks AS tk FROM documents))""".stripMargin
    val rounds = (1 to steps).map { i =>
      val p = i - 1
      s"""w$i AS MATERIALIZED (SELECT a.doc_id, a.pos, a.tok, b.tok AS btok
         |  FROM s$p a LEFT JOIN s$p b
         |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
         |t$i AS MATERIALIZED (SELECT tok AS l, btok AS r, count(*) AS cnt
         |  FROM w$i WHERE btok IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
         |runs$i AS MATERIALIZED (SELECT doc_id, pos,
         |    (pos - min(pos) OVER (PARTITION BY doc_id, island)) % 2 = 0
         |      AS even
         |  FROM (SELECT w.doc_id, w.pos, w.pos - row_number()
         |        OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS island
         |    FROM w$i w CROSS JOIN t$i t
         |    WHERE w.tok = t.l AND t.l = t.r)),
         |st$i AS MATERIALIZED (SELECT w.doc_id, w.pos, w.tok, t.l, t.r,
         |    coalesce(w.tok = t.l AND w.btok = t.r
         |      AND (t.l <> t.r OR coalesce(rs.even, false)), false) AS start
         |  FROM w$i w CROSS JOIN t$i t
         |  LEFT JOIN runs$i rs ON rs.doc_id = w.doc_id AND rs.pos = w.pos),
         |s$i AS MATERIALIZED (SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS BIGINT) AS pos,
         |    CASE WHEN start THEN l || '_' || r ELSE tok END AS tok
         |  FROM st$i x WHERE NOT EXISTS (SELECT 1 FROM st$i y
         |    WHERE y.doc_id = x.doc_id AND y.pos = x.pos - 1 AND y.start))"""
        .stripMargin
    }
    val finals = (1 to steps).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS step, l AS left_tok, r AS right_tok,
         |  CAST(cnt AS BIGINT) AS cnt,
         |  (SELECT count(*) FROM s$i) AS n_tokens_after
         |FROM t$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    (head +: rounds).mkString(",\n") + "\n" + finals + "\nORDER BY step"
  }

  private val chunkStride = TextOps.DefaultChunkWidth - TextOps.DefaultChunkOverlap

  // t114's planted accented tail — uppercase and lowercase accents,
  // typographic dashes/quotes; one constant interpolated into BOTH
  // the Spark plan and the twin SQL
  private val NormPlantTail =
    " Déjà Vu – “Naïve” CAFÉ"
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  // t52/t110 shared twin: deterministic per-source content-hash
  // sample over the FULL corpus (the incremental fold must equal it)
  private lazy val stratSampleSql: String =
    """WITH h AS (SELECT doc_id, source,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
      |  FROM documents)
      |SELECT source, rnk, doc_id, h FROM (
      |  SELECT source, doc_id, h,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rnk
      |  FROM h) WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin

  // s56/t109 shared fragment: hashed tf-idf vectors (the s47 CTEs) →
  // non-zero-norm frame → first-8 seed centroids → argmax-cosine
  // assignment; ends at CTE `r` = (doc_id, cid, sim, rn)
  private lazy val topicClusterCtes: String =
    s"""w AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |bw AS (SELECT doc_id,
       |    CAST(('0x'||substr(md5(term),1,15)) AS BIGINT) % 64 AS b,
       |    CAST(sum(tf * (n_docs - df)) AS BIGINT) AS num
       |  FROM tf JOIN df USING (term) CROSS JOIN nd GROUP BY 1, 2),
       |grid AS (SELECT doc_id, i FROM (SELECT DISTINCT doc_id FROM tf),
       |  (SELECT unnest(range(0, 64)) AS i)),
       |dv AS (SELECT g.doc_id,
       |    list(CAST(coalesce(bw.num, 0) AS DOUBLE) / nd.n_docs ORDER BY g.i) AS v
       |  FROM grid g LEFT JOIN bw ON bw.doc_id = g.doc_id AND bw.b = g.i
       |  CROSS JOIN nd GROUP BY 1),
       |nz AS (SELECT doc_id, v, $sqlNorm AS nrm FROM dv
       |  WHERE $sqlNorm > 0),
       |cents AS (SELECT doc_id AS cid, v, nrm AS cn FROM nz
       |  ORDER BY doc_id LIMIT 8),
       |a AS (SELECT d.doc_id, c.cid,
       |    ${sqlDot("d", "c")} / (d.nrm * c.cn) AS sim
       |  FROM nz d CROSS JOIN cents c),
       |r AS (SELECT doc_id, cid, sim,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, cid) AS rn
       |  FROM a)""".stripMargin

  /** t143/t144 shared planting: one row per distinct part name
    * (keyed by min part key), each entity re-ingested TWICE — first
    * character mangled (+1e6, invisible to a prefix block) and last
    * character mangled (+2e6, invisible to a suffix block) — plus an
    * unmatched md5-named singleton for every 5th entity (+3e6, so the
    * entity-id assignment's no-match arm is non-vacuous). The twin
    * fragment [[fuzzyCte]] plants identically.
    */
  private def fuzzyPlanted(t: graft.core.Tables): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, expr, lit, md5, min, substring}
    val base = t.part.groupBy(col("p_name").as("name"))
      .agg(min("p_partkey").as("key")).select("key", "name")
    base
      .unionByName(base.select((col("key") + 1000000L).as("key"),
        concat(lit("x"), substring(col("name"), 2, 1000)).as("name")))
      .unionByName(base.select((col("key") + 2000000L).as("key"),
        concat(expr("substr(name, 1, length(name)-1)"), lit("x")).as("name")))
      .unionByName(base.filter(col("key") % 5 === 0)
        .select((col("key") + 3000000L).as("key"),
          concat(lit("z"), md5(col("key").cast("string"))).as("name")))
  }

  /** DuckDB twin of [[fuzzyPlanted]] + the two-pass blocked candidate
    * chain — ends at CTE `m` = (key_a, key_b, dist), verified pairs.
    */
  private def fuzzyCte: String =
    """ent AS (SELECT min(p_partkey) AS key, p_name AS name FROM part GROUP BY 2),
      |named AS (SELECT key, name FROM ent
      |  UNION ALL SELECT key + 1000000, 'x' || substr(name, 2) FROM ent
      |  UNION ALL SELECT key + 2000000, substr(name, 1, length(name)-1) || 'x' FROM ent
      |  UNION ALL SELECT key + 3000000, 'z' || md5(CAST(key AS VARCHAR)) FROM ent WHERE key % 5 = 0),
      |b1 AS (SELECT key, name, substr(name, 2) AS b FROM named),
      |b2 AS (SELECT key, name, substr(name, 1, length(name)-1) AS b FROM named),
      |cand AS (
      |  SELECT a.key AS key_a, b.key AS key_b FROM b1 a JOIN b1 b ON a.b = b.b AND a.key < b.key
      |  UNION
      |  SELECT a.key, b.key FROM b2 a JOIN b2 b ON a.b = b.b AND a.key < b.key),
      |m AS (SELECT c.key_a, c.key_b,
      |    CAST(levenshtein(na.name, nb.name) AS BIGINT) AS dist
      |  FROM cand c JOIN named na ON na.key = c.key_a
      |  JOIN named nb ON nb.key = c.key_b
      |  WHERE levenshtein(na.name, nb.name) <= 2)""".stripMargin
}
