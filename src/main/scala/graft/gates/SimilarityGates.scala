package graft.gates

import graft.ops._
import Twins._

/** Similarity search and deduplication (`Similarity`, `Dedup`). */
object SimilarityGates {
  def gates: Seq[Gate] = Seq(
    Gate("t23_dedup_exact", exactDedupSql, t => Dedup.exactDedup(t.documents)),
    Gate("t24_jaccard_pairs",
      s"""WITH w AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toks) AS tok FROM documents)),
         |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1,2)
         |SELECT doc_a, doc_b,
         | ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} AS jac
         |FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
         |WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,
      t => Dedup.jaccardPairs(t.documents)),
    Gate("t25_minhash_lsh",
      // minhash twin: identical affine family — ONE md5 per token
      // (60-bit prefix mod p), then min((a_i·h + b_i) mod p) per
      // signature row, with the seeded coefficients baked in as
      // literals. Bound a·h+b < 2^62: DuckDB BIGINT multiply errors on
      // overflow instead of wrapping, so the 31-bit modulus matters.
      minhashPairsSql,
      t => Dedup.minhashLshPairs(t.documents)),
    Gate("t26_simhash_pairs",
      // SimHash is deterministic md5 bit-math — fully SQL-expressible.
      // DuckDB parses '0x…' hex strings in BIGINT casts; verified equal
      // to Spark's conv(hex,16,10) on the same md5 prefix.
      s"""WITH w AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toks) AS tok FROM documents)),
         |h AS (SELECT doc_id, CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) AS h FROM w),
         |b AS (SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h, (SELECT unnest(range(0,60)) AS j) GROUP BY 1,2),
         |sh AS (SELECT doc_id,
         |  sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END) AS simhash
         |  FROM b GROUP BY 1),
         |chunk AS (SELECT doc_id, simhash, c, (simhash >> (c*15)) & 32767 AS ckey
         |  FROM sh, (SELECT unnest(range(0,4)) AS c)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM chunk a JOIN chunk b
         |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cand
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
      t => Dedup.simhashPairs(t.documents)),
    Gate("t41_ngram_jaccard",
      // word-3-gram shingles; DuckDB list_slice bounds are INCLUSIVE
      // (tk[i:i+2] is 3 tokens) and docs under 3 tokens drop on both
      // sides (empty shingle set can share nothing)
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |s AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS sh
         |  FROM t WHERE len(tk) >= 3),
         |w AS (SELECT DISTINCT doc_id, unnest(sh) AS tok FROM s),
         |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1,2)
         |SELECT doc_a, doc_b,
         | ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} AS jac
         |FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
         |WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,
      t => Dedup.ngramJaccardPairs(t.documents)),
    // set-graph clustering: identical output to
    // dedupClusters(jaccardPairs(...)), propagation over distinct
    // token sets instead of the expanded doc-pair graph
    Gate("t49_dedup_clusters",
      // connected components over the jaccard>=0.6 pair graph, as a
      // recursive transitive closure (min reachable node per doc)
      s"""WITH RECURSIVE
         |w AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toks) AS tok FROM documents)),
         |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1,2),
         |pr AS (SELECT doc_a, doc_b
         |  FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
         |  WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.6),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |      UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (
         |  SELECT src, src FROM e UNION SELECT src, dst FROM e
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
         |SELECT id AS doc_id, min(r) AS cluster_id,
         |  (id = min(r)) AS is_canonical
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      t => Dedup.jaccardClusters(t.documents)),
    Gate("t50_decontaminate",
      // decontamination twin: same stop-shingle cap (df <= 150 over ALL
      // docs), same kept-shingle denominator, same (containment DESC,
      // train_id) tiebreak
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |s0 AS (SELECT doc_id,
         |  unnest(list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' ')))) AS s
         |  FROM t WHERE len(tk) >= 3),
         |keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM s0 GROUP BY 1) WHERE df <= 150),
         |k AS (SELECT s0.doc_id, s0.s FROM s0 JOIN keep USING (s)),
         |tn AS (SELECT doc_id, count(*) AS tn FROM k WHERE doc_id % 20 = 0 GROUP BY 1),
         |inter AS (SELECT a.doc_id AS test_id, b.doc_id AS train_id, count(*) AS inter
         |  FROM k a JOIN k b ON a.s = b.s AND a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0
         |  GROUP BY 1,2),
         |scored AS (SELECT test_id, train_id,
         |  ${q4("CAST(inter AS DOUBLE)/tn.tn")} AS containment
         |  FROM inter JOIN tn ON tn.doc_id = test_id)
         |SELECT test_id AS doc_id, train_id, containment FROM (
         |  SELECT test_id, train_id, containment,
         |    row_number() OVER (PARTITION BY test_id ORDER BY containment DESC, train_id) AS rn
         |  FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      t => Dedup.containmentReport(t.documents)),
    // EXACT 13-gram decontamination (the GPT-3 rule): verbatim-leak
    // flags over a corpus with PLANTED contamination — every train
    // doc ≡1 mod 7 gets the first 13 tokens of its floor-multiple-
    // of-20 eval doc appended, so the exact-hit arm fires beyond the
    // fixture's two natural collisions; the twin builds the identical
    // planted corpus
    Gate("t243_ngram_decontaminate",
      // t243 twin: identical planting, identical 13-gram hit rule
      ngramDecontaminateSql,
      t => {
        import org.apache.spark.sql.functions.{array_join, col, concat, expr, lit, slice}
        val docs = t.documents.select(col("doc_id"), col("text"))
        val evalSpan = docs.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("eid"),
            array_join(slice(graft.ops.TextOps.tokens(col("text")), 1, 13),
              " ").as("span"))
        val toPlant = docs
          .filter(col("doc_id") % 20 =!= 0 && col("doc_id") % 7 === 1)
          .withColumn("eid", expr("(doc_id DIV 20) * 20"))
          .join(evalSpan, "eid")
          .select(col("doc_id"),
            concat(col("text"), lit(" "), col("span")).as("text"))
        val corpus = docs
          .join(toPlant.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(toPlant)
        Dedup.ngramDecontaminate(corpus) }),
    // MOSS-style winnowing-overlap pairs: partial-overlap dedup —
    // any shared >= w+k-1 token run guarantees a shared fingerprint;
    // boilerplate fingerprints df-capped before the pair join
    Gate("t123_winnow_pairs",
      // t123 twin: t62's fingerprint CTEs exploded, the same df cap,
      // pair join and quantized overlap
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |h AS (SELECT doc_id,
         |  list_transform(range(1, len(tk)-1), i -> CAST(('0x'||substr(md5(array_to_string(tk[i:i+2], ' ')),1,15)) AS BIGINT)) AS hs
         |  FROM t WHERE len(tk) >= 3),
         |fp AS (SELECT doc_id,
         |  CASE WHEN len(hs) >= 4
         |    THEN list_distinct(list_transform(range(1, len(hs)-2), i -> list_min(hs[i:i+3])))
         |    ELSE [list_min(hs)] END AS fp
         |  FROM h WHERE len(hs) > 0),
         |x AS (SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp, unnest(fp) AS f FROM fp),
         |keep AS (SELECT f FROM (SELECT f, count(*) AS df FROM x GROUP BY 1) WHERE df <= 150),
         |px AS (SELECT x.doc_id, x.n_fp, x.f FROM x JOIN keep USING (f)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_fp AS na, b.n_fp AS nb,
         |  count(*) AS shared
         |  FROM px a JOIN px b ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b, shared,
         |  floor(CAST(shared AS DOUBLE) / least(na, nb) * 10000.0 + 0.5) / 10000.0 AS overlap
         |FROM pr WHERE shared >= 2 ORDER BY doc_a, doc_b""".stripMargin,
      t => Dedup.winnowPairs(t.documents)),
    // daily-shard incremental corpus build: shard (doc_id ≡ 0 mod 5)
    // dedups against the exact index of the rest, then the identical
    // filter/split/pack tail over shard survivors only. The natural
    // corpus has 500 distinct fingerprints (zero exact dups), so both
    // dedup arms are exercised by PLANTED re-ingestions (s38/t67
    // precedent): history docs (id%9==2) re-arrive in the shard under
    // +1e6 ids — only the INDEX can drop them — and shard docs
    // (id%25==10) arrive twice under +2e6 ids — dropped by the
    // shard-local min rule alone. The twin plants identically; had
    // either arm failed, the extra survivors would shift every
    // offset/count downstream.
    Gate("t86_incremental_corpus_build",
      // incremental-capstone twin: t56's pipeline with dedup restricted
      // the t66 way — history (doc_id % 5 != 0) contributes ONLY its fp
      // set; a shard doc survives iff its fp is new to history and it
      // is the shard's min for that fp; tail verbatim (offsets restart
      // within the shard — finalized shards are immutable). The planted
      // re-ingestions (+1e6 from history, +2e6 intra-shard copies) are
      // constructed identically here; all must be dropped.
      s"""WITH shard0 AS (
         |  SELECT doc_id, source, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 1000000, source, text FROM documents
         |    WHERE doc_id % 5 != 0 AND doc_id % 9 = 2
         |  UNION ALL SELECT doc_id + 2000000, source, text FROM documents
         |    WHERE doc_id % 25 = 10),
         |fp AS (SELECT doc_id, source, text,
         |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM shard0),
         |hist AS (SELECT DISTINCT
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents WHERE doc_id % 5 != 0),
         |shard AS (SELECT * FROM fp),
         |c AS (SELECT fp, min(doc_id) AS canonical_id FROM shard GROUP BY 1),
         |canon AS (SELECT s.doc_id, s.source, s.text, s.fp
         |  FROM shard s JOIN c ON s.fp = c.fp
         |  WHERE s.doc_id = c.canonical_id AND s.fp NOT IN (SELECT fp FROM hist)),
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
      t => {
        import org.apache.spark.sql.functions.col
        val docs = t.documents.select("doc_id", "source", "text")
        val history = docs.filter(col("doc_id") % 5 =!= 0)
        val shard = docs.filter(col("doc_id") % 5 === 0)
          .unionByName(history.filter(col("doc_id") % 9 === 2)
            .withColumn("doc_id", col("doc_id") + 1000000L))
          .unionByName(docs.filter(col("doc_id") % 25 === 10)
            .withColumn("doc_id", col("doc_id") + 2000000L))
        CorpusOps.incrementalCorpusBuild(shard, Dedup.exactDedupIndex(history)) }),
    // t86's NEAR-dup sibling: the shard probes the persisted minhash
    // band index (τ=0.9, the t80 threshold) — shard docs near-duping
    // HISTORY drop (history-authoritative), shard-internal clusters
    // keep their min; the fixture's dup-heavy structure makes both
    // rules fire naturally (≈2.7k cross-history pairs, ≈300 internal
    // at sf0.01), no planting needed
    Gate("t87_incremental_neardup_build",
      // incremental near-dup build twin: t63's banded-LSH incremental
      // candidate rule (≥1 shard side) at τ=0.9, split into the two
      // drop rules — cross-history pairs drop their shard side
      // (history-authoritative), shard-internal pairs close recursively
      // (t80 fragment) and drop non-min members — then t56's tail over
      // shard survivors
      s"""WITH RECURSIVE
         |w AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toks) AS tok FROM documents)),
         |hb AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % $mhP AS h FROM w),
         |sig AS (SELECT doc_id,
         |  ${mhCoeffs.zipWithIndex.map { case ((a, b), i) =>
              s"min(($a*h+$b) % $mhP) AS h$i" }.mkString(",\n         |  ")}
         |  FROM hb GROUP BY 1),
         |band AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id, md5('$b,'||${(4 * b until 4 * b + 4).map(i => s"h$i::VARCHAR").mkString("||','||")})${if (b == 0) " AS k" else ""} FROM sig")
              .mkString(" UNION ALL\n         |  ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b ON a.k = b.k AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
         |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
         |p AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c JOIN w wa ON wa.doc_id = c.doc_a
         |  JOIN w wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok GROUP BY 1,2),
         |pr AS (SELECT p.doc_a, p.doc_b
         |  FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
         |  WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.9),
         |hd AS (SELECT DISTINCT
         |    CASE WHEN doc_a % 5 = 0 AND doc_b % 5 != 0 THEN doc_a ELSE doc_b END AS doc_id
         |  FROM pr WHERE (doc_a % 5 = 0) != (doc_b % 5 = 0)),
         |sp AS (SELECT doc_a, doc_b FROM pr WHERE doc_a % 5 = 0 AND doc_b % 5 = 0),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM sp
         |      UNION SELECT doc_b, doc_a FROM sp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e UNION SELECT src, dst FROM e
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |nc AS (SELECT doc_id FROM cl WHERE doc_id != cluster_id),
         |dropped AS (SELECT doc_id FROM hd UNION SELECT doc_id FROM nc),
         |kept0 AS (SELECT d.doc_id, d.source, d.text,
         |    md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents d
         |  WHERE d.doc_id % 5 = 0
         |    AND d.doc_id NOT IN (SELECT doc_id FROM dropped)),
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
      t => {
        import org.apache.spark.sql.functions.col
        val history = t.documents.filter(col("doc_id") % 5 =!= 0)
        val shard = t.documents.filter(col("doc_id") % 5 === 0)
        CorpusOps.incrementalCorpusBuildNearDup(
          shard, Dedup.minhashIndexFrames(history)) }),
    // decontamination composed with the CONTENT-HASH split (t51's
    // bucket rule): per val/test doc, its most-containing train doc —
    // the leakage report that decides whether an eval set ships
    Gate("t104_split_leakage",
      // t104 twin: t50's containment CTEs with the holdout predicate
      // swapped for t51's content-hash bucket rule (bucket >= 8)
      s"""WITH t AS (SELECT doc_id, $toks AS tk,
         |  CAST(('0x'||substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))),1,4)) AS BIGINT) % 10 AS bucket
         |  FROM documents),
         |s0 AS (SELECT doc_id, bucket >= 8 AS is_test,
         |  unnest(list_distinct(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' ')))) AS s
         |  FROM t WHERE len(tk) >= 3),
         |keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM s0 GROUP BY 1) WHERE df <= 150),
         |k AS (SELECT s0.doc_id, s0.is_test, s0.s FROM s0 JOIN keep USING (s)),
         |tn AS (SELECT doc_id, count(*) AS tn FROM k WHERE is_test GROUP BY 1),
         |inter AS (SELECT a.doc_id AS test_id, b.doc_id AS train_id, count(*) AS inter
         |  FROM k a JOIN k b ON a.s = b.s AND a.is_test AND NOT b.is_test
         |  GROUP BY 1,2),
         |scored AS (SELECT test_id, train_id,
         |  ${q4("CAST(inter AS DOUBLE)/tn.tn")} AS containment
         |  FROM inter JOIN tn ON tn.doc_id = test_id)
         |SELECT test_id AS doc_id, train_id, containment FROM (
         |  SELECT test_id, train_id, containment,
         |    row_number() OVER (PARTITION BY test_id ORDER BY containment DESC, train_id) AS rn
         |  FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, conv, substring}
        val bucket = conv(substring(TextOps.fingerprint(col("text")), 1, 4), 16, 10)
          .cast("long") % 10
        Dedup.containmentReportWhere(t.documents, bucket >= 8) }),
    // FUZZY decontamination across the same content-hash split: train
    // docs minhash-banded against val/test docs ONLY (within-split
    // pairs unrepresentable) — catches the paraphrase-level
    // contamination exact shingle containment (t104) misses
    Gate("t107_cross_decontaminate",
      // t107 twin: the t25 minhash recompute with the candidate join
      // RESTRICTED to train-side × eval-side under the t104 bucket rule
      // — same affine family, band keys, and quantized Jaccard verify;
      // within-split pairs must be absent by construction
      s"""WITH base AS (SELECT doc_id, $toks AS tk,
         |  CAST(('0x'||substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))),1,4)) AS BIGINT) % 10 AS bucket
         |  FROM documents),
         |w AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest(tk) AS tok FROM base)),
         |hb AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % $mhP AS h FROM w),
         |sig AS (SELECT doc_id,
         |  ${mhCoeffs.zipWithIndex.map { case ((a, b), i) =>
            s"min(($a*h+$b) % $mhP) AS h$i" }.mkString(",\n         |  ")}
         |  FROM hb GROUP BY 1),
         |band AS (
         |  ${(0 until 4).map(b =>
            s"SELECT doc_id, $b${if (b == 0) " AS b" else ""}, md5(${(4 * b until 4 * b + 4).map(i => s"h$i::VARCHAR").mkString("||','||")})${if (b == 0) " AS k" else ""} FROM sig")
            .mkString(" UNION ALL\n         |  ")}),
         |side AS (SELECT doc_id, bucket FROM base),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b ON a.b = b.b AND a.k = b.k
         |  JOIN side sa ON sa.doc_id = a.doc_id
         |  JOIN side sb ON sb.doc_id = b.doc_id
         |  WHERE sa.bucket < 8 AND sb.bucket >= 8),
         |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
         |p AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c JOIN w wa ON wa.doc_id = c.doc_a
         |  JOIN w wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok GROUP BY 1,2)
         |SELECT p.doc_a AS train_id, p.doc_b AS eval_id,
         | ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} AS jac
         |FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
         |WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.5
         |ORDER BY train_id, eval_id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.{col, conv, substring}
        val bucket = conv(substring(TextOps.fingerprint(col("text")), 1, 4), 16, 10)
          .cast("long") % 10
        Dedup.crossNearDups(
          t.documents.filter(bucket < 8),
          t.documents.filter(bucket >= 8)) }),
    // incremental dedup: a new shard (doc_id ≡ 0 mod 5) probes a
    // minhash index built from the REST of the corpus — old×old work
    // is unrepresentable in the plan. The twin recomputes the full
    // LSH and restricts to pairs with ≥1 new side: equal by
    // construction (same band rule, same exact verify).
    Gate("t63_incremental_dedup",
      // incremental-dedup twin: the SAME affine family and band rule as
      // t25, but the band index is folded INTO the key (md5("b,h..")) —
      // one-column candidate join — and candidacy requires ≥1 side in
      // the new shard (doc_id ≡ 0 mod 5). A full recompute restricted
      // this way equals the incremental new×(old∪new) probe exactly.
      s"""WITH w AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toks) AS tok FROM documents)),
         |hb AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % $mhP AS h FROM w),
         |sig AS (SELECT doc_id,
         |  ${mhCoeffs.zipWithIndex.map { case ((a, b), i) =>
              s"min(($a*h+$b) % $mhP) AS h$i" }.mkString(",\n         |  ")}
         |  FROM hb GROUP BY 1),
         |band AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id, md5('$b,'||${(4 * b until 4 * b + 4).map(i => s"h$i::VARCHAR").mkString("||','||")})${if (b == 0) " AS k" else ""} FROM sig")
              .mkString(" UNION ALL\n         |  ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b ON a.k = b.k AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
         |n AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
         |p AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c JOIN w wa ON wa.doc_id = c.doc_a
         |  JOIN w wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok GROUP BY 1,2)
         |SELECT p.doc_a, p.doc_b,
         | ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} AS jac
         |FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b
         |WHERE ${q4("CAST(inter AS DOUBLE)/(na.n+nb.n-inter)")} >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val newShard = t.documents.filter(col("doc_id") % 5 === 0)
        val history = t.documents.filter(col("doc_id") % 5 =!= 0)
        Dedup.incrementalMinhashPairs(newShard, Dedup.minhashIndexFrames(history)) }),
    // incremental EXACT dedup on the same old/new split: the shard's
    // canonical ids resolve against a (fp, canonical) index without
    // rescanning history documents
    Gate("t66_incremental_exact",
      // incremental-exact twin: the full recompute restricted to new
      // rows — the global min per fingerprint decomposes into
      // least(indexed canonical, shard minimum), so both forms agree
      """WITH fp AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents),
        |c AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY 1)
        |SELECT f.doc_id, c.canonical_id, f.doc_id <> c.canonical_id AS is_dup
        |FROM fp f JOIN c ON f.fp = c.fp WHERE f.doc_id % 5 = 0
        |ORDER BY f.doc_id""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val newShard = t.documents.filter(col("doc_id") % 5 === 0)
        val history = t.documents.filter(col("doc_id") % 5 =!= 0)
        Dedup.incrementalExactDedup(newShard, Dedup.exactDedupIndex(history)) }),
    // exact duplicated-substring spans (Lee et al. 2022 workflow as
    // relational passes): >1-occurrence token 5-grams mark positions,
    // adjacent marks merge into maximal spans
    Gate("t69_substring_dedup",
      // duplicated-substring twin: same 5-gram unit (space-joined md5),
      // same >1-occurrence rule, same gaps-and-islands merge
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(array_to_string(t[i:i+4], ' ')) AS gfp
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-5+2)) AS i) u
        |  WHERE len(t) >= 5),
        |d AS (SELECT gfp FROM g GROUP BY gfp HAVING count(*) > 1),
        |h AS (SELECT doc_id, pos FROM g JOIN d USING (gfp)),
        |isl AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM h)
        |SELECT doc_id, min(pos) AS span_start, count(*) AS n_grams,
        |  max(pos)-min(pos)+5 AS span_tokens
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,
      t => Dedup.duplicatedSpans(t.documents)),
    // the removal half of the same workflow: duplicated-span tokens
    // stripped, documents rebuilt from survivors
    Gate("t82_substring_removal",
      // removal twin: t69's span CTEs → covered token positions
      // (adjacent islands CAN overlap in token space → DISTINCT) →
      // anti-join → ordered reassembly; sub-k-gram docs pass untouched
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(array_to_string(t[i:i+4], ' ')) AS gfp
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-5+2)) AS i) u
        |  WHERE len(t) >= 5),
        |d AS (SELECT gfp FROM g GROUP BY gfp HAVING count(*) > 1),
        |h AS (SELECT doc_id, pos FROM g JOIN d USING (gfp)),
        |isl AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM h),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos)-min(pos)+5 AS n
        |  FROM isl GROUP BY doc_id, grp),
        |cov AS (SELECT DISTINCT doc_id, CAST(s + u.i AS BIGINT) AS pos
        |  FROM sp, LATERAL (SELECT unnest(range(0, n)) AS i) u),
        |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i) u),
        |kept AS (SELECT p.doc_id, p.pos, p.tok FROM p ANTI JOIN cov
        |  ON cov.doc_id = p.doc_id AND cov.pos = p.pos),
        |nt AS (SELECT doc_id, count(*) AS n_tokens FROM p GROUP BY 1),
        |k2 AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY 1)
        |SELECT nt.doc_id, nt.n_tokens,
        |  nt.n_tokens - coalesce(k2.n_kept, 0) AS n_removed,
        |  coalesce(k2.clean_text, '') AS clean_text
        |FROM nt LEFT JOIN k2 ON k2.doc_id = nt.doc_id
        |ORDER BY nt.doc_id""".stripMargin,
      t => Dedup.removeDuplicatedSpans(t.documents)),
    // MMR diversified rerank: greedy λ·rel − (1−λ)·max-sim selection
    // over the bounded s31 top-10 candidate set — the serving-tier
    // diversification that stops k near-paraphrases of the best hit
    Gate("s59_mmr_rerank",
      // s48 twin: s31's brute-force CTEs and s35's IVF CTEs verbatim,
      // then recall = |overlap| / k per ground-truth query with the one
      // deferred IEEE division (Exact.quant6's floor(x·1e6+0.5)/1e6).
      // Left join keeps silently-missed queries at recall 0.
      s59Sql,
      t => Similarity.mmrRerankTop(t.embeddings)),
    // BATCH MMR serving: three queries' top-10 candidate sets
    // diversified in ONE k-round composition — per-query argmax is a
    // partitioned window, so a million-query batch costs the same k
    // jobs as one query (the s55 batch treatment; s59 delegates here)
    Gate("s60_mmr_rerank_batch", s60Sql, t => Similarity.mmrRerankTopBatch(t.embeddings)),
    // seeded JL random projection (64→16, 4× memory/compute cut):
    // brute-force cosine top-k in the PROJECTED space — projections
    // bit-reproducible from the seeded hyperplane constants
    Gate("s57_projected_topk",
      // s57 twin: the projection chain + the s31 top-k shape at 16 dims
      s"""WITH $projChainCtes
         |SELECT query_id, rnk, vec_id, cos FROM pf
         |ORDER BY query_id, rnk""".stripMargin,
      t => Similarity.projectedTopK(t.embeddings)),
    // the recall eval for the projection trade: projected top-5 vs
    // the full-precision ground truth, per query
    Gate("s58_projected_recall",
      // s58 twin: s31's brute-force top-5 (the ground truth) overlapped
      // with the projected top-5 — the s48 recall-select shape
      s"""WITH $projChainCtes,
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e0),
         |bd AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
         |  list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i])) AS dp
         |  FROM e0 a JOIN e0 b ON a.vec_id < 5 AND b.vec_id >= 5),
         |br AS (SELECT qid AS query_id, cid AS vec_id,
         |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM bd JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = cid),
         |bf AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM br) WHERE rnk <= 5),
         |h AS (SELECT b.query_id, count(*) AS hits FROM bf b
         |  JOIN pf a ON a.query_id = b.query_id AND a.vec_id = b.vec_id
         |  GROUP BY 1)
         |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  floor(CAST(COALESCE(h.hits, 0) AS DOUBLE)/CAST(5.0 AS DOUBLE)*1000000.0+0.5)/1000000.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM bf) q
         |LEFT JOIN h ON h.query_id = q.query_id ORDER BY q.query_id""".stripMargin,
      t => {
        Similarity.recallAtK(
        Similarity.cosineTopK(t.embeddings),
        Similarity.projectedTopK(t.embeddings)) }),
    // ANN eval harness: recall@k of the seed-centroid IVF (nProbe=4)
    // against the brute-force ground truth — the measurement that
    // gates any recall-for-speed trade before it ships. Twin composes
    // s31's and s35's SQL verbatim and counts the overlap.
    Gate("s48_ivf_recall",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |bd AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ${sqlDot("a", "b")} AS dp
         |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id >= 5),
         |br AS (SELECT qid AS query_id, cid AS vec_id,
         |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM bd JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = cid),
         |bf AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM br) WHERE rnk <= 5),
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
         |sc AS (SELECT DISTINCT query_id, a.vec_id,
         |  floor(list_sum(list_transform(range(1,65), j -> qv[j]*a.v[j]))/(qn*a.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM qp JOIN asg a ON qp.cid = a.cid),
         |ivf AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM sc) WHERE rnk <= 5),
         |h AS (SELECT b.query_id, count(*) AS hits FROM bf b
         |  JOIN ivf a ON a.query_id = b.query_id AND a.vec_id = b.vec_id
         |  GROUP BY 1)
         |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  floor(CAST(COALESCE(h.hits, 0) AS DOUBLE)/CAST(5.0 AS DOUBLE)*1000000.0+0.5)/1000000.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM bf) q
         |LEFT JOIN h ON h.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin,
      t => {
        Similarity.recallAtK(
        Similarity.cosineTopK(t.embeddings),
        Similarity.ivfTopK(t.embeddings, kmeansIters = 0)) }),
    // product-quantization serving: 8 codes × 16 seed codewords per
    // vector (4 B vs 256 B fp32), queries score codebook
    // reconstructions — ADC as a broadcast join + top-k window
    Gate("s49_pq_topk",
      // s49 twin: same seed codebook (first 16 corpus vectors sliced
      // into 8 subvectors of 8), same sequential-fold squared-L2 argmin
      // with cid tiebreak, reconstructions re-assembled in subspace
      // order; then s31's broadcast-query top-k over the
      // reconstructions (query side full precision — ADC)
      s"""WITH $s49CandCtes
         |SELECT query_id, rnk, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
      t => Similarity.pqTopK(t.embeddings)),
    // IVF-PQ: the billion-scale serving layout — coarse seed cells
    // restrict which vectors a query scores (nProbe=4 of 16), PQ
    // reconstructions decide how (ADC); full-probe == s49 by spec
    Gate("s50_ivfpq_topk",
      // s50 twin: s48's coarse-cell CTEs (full-precision seed-centroid
      // assignment + nProbe=4 query probes) composed with s49's
      // reconstruction CTEs — probed cells join the PQ-scored side
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |ev AS (SELECT e.vec_id, e.v, nr.nrm FROM e JOIN nr ON nr.vec_id = e.vec_id),
         |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev
         |  WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT c.vec_id, ct.cid,
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
         |cs AS (SELECT cid, j, cv[j*8+1:j*8+8] AS scv
         |  FROM cent, LATERAL (SELECT unnest(range(0, 8)) AS j) u),
         |xs AS (SELECT vec_id, j, v[j*8+1:j*8+8] AS sv
         |  FROM e, LATERAL (SELECT unnest(range(0, 8)) AS j) u
         |  WHERE vec_id >= 5),
         |code AS (SELECT vec_id, j, cid FROM (
         |  SELECT xs.vec_id, xs.j, cs.cid,
         |    row_number() OVER (PARTITION BY xs.vec_id, xs.j ORDER BY
         |      list_sum(list_transform(range(1, 9), i -> (sv[i]-scv[i])*(sv[i]-scv[i]))),
         |      cs.cid) AS rn
         |  FROM xs JOIN cs ON cs.j = xs.j) WHERE rn = 1),
         |rec AS (SELECT c.vec_id, flatten(list(cs.scv ORDER BY c.j)) AS rv
         |  FROM code c JOIN cs ON cs.j = c.j AND cs.cid = c.cid GROUP BY 1),
         |rn2 AS (SELECT vec_id, rv,
         |  sqrt(list_sum(list_transform(range(1, 65), i -> rv[i]*rv[i]))) AS rnrm
         |  FROM rec),
         |sc AS (SELECT DISTINCT qp.query_id, a.vec_id,
         |  floor(list_sum(list_transform(range(1, 65), i -> qp.qv[i]*r.rv[i]))
         |    /(qp.qn*r.rnrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM qp JOIN asg a ON a.cid = qp.cid JOIN rn2 r ON r.vec_id = a.vec_id)
         |SELECT query_id, rnk, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
      t => Similarity.ivfPqTopK(t.embeddings)),
    // the s48 eval harness pointed at the PQ path: recall@k of ADC
    // serving against the brute-force ground truth — the memory-for-
    // recall trade measured, not guessed
    Gate("s51_pq_recall",
      // s51 twin: s48's brute-force CTEs + s49's PQ CTEs verbatim, then
      // the same hits/recall tail (left join keeps missed queries at 0)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |bd AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ${sqlDot("a", "b")} AS dp
         |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id >= 5),
         |br AS (SELECT qid AS query_id, cid AS vec_id,
         |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM bd JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = cid),
         |bf AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM br) WHERE rnk <= 5),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |  WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |cs AS (SELECT cid, j, cv[j*8+1:j*8+8] AS scv
         |  FROM cent, LATERAL (SELECT unnest(range(0, 8)) AS j) u),
         |xs AS (SELECT vec_id, j, v[j*8+1:j*8+8] AS sv
         |  FROM e, LATERAL (SELECT unnest(range(0, 8)) AS j) u
         |  WHERE vec_id >= 5),
         |code AS (SELECT vec_id, j, cid FROM (
         |  SELECT xs.vec_id, xs.j, cs.cid,
         |    row_number() OVER (PARTITION BY xs.vec_id, xs.j ORDER BY
         |      list_sum(list_transform(range(1, 9), i -> (sv[i]-scv[i])*(sv[i]-scv[i]))),
         |      cs.cid) AS rn
         |  FROM xs JOIN cs ON cs.j = xs.j) WHERE rn = 1),
         |rec AS (SELECT c.vec_id, flatten(list(cs.scv ORDER BY c.j)) AS rv
         |  FROM code c JOIN cs ON cs.j = c.j AND cs.cid = c.cid GROUP BY 1),
         |rn2 AS (SELECT vec_id, rv,
         |  sqrt(list_sum(list_transform(range(1, 65), i -> rv[i]*rv[i]))) AS rnrm
         |  FROM rec),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |  sqrt(list_sum(list_transform(range(1, 65), i -> v[i]*v[i]))) AS qn
         |  FROM e WHERE vec_id < 5),
         |psc AS (SELECT query_id, r.vec_id,
         |  floor(list_sum(list_transform(range(1, 65), i -> qv[i]*r.rv[i]))
         |    /(qn*r.rnrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM q CROSS JOIN rn2 r),
         |pq AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM psc) WHERE rnk <= 5),
         |h AS (SELECT b.query_id, count(*) AS hits FROM bf b
         |  JOIN pq a ON a.query_id = b.query_id AND a.vec_id = b.vec_id
         |  GROUP BY 1)
         |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  floor(CAST(COALESCE(h.hits, 0) AS DOUBLE)/CAST(5.0 AS DOUBLE)*1000000.0+0.5)/1000000.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM bf) q
         |LEFT JOIN h ON h.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin,
      t => {
        Similarity.recallAtK(
        Similarity.cosineTopK(t.embeddings),
        Similarity.pqTopK(t.embeddings)) }),
    // PQ with LLOYD-TRAINED codebooks (the Jégou-paper production
    // form): each subspace independently refines its 16 seed
    // codewords by one squared-L2 k-means sweep with Exact-mean
    // arithmetic, then the s49 ADC serving tail — the twin unrolls
    // the sweep (s36/s44 precedent), so drift in assignment metric,
    // tie-breaks, or mean arithmetic breaks the hash
    Gate("s54_pq_trained_topk",
      // s54 twin: s49's CTEs with ONE unrolled per-subspace Lloyd sweep
      // between seed and encode — assign every corpus subvector to its
      // nearest seed codeword (sequential-fold squared-L2, cid
      // tiebreak), rebuild each surviving (j, cid) codeword
      // component-wise with the exact-mean arithmetic (cmean — the
      // s36Iter precedent, per subspace), then the s49 encode/
      // reconstruct/serve tail against the refined codewords
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |  WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
         |cs0 AS (SELECT cid, j, cv[j*8+1:j*8+8] AS scv
         |  FROM cent, LATERAL (SELECT unnest(range(0, 8)) AS j) u),
         |xs AS (SELECT vec_id, j, v[j*8+1:j*8+8] AS sv
         |  FROM e, LATERAL (SELECT unnest(range(0, 8)) AS j) u
         |  WHERE vec_id >= 5),
         |a1 AS (SELECT j, cid, sv FROM (
         |  SELECT xs.j, cs0.cid, xs.sv,
         |    row_number() OVER (PARTITION BY xs.vec_id, xs.j ORDER BY
         |      list_sum(list_transform(range(1, 9), i -> (sv[i]-scv[i])*(sv[i]-scv[i]))),
         |      cs0.cid) AS rn
         |  FROM xs JOIN cs0 ON cs0.j = xs.j) WHERE rn = 1),
         |m1 AS (SELECT j, cid, pos, ${cmean("val")} AS m
         |  FROM (SELECT j, cid, i AS pos, sv[i] AS val
         |    FROM a1, (SELECT unnest(range(1, 9)) AS i))
         |  GROUP BY 1, 2, 3),
         |cs AS (SELECT j, cid, list(m ORDER BY pos) AS scv FROM m1 GROUP BY 1, 2),
         |code AS (SELECT vec_id, j, cid FROM (
         |  SELECT xs.vec_id, xs.j, cs.cid,
         |    row_number() OVER (PARTITION BY xs.vec_id, xs.j ORDER BY
         |      list_sum(list_transform(range(1, 9), i -> (sv[i]-scv[i])*(sv[i]-scv[i]))),
         |      cs.cid) AS rn
         |  FROM xs JOIN cs ON cs.j = xs.j) WHERE rn = 1),
         |rec AS (SELECT c.vec_id, flatten(list(cs.scv ORDER BY c.j)) AS rv
         |  FROM code c JOIN cs ON cs.j = c.j AND cs.cid = c.cid GROUP BY 1),
         |rn2 AS (SELECT vec_id, rv,
         |  sqrt(list_sum(list_transform(range(1, 65), i -> rv[i]*rv[i]))) AS rnrm
         |  FROM rec),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |  sqrt(list_sum(list_transform(range(1, 65), i -> v[i]*v[i]))) AS qn
         |  FROM e WHERE vec_id < 5),
         |sc AS (SELECT query_id, r.vec_id,
         |  floor(list_sum(list_transform(range(1, 65), i -> qv[i]*r.rv[i]))
         |    /(qn*r.rnrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM q CROSS JOIN rn2 r)
         |SELECT query_id, rnk, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
      t => Similarity.pqTopKTrained(t.embeddings)),
    // vector ANALYZE: per-dimension count / exact mean / min / max /
    // dead-component count — t81's sibling for the array column its
    // scalar profile skips
    Gate("s52_embedding_profile",
      // s52 twin: same per-dimension explode, same order-independent
      // quantized-decimal mean (Exact.meanOf6's documented SQL twin)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |x AS (SELECT i AS dim, v[i] AS x
         |  FROM e, LATERAL (SELECT unnest(range(1, 65)) AS i) u)
         |SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
         |  floor(CAST(sum(CAST(floor(x*1000000.0+0.5) AS DECIMAL(18,0))) AS DOUBLE)
         |    /1000000.0/count(*)*1000000.0+0.5)/1000000.0 AS m,
         |  min(x) AS mn, max(x) AS mx,
         |  CAST(sum(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
      t => Similarity.embeddingProfile(t.embeddings)),
    // paragraph-level dedup (Dolma/CCNet): the gate texts are single
    // blocks, so deterministic paragraph structure — shared
    // boilerplate chrome between content halves — is planted in-query
    // (s38/t67 precedent) and the twin rebuilds the same corpus
    Gate("t70_paragraph_dedup",
      // paragraph-dedup twin: identical planted corpus (constants
      // interpolated from Dedup.BoilerParagraphs — single source of
      // truth), identical first-occurrence rule ((doc_id, pos)
      // lexicographic min per paragraph md5), identical reassembly
      paragraphDedupSql(""),
      t => Dedup.paragraphDedup(Dedup.plantParagraphs(t.documents))),
    // incremental paragraph dedup: the shard (doc_id ≡ 0 mod 5)
    // resolves against a first-occurrence index of the rest — global
    // firsts decompose as least(indexed, shard-local), so the twin is
    // t70's full recompute restricted to shard docs
    Gate("t75_incremental_paragraphs",
      // incremental twin: the full recompute restricted to shard docs —
      // kept flags are computed over ALL occurrences, only the output
      // docs are filtered (= least(indexed, local) decomposition)
      paragraphDedupSql("WHERE doc_id % 5 = 0"),
      t => {
        import org.apache.spark.sql.functions.col
        val planted = Dedup.plantParagraphs(t.documents)
        Dedup.incrementalParagraphDedup(
          planted.filter(col("doc_id") % 5 === 0),
          Dedup.paragraphIndex(planted.filter(col("doc_id") % 5 =!= 0))) }),
    // label centroids: the vector-centroid capability under the gate
    // (order-independent exact means, unlike the pipeline Aggregator)
    Gate("s37_label_centroids",
      // centroid twin: parallel unnests zip dims with components; the
      // per-component mean is cmean (order-independent, engine-exact)
      s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |x AS (SELECT label, unnest(range(1,65)) AS dim, unnest(v) AS x FROM e)
         |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
         | ${cmean("x")} AS m, count(*) AS n
         |FROM x GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      t => Similarity.labelCentroids(t.embeddings)),
    Gate("s31_cosine_topk", cosineTopKSql, t => Similarity.cosineTopK(t.embeddings)),
    Gate("s32_embedding_neardup",
      // Twin of the sign-sketch banded-LSH near-dup: the candidate rule
      // (4 bands × 16 sign bits, hamming ≤ 2 probes) is replicated
      // exactly, so Spark and the oracle agree by construction at any
      // recall level. Sign bits are float comparisons — no arithmetic,
      // no ulp hazard.
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |x AS (SELECT vec_id, i, v[i] AS val FROM e, (SELECT unnest(range(1,65)) AS i)),
         |keys AS (SELECT vec_id, CAST((i-1)//16 AS INT) AS band,
         |  sum(CASE WHEN val > 0 THEN 1::BIGINT << ((i-1)%16) ELSE 0::BIGINT END) AS bkey
         |  FROM x GROUP BY 1,2),
         |probes AS (SELECT vec_id, band, xor(bkey, pm.m) AS pkey
         |  FROM keys CROSS JOIN (SELECT unnest([${Similarity.probeMasks(16).mkString(",")}]) AS m) pm),
         |cand AS (SELECT DISTINCT p.vec_id AS vec_a, k.vec_id AS vec_b
         |  FROM probes p JOIN keys k
         |  ON p.band = k.band AND p.pkey = k.bkey AND p.vec_id < k.vec_id),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |d AS (SELECT c.vec_a, c.vec_b, ${sqlDot("a", "b")} AS dp
         |  FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b),
         |r AS (SELECT vec_a, vec_b,
         |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM d JOIN nr na ON na.vec_id = vec_a JOIN nr nb ON nb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos FROM r WHERE cos >= 0.9 ORDER BY vec_a, vec_b""".stripMargin,
      t => Similarity.embeddingNearDup(t.embeddings)),
    // s32's fixture corpus has no near-dups (green-but-0-rows at every
    // SF); s38 plants them in-query — perturbed copies at vec_id+1e6
    // with the last component negated — so the gate checks REAL pairs
    // through the same LSH machinery.
    Gate("s38_neardup_planted",
      // s38 twin: the identical planted-copy construction (negate last
      // component — a sign-bit flip, exact in IEEE — and offset the id)
      // followed by s32's candidate rule verbatim. The planted pairs
      // sit at cos ≈ 0.97 with a 1-bit band-3 sketch difference, so
      // both engines MUST surface them — a non-empty exact compare.
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(range(1,65),
         |      i -> CASE WHEN i = 64 THEN -embedding[i] ELSE embedding[i] END) AS embedding
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u),
         |x AS (SELECT vec_id, i, v[i] AS val FROM e, (SELECT unnest(range(1,65)) AS i)),
         |keys AS (SELECT vec_id, CAST((i-1)//16 AS INT) AS band,
         |  sum(CASE WHEN val > 0 THEN 1::BIGINT << ((i-1)%16) ELSE 0::BIGINT END) AS bkey
         |  FROM x GROUP BY 1,2),
         |probes AS (SELECT vec_id, band, xor(bkey, pm.m) AS pkey
         |  FROM keys CROSS JOIN (SELECT unnest([${Similarity.probeMasks(16).mkString(",")}]) AS m) pm),
         |cand AS (SELECT DISTINCT p.vec_id AS vec_a, k.vec_id AS vec_b
         |  FROM probes p JOIN keys k
         |  ON p.band = k.band AND p.pkey = k.bkey AND p.vec_id < k.vec_id),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |d AS (SELECT c.vec_a, c.vec_b, ${sqlDot("a", "b")} AS dp
         |  FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b),
         |r AS (SELECT vec_a, vec_b,
         |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM d JOIN nr na ON na.vec_id = vec_a JOIN nr nb ON nb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos FROM r WHERE cos >= 0.9 ORDER BY vec_a, vec_b""".stripMargin,
      t => Similarity.embeddingNearDup(Similarity.plantNearDups(t.embeddings))),
    // incremental near-dup: the planted copies arrive as the NEW
    // batch and probe a sign-sketch index of the originals — the
    // vector-side t63. Twin = s38's full recompute restricted to
    // pairs with a planted side (all planted ids are ≥ 1e6).
    Gate("s39_neardup_incremental",
      // s39 twin: s38's pipeline with candidacy restricted to pairs
      // with a planted side (vec_b ≥ 1e6 — planted ids are offset past
      // every original, and vec_a < vec_b, so this is exactly "≥1 new
      // side"). Equal to the incremental probe by construction.
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(range(1,65),
         |      i -> CASE WHEN i = 64 THEN -embedding[i] ELSE embedding[i] END) AS embedding
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u),
         |x AS (SELECT vec_id, i, v[i] AS val FROM e, (SELECT unnest(range(1,65)) AS i)),
         |keys AS (SELECT vec_id, CAST((i-1)//16 AS INT) AS band,
         |  sum(CASE WHEN val > 0 THEN 1::BIGINT << ((i-1)%16) ELSE 0::BIGINT END) AS bkey
         |  FROM x GROUP BY 1,2),
         |probes AS (SELECT vec_id, band, xor(bkey, pm.m) AS pkey
         |  FROM keys CROSS JOIN (SELECT unnest([${Similarity.probeMasks(16).mkString(",")}]) AS m) pm),
         |cand AS (SELECT DISTINCT p.vec_id AS vec_a, k.vec_id AS vec_b
         |  FROM probes p JOIN keys k
         |  ON p.band = k.band AND p.pkey = k.bkey AND p.vec_id < k.vec_id
         |  WHERE k.vec_id >= 1000000),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |d AS (SELECT c.vec_a, c.vec_b, ${sqlDot("a", "b")} AS dp
         |  FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b),
         |r AS (SELECT vec_a, vec_b,
         |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM d JOIN nr na ON na.vec_id = vec_a JOIN nr nb ON nb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos FROM r WHERE cos >= 0.9 ORDER BY vec_a, vec_b""".stripMargin,
      t => {
        import org.apache.spark.sql.functions.col
        val planted = Similarity.plantNearDups(t.embeddings)
          .filter(col("vec_id") >= 1000000L)
        Similarity.incrementalEmbeddingNearDup(
          planted, Similarity.embeddingIndexFrames(t.embeddings)) }),
    Gate("s33_ann_lsh",
      // ANN twin: the hyperplanes are SEEDED DRIVER-SIDE CONSTANTS
      // (Similarity.hyperplanes(12,64), same call both sides), so the
      // whole bucket + hamming-1 multiprobe rule bakes into SQL exactly
      // like s32's probe masks. Sign bits come from a sequential-fold
      // dot product against literal plane vectors — same fold both
      // engines, and the comparison `> 0` is exact, so bucket ids are
      // identical by construction.
      s33Sql,
      t => Similarity.annLsh(t.embeddings)),
    // the ANN SERVING path: same queries, but the corpus goes through
    // the persisted-index shape (annIndexFrame + annLshServe) — the
    // twin is s33's SQL because the answers must be bit-identical
    Gate("s40_ann_serve",
      // s40 serves the SAME queries through the persisted-index path
      // (annIndexFrame + annLshServe) — output is identical to s33 by
      // construction, so the twin is literally s33's SQL
      s33Sql,
      t => {
        import org.apache.spark.sql.functions.col
        Similarity.annLshServe(
          t.embeddings.filter(col("vec_id") < 5),
          Similarity.annIndexFrame(t.embeddings.filter(col("vec_id") >= 5))) }),
    Gate("s34_knn_classify",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |d AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ${sqlDot("a", "b")} AS dp
         |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id >= 5),
         |r AS (SELECT qid AS query_id, cid AS vec_id,
         |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM d JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = cid),
        |topk AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM r) WHERE rnk <= 5),
        |v AS (SELECT t.query_id, emb.label, count(*) AS votes
        |  FROM topk t JOIN embeddings emb ON t.vec_id = emb.vec_id GROUP BY 1,2)
        |SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes FROM (
        |  SELECT query_id, label, votes,
        |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
        |  FROM v)
        |WHERE rn = 1 ORDER BY query_id""".stripMargin,
      t => Similarity.knnClassify(t.embeddings)),
    // s35 pins kmeansIters=0: the plain seed-centroid IVF, fully
    // SQL-expressible with zero refinement machinery.
    Gate("s35_ivf_topk",
      // IVF twin (kmeansIters=0 pinned — see the body): seed
      // centroids are the 16 lowest-id corpus vectors; every similarity
      // is the sequential-fold dot over DOUBLE[], so assignment argmax,
      // probe ranking, and final scores are bit-identical to the Spark
      // plan by construction.
      s35Sql,
      t => Similarity.ivfTopK(t.embeddings, kmeansIters = 0)),
    // s36 gates the LLOYD-REFINED variant: refinement means are
    // Exact.meanOf6 (order-independent quantized decimal sums), so
    // the twin's unrolled iterations rebuild the exact centroid bits
    // and every downstream assignment/probe/score matches by
    // construction.
    Gate("s36_ivf_lloyd",
      // Lloyd-refined IVF twin: two unrolled sweeps (s36Iter) rebuild
      // the refined centroids with the SAME order-independent quantized
      // means the Spark plan uses (Exact.meanOf6), so cell assignment,
      // probe ranking and final scores are bit-identical by construction
      s36Sql,
      t => Similarity.ivfTopK(t.embeddings, kmeansIters = 2)),
    // IVF SERVING: same queries through the persisted-index shape
    // (ivfIndexFrames + ivfServe); twin = s36's SQL, the answers must
    // be bit-identical
    Gate("s41_ivf_serve",
      // s41 serves the SAME queries through the persisted-IVF-index
      // path (ivfIndexFrames + ivfServe) — answers must be
      // bit-identical to the one-shot s36, so the twin is its SQL
      s36Sql,
      t => {
        import org.apache.spark.sql.functions.col
        Similarity.ivfServe(
          t.embeddings.filter(col("vec_id") < 5),
          Similarity.ivfIndexFrames(t.embeddings.filter(col("vec_id") >= 5))) }),
    // int8-quantized serving path: top-k over the dequantized index
    // (4× memory compression; scores pinned by identical twin math)
    Gate("s43_quantized_topk",
      // Similarity oracles compute dot products with
      // list_sum(list_transform(...)) — a SEQUENTIAL left-to-right fold,
      // bit-identical to Spark's `aggregate` higher-order function. A
      // grouped sum() accumulates in engine-chosen order and differs by
      // ulps (measured), which can flake across a quantization boundary.
      // quantized-serving twin: identical per-vector scale, identical
      // round (floor(+0.5)) with the same division order, identical
      // dequant arithmetic — then s31's top-k shape over the
      // dequantized vectors
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sc AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) AS scale FROM e0),
         |qt AS (SELECT e0.vec_id, sc.scale,
         |  CASE WHEN sc.scale > 0.0
         |    THEN list_transform(e0.v, x -> CAST(floor(x/sc.scale*127.0 + 0.5) AS BIGINT))
         |    ELSE list_transform(e0.v, x -> CAST(0 AS BIGINT)) END AS q
         |  FROM e0 JOIN sc ON sc.vec_id = e0.vec_id),
         |e AS (SELECT vec_id,
         |  list_transform(q, x -> CAST(x AS DOUBLE)*scale/127.0) AS v FROM qt),
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
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
      t => Similarity.quantizedTopK(t.embeddings)),
    // SemDeDup over the planted corpus (s38 precedent: the fixture
    // has no semantic near-dups, the planted perturbed copies are
    // real ones) — cells from the seed-centroid assignment, one-pass
    // earlier-id drop rule
    Gate("s42_semantic_dedup",
      // SemDeDup twin: s38's planted union + s35's seed-centroid
      // assignment + the one-pass earlier-id drop rule, verbatim
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(range(1,65),
         |      i -> CASE WHEN i = 64 THEN -embedding[i] ELSE embedding[i] END) AS embedding
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |ev AS (SELECT e.vec_id, e.v, nr.nrm FROM e JOIN nr ON nr.vec_id = e.vec_id),
         |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev
         |  ORDER BY vec_id LIMIT 16),
         |asg AS (SELECT vec_id, v, nrm, cid FROM (
         |  SELECT c.vec_id, c.v, c.nrm, ct.cid,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), j -> c.v[j]*ct.cv[j]))/(c.nrm*ct.cn) DESC,
         |        ct.cid) AS rn
         |  FROM ev c CROSS JOIN cent ct) WHERE rn = 1),
         |d AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
         |  FROM asg b JOIN asg a ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE floor(list_sum(list_transform(range(1,65), j -> a.v[j]*b.v[j]))/(a.nrm*b.nrm)*1000000.0+0.5)/1000000.0 >= 0.9
         |  GROUP BY 1)
         |SELECT asg.vec_id, asg.cid, d.dup_of, d.dup_of IS NULL AS kept
         |FROM asg LEFT JOIN d ON d.vec_id = asg.vec_id
         |ORDER BY asg.vec_id""".stripMargin,
      t => {
        // nCells pinned: the twin bakes LIMIT 16 as its seed-centroid
        // contract; the scale path is the derived ≈√N default
        Similarity.semanticDedup(Similarity.plantNearDups(t.embeddings), nCells = 16) }),
    // SemDeDup on LLOYD-REFINED cells — the paper-faithful config:
    // same planted corpus and one-pass drop rule as s42, cells
    // tightened by two Exact-mean sweeps; the twin unrolls the
    // refinement with the s36 machinery so every cell assignment and
    // cosine is bit-identical
    Gate("s44_semantic_dedup_refined",
      // s44: s42's planted corpus and drop rule over cells tightened by
      // two unrolled Lloyd sweeps (s36Iter — Exact-mean arithmetic, so
      // refined centroids and every downstream cosine match bit-exactly)
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(range(1,65),
         |      i -> CASE WHEN i = 64 THEN -embedding[i] ELSE embedding[i] END) AS embedding
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |corpus AS (SELECT e.vec_id, e.v, nr.nrm FROM e JOIN nr ON nr.vec_id = e.vec_id),
         |cn0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM corpus
         |  ORDER BY vec_id LIMIT 16),
         |${s36Iter("cn0", 1)},
         |${s36Iter("cn1", 2)},
         |asg AS (SELECT vec_id, v, nrm, cid FROM (
         |  SELECT c.vec_id, c.v, c.nrm, ct.cid,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), j -> c.v[j]*ct.cv[j]))/(c.nrm*ct.cn) DESC,
         |        ct.cid) AS rn
         |  FROM corpus c CROSS JOIN cn2 ct) WHERE rn = 1),
         |d AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
         |  FROM asg b JOIN asg a ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE floor(list_sum(list_transform(range(1,65), j -> a.v[j]*b.v[j]))/(a.nrm*b.nrm)*1000000.0+0.5)/1000000.0 >= 0.9
         |  GROUP BY 1)
         |SELECT asg.vec_id, asg.cid, d.dup_of, d.dup_of IS NULL AS kept
         |FROM asg LEFT JOIN d ON d.vec_id = asg.vec_id
         |ORDER BY asg.vec_id""".stripMargin,
      t => {
        Similarity.semanticDedup(Similarity.plantNearDups(t.embeddings),
        nCells = 16, kmeansIters = 2) }),
    // int8-quantized ANN: the quantize→dequantize corpus through the
    // ANN bucket index (annIndexFrame + annLshServe inside annLsh) —
    // 4× index memory with the serving plan unchanged
    Gate("s45_quantized_ann",
      // s45: the quantized-index ANN composition — s33's pipeline over
      // the s43 dequantization chain
      s45Sql,
      t => Similarity.annLsh(Similarity.dequantizedEmbeddings(t.embeddings))),
    // two-stage RETRIEVE-RERANK: PQ-ADC retrieves 32 candidates per
    // query, finalists re-scored on the raw vectors — the production
    // ANN serving shape (compressed scan, full precision only for
    // the shortlist)
    Gate("s62_retrieve_rerank",
      // s62 twin: s49's compressed scoring restricted to rank ≤ 32,
      // then the finalists re-scored on the RAW vectors and re-ranked
      s"""WITH $s49CandCtes,
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM sc) WHERE rnk <= 32),
         |ex AS (SELECT c.query_id, c.vec_id,
         |  floor(list_sum(list_transform(range(1, 65), i -> q.qv[i]*e.v[i]))
         |    /(q.qn*sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i]*e.v[i]))))
         |    *1000000.0+0.5)/1000000.0 AS cos
         |  FROM cand c JOIN q ON q.query_id = c.query_id
         |  JOIN e ON e.vec_id = c.vec_id)
         |SELECT query_id, rnk, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM ex)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
      t => Similarity.retrieveRerank(t.embeddings)),
    // hard-negative mining over the PLANTED near-dup corpus: in-band
    // (cos ∈ [0.02, 0.9)) top-k per anchor from the LSH bucket
    // candidates — the ceiling excludes the planted near-dups (cos ≈
    // 0.97, would be FALSE negatives), the floor excludes the
    // uninformative tail, survivors are the contrastive negatives
    Gate("s61_hard_negatives",
      // s61: the s33 pipeline + the pre-rank cosine band
      s61Sql,
      t => {
        Similarity.hardNegatives(Similarity.plantNearDups(t.embeddings),
        lo = 0.02, hi = 0.9) })
  )

  /** s49 candidate core — seed PQ codebooks, encode, reconstruct,
    * ADC-score every (query, corpus) pair into `sc` (query_id,
    * vec_id, cos). Shared by the one-shot top-k (s49) and the
    * retrieve-rerank composition (s62). */
  private lazy val s49CandCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e
      |  WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16),
      |cs AS (SELECT cid, j, cv[j*8+1:j*8+8] AS scv
      |  FROM cent, LATERAL (SELECT unnest(range(0, 8)) AS j) u),
      |xs AS (SELECT vec_id, j, v[j*8+1:j*8+8] AS sv
      |  FROM e, LATERAL (SELECT unnest(range(0, 8)) AS j) u
      |  WHERE vec_id >= 5),
      |code AS (SELECT vec_id, j, cid FROM (
      |  SELECT xs.vec_id, xs.j, cs.cid,
      |    row_number() OVER (PARTITION BY xs.vec_id, xs.j ORDER BY
      |      list_sum(list_transform(range(1, 9), i -> (sv[i]-scv[i])*(sv[i]-scv[i]))),
      |      cs.cid) AS rn
      |  FROM xs JOIN cs ON cs.j = xs.j) WHERE rn = 1),
      |rec AS (SELECT c.vec_id, flatten(list(cs.scv ORDER BY c.j)) AS rv
      |  FROM code c JOIN cs ON cs.j = c.j AND cs.cid = c.cid GROUP BY 1),
      |rn2 AS (SELECT vec_id, rv,
      |  sqrt(list_sum(list_transform(range(1, 65), i -> rv[i]*rv[i]))) AS rnrm
      |  FROM rec),
      |q AS (SELECT vec_id AS query_id, v AS qv,
      |  sqrt(list_sum(list_transform(range(1, 65), i -> v[i]*v[i]))) AS qn
      |  FROM e WHERE vec_id < 5),
      |sc AS (SELECT query_id, r.vec_id,
      |  floor(list_sum(list_transform(range(1, 65), i -> qv[i]*r.rv[i]))
      |    /(qn*r.rnrm)*1000000.0+0.5)/1000000.0 AS cos
      |  FROM q CROSS JOIN rn2 r)""".stripMargin

  // centroid-component exact mean (Exact.meanOf6's SQL twin): quantize
  // per row in pure IEEE, sum exactly as DECIMAL, divide once
  private def cmean(x: String): String =
    s"floor(CAST(sum(CAST(floor(($x)*1000000.0+0.5) AS DECIMAL(18,0))) AS DOUBLE)/1000000.0/count(*)*1000000.0+0.5)/1000000.0"

  /** One unrolled Lloyd sweep for the s36 twin: assign the corpus to
    * its argmax-similarity centroid from `prev`, then rebuild each
    * surviving cell's centroid component-wise with [[cmean]] and
    * re-derive the norm with the sequential fold. Emits CTEs
    * a<i>, m<i>, cn<i>.
    */
  private def s36Iter(prev: String, it: Int): String =
    s"""a$it AS (SELECT cid, v FROM (
       |  SELECT c.v, ct.cid,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY list_sum(list_transform(range(1,65), j -> c.v[j]*ct.cv[j]))/(c.nrm*ct.cn) DESC,
       |        ct.cid) AS rn
       |  FROM corpus c CROSS JOIN $prev ct) WHERE rn = 1),
       |m$it AS (SELECT cid, pos, ${cmean("val")} AS m
       |  FROM (SELECT cid, i AS pos, v[i] AS val FROM a$it, (SELECT unnest(range(1,65)) AS i))
       |  GROUP BY 1,2),
       |cn$it AS (SELECT cid, cv,
       |  sqrt(list_sum(list_transform(range(1,65), j -> cv[j]*cv[j]))) AS cn
       |  FROM (SELECT cid, list(m ORDER BY pos) AS cv FROM m$it GROUP BY 1))""".stripMargin

  // s33's seeded hyperplanes as DuckDB VALUES rows (i, DOUBLE[64]);
  // Double.toString round-trips exactly, so DuckDB parses the same
  // 64-bit values the Spark plan carries as literals
  private def s33PlanesSql: String =
    Similarity.hyperplanes(12, 64).zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(",")}])"
    }.mkString(",\n         |  ")

  private lazy val s36Sql: String =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |corpus AS (SELECT e.vec_id, e.v, nr.nrm FROM e JOIN nr ON nr.vec_id = e.vec_id
         |  WHERE e.vec_id >= 5),
         |cn0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM corpus ORDER BY vec_id LIMIT 16),
         |${s36Iter("cn0", 1)},
         |${s36Iter("cn1", 2)},
         |qv AS (SELECT e.vec_id, e.v, nr.nrm FROM e JOIN nr ON nr.vec_id = e.vec_id
         |  WHERE e.vec_id < 5),
         |asg AS (SELECT vec_id, v, nrm, cid FROM (
         |  SELECT c.vec_id, c.v, c.nrm, ct.cid,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), j -> c.v[j]*ct.cv[j]))/(c.nrm*ct.cn) DESC,
         |        ct.cid) AS rn
         |  FROM corpus c CROSS JOIN cn2 ct) WHERE rn = 1),
         |qp AS (SELECT query_id, qvec, qn, cid FROM (
         |  SELECT q.vec_id AS query_id, q.v AS qvec, q.nrm AS qn, ct.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), j -> q.v[j]*ct.cv[j]))/(q.nrm*ct.cn) DESC,
         |        ct.cid) AS rn
         |  FROM qv q CROSS JOIN cn2 ct) WHERE rn <= 4),
         |s AS (SELECT DISTINCT query_id, a.vec_id,
         |  floor(list_sum(list_transform(range(1,65), j -> qvec[j]*a.v[j]))/(qn*a.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM qp JOIN asg a ON qp.cid = a.cid)
         |SELECT query_id, rnk, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM s)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // s33/s40/s45 twin core: the ANN pipeline over whatever CTE chain
  // defines `e` (vec_id, v DOUBLE[]) — raw embeddings for s33/s40,
  // the int8 quantize→dequantize chain (s43's arithmetic, verbatim)
  // for the quantized-index composition s45
  private def s33SqlFrom(eCtes: String, bandWhere: String = ""): String =
      s"""WITH $eCtes,
         |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
         |pl AS (SELECT * FROM (VALUES
         |  $s33PlanesSql) AS t(i, pv)),
         |bk AS (SELECT e.vec_id,
         |  sum(CASE WHEN list_sum(list_transform(range(1,65), j -> e.v[j]*pl.pv[j])) > 0
         |      THEN 1::BIGINT << pl.i ELSE 0::BIGINT END) AS bucket
         |  FROM e CROSS JOIN pl GROUP BY 1),
         |c AS (SELECT e.vec_id, e.v, nr.nrm, bk.bucket
         |  FROM e JOIN nr ON nr.vec_id = e.vec_id JOIN bk ON bk.vec_id = e.vec_id
         |  WHERE e.vec_id >= 5),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, nr.nrm AS qn,
         |  xor(bk.bucket, pm.m) AS bucket
         |  FROM e JOIN nr ON nr.vec_id = e.vec_id JOIN bk ON bk.vec_id = e.vec_id
         |  CROSS JOIN (SELECT unnest([${(0L +: (0 until 12).map(1L << _).toSeq).mkString(",")}]) AS m) pm
         |  WHERE e.vec_id < 5),
         |s AS (SELECT DISTINCT query_id, c.vec_id,
         |  floor(list_sum(list_transform(range(1,65), j -> qv[j]*c.v[j]))/(qn*c.nrm)*1000000.0+0.5)/1000000.0 AS cos
         |  FROM q JOIN c ON q.bucket = c.bucket)
         |SELECT query_id, rnk, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM s $bandWhere)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  private lazy val s33Sql: String =
    s33SqlFrom("e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")

  // s61: the s33 candidate pipeline over the s42/s44 planted corpus
  // with the hard-negative cosine band filtered BEFORE the rank
  private lazy val s61Sql: String = s33SqlFrom(
    """u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(range(1,65),
      |      i -> CASE WHEN i = 64 THEN -embedding[i] ELSE embedding[i] END) AS embedding
      |  FROM embeddings WHERE vec_id % 10 = 0),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u)""".stripMargin,
    bandWhere = "WHERE cos >= 0.02 AND cos < 0.9")

  // s45: the s43 quantize→dequantize chain feeding the s33 pipeline
  private lazy val s45Sql: String = s33SqlFrom(
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sc AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) AS scale FROM e0),
      |qt AS (SELECT e0.vec_id, sc.scale,
      |  CASE WHEN sc.scale > 0.0
      |    THEN list_transform(e0.v, x -> CAST(floor(x/sc.scale*127.0 + 0.5) AS BIGINT))
      |    ELSE list_transform(e0.v, x -> CAST(0 AS BIGINT)) END AS q
      |  FROM e0 JOIN sc ON sc.vec_id = e0.vec_id),
      |e AS (SELECT vec_id,
      |  list_transform(q, x -> CAST(x AS DOUBLE)*scale/127.0) AS v FROM qt)""".stripMargin)

  // s57/s58: the seeded 64→16 Johnson–Lindenstrauss projection as
  // DuckDB CTEs — the same hyperplane constants baked into the Spark
  // plan, each component one sequential fold; ends at CTE `pf` =
  // the projected top-5 (query_id, vec_id) with `pr` carrying cos
  private lazy val projChainCtes: String = {
    val planes = graft.ops.Similarity.hyperplanes(16, 64, 99L)
    val comps = planes.map { p =>
      s"list_sum(list_transform(range(1,65), i -> v[i] * ${p.mkString("[", ", ", "]")}[i]))"
    }.mkString(",\n       |    ")
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ep AS (SELECT vec_id, [
       |    $comps] AS v FROM e0),
       |pnr AS (SELECT vec_id,
       |  sqrt(list_sum(list_transform(range(1,17), i -> v[i]*v[i]))) AS nrm FROM ep),
       |pd AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |  list_sum(list_transform(range(1,17), i -> a.v[i]*b.v[i])) AS dp
       |  FROM ep a JOIN ep b ON a.vec_id < 5 AND b.vec_id >= 5),
       |pr AS (SELECT qid AS query_id, cid AS vec_id,
       |  floor(dp/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
       |  FROM pd JOIN pnr na ON na.vec_id = qid JOIN pnr nb ON nb.vec_id = cid),
       |pf AS (SELECT query_id, vec_id, cos, rnk FROM (
       |  SELECT query_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
       |  FROM pr) WHERE rnk <= 5)""".stripMargin
  }

  // s59 twin: the s31 top-10 retrieval for query 0 feeding FIVE
  // unrolled greedy MMR rounds (the s36 sweep-unroll precedent) —
  // identical quantized objective, identical (mmr DESC, doc_id)
  // argmax, and the (1−λ) factor interpolated as the verbatim IEEE
  // result of computing it from λ
  private lazy val s59Sql: String = {
    val lam = 0.7
    val om = (1.0 - lam).toString
    def qdot(a: String, b: String) =
      s"list_sum(list_transform(range(1,65), i -> $a.v[i]*$b.v[i]))"
    val rounds = (2 to 5).map { i =>
      s"""m$i AS (SELECT c.doc_id,
         |  max(floor(${qdot("c", "s")}/(c.nrm*s.nrm)*1000000.0+0.5)/1000000.0) AS maxsim
         |  FROM cand c, sel${i - 1} s
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})
         |  GROUP BY c.doc_id),
         |p$i AS (SELECT c.doc_id, c.score, c.v, c.nrm,
         |  floor(($lam*c.score - $om*m.maxsim)*1000000.0+0.5)/1000000.0 AS mmr
         |  FROM m$i m JOIN cand c ON c.doc_id = m.doc_id
         |  ORDER BY mmr DESC, c.doc_id LIMIT 1),
         |sel$i AS (SELECT doc_id, v, nrm FROM sel${i - 1}
         |  UNION ALL SELECT doc_id, v, nrm FROM p$i)""".stripMargin
    }.mkString(",\n")
    val emit = (2 to 5).map(i =>
      s"UNION ALL SELECT CAST($i AS BIGINT), doc_id, score, mmr FROM p$i")
      .mkString("\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
       |sc AS (SELECT b.vec_id, floor(${qdot("a", "b")}/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
       |  FROM e a JOIN e b ON a.vec_id < 1 AND b.vec_id >= 1
       |  JOIN nr na ON na.vec_id = a.vec_id JOIN nr nb ON nb.vec_id = b.vec_id),
       |top AS (SELECT vec_id, cos FROM (SELECT vec_id, cos,
       |  row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk FROM sc) WHERE rnk <= 10),
       |cand AS (SELECT t.vec_id AS doc_id, t.cos AS score, c.v, n.nrm
       |  FROM top t JOIN e c ON c.vec_id = t.vec_id JOIN nr n ON n.vec_id = t.vec_id),
       |p1 AS (SELECT doc_id, score, v, nrm,
       |  floor($lam*score*1000000.0+0.5)/1000000.0 AS mmr FROM cand
       |  ORDER BY mmr DESC, doc_id LIMIT 1),
       |sel1 AS (SELECT doc_id, v, nrm FROM p1),
       |$rounds
       |SELECT rnk, doc_id, score, mmr FROM (
       |  SELECT CAST(1 AS BIGINT) AS rnk, doc_id, score, mmr FROM p1
       |  $emit)
       |ORDER BY rnk""".stripMargin
  }

  // s60 twin: s59's five unrolled greedy rounds GENERALIZED to a
  // query table — the per-round argmax becomes a query-partitioned
  // row_number and the selected-set joins key on query_id; identical
  // quantized objective and tie-break
  private lazy val s60Sql: String = {
    val lam = 0.7
    val om = (1.0 - lam).toString
    def qdot(a: String, b: String) =
      s"list_sum(list_transform(range(1,65), i -> $a.v[i]*$b.v[i]))"
    val rounds = (2 to 5).map { i =>
      s"""m$i AS (SELECT c.query_id, c.doc_id,
         |  max(floor(${qdot("c", "s")}/(c.nrm*s.nrm)*1000000.0+0.5)/1000000.0) AS maxsim
         |  FROM cand c JOIN sel${i - 1} s ON s.query_id = c.query_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
         |    WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id)
         |  GROUP BY 1, 2),
         |p$i AS (SELECT query_id, doc_id, score, v, nrm, mmr FROM (
         |  SELECT c.query_id, c.doc_id, c.score, c.v, c.nrm,
         |    floor(($lam*c.score - $om*m.maxsim)*1000000.0+0.5)/1000000.0 AS mmr,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY floor(($lam*c.score - $om*m.maxsim)*1000000.0+0.5)/1000000.0 DESC,
         |        c.doc_id) AS rn
         |  FROM m$i m JOIN cand c ON c.query_id = m.query_id AND c.doc_id = m.doc_id)
         |  WHERE rn = 1),
         |sel$i AS (SELECT query_id, doc_id, v, nrm FROM sel${i - 1}
         |  UNION ALL SELECT query_id, doc_id, v, nrm FROM p$i)""".stripMargin
    }.mkString(",\n")
    val emit = (2 to 5).map(i =>
      s"UNION ALL SELECT query_id, CAST($i AS BIGINT), doc_id, score, mmr FROM p$i")
      .mkString("\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nr AS (SELECT vec_id, $sqlNorm AS nrm FROM e),
       |sc AS (SELECT a.vec_id AS query_id, b.vec_id,
       |  floor(${qdot("a", "b")}/(na.nrm*nb.nrm)*1000000.0+0.5)/1000000.0 AS cos
       |  FROM e a JOIN e b ON a.vec_id < 3 AND b.vec_id >= 3
       |  JOIN nr na ON na.vec_id = a.vec_id JOIN nr nb ON nb.vec_id = b.vec_id),
       |top AS (SELECT query_id, vec_id, cos FROM (SELECT query_id, vec_id, cos,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM sc) WHERE rnk <= 10),
       |cand AS (SELECT t.query_id, t.vec_id AS doc_id, t.cos AS score, c.v, n.nrm
       |  FROM top t JOIN e c ON c.vec_id = t.vec_id JOIN nr n ON n.vec_id = t.vec_id),
       |p1 AS (SELECT query_id, doc_id, score, v, nrm, mmr FROM (
       |  SELECT query_id, doc_id, score, v, nrm,
       |    floor($lam*score*1000000.0+0.5)/1000000.0 AS mmr,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY floor($lam*score*1000000.0+0.5)/1000000.0 DESC, doc_id) AS rn
       |  FROM cand) WHERE rn = 1),
       |sel1 AS (SELECT query_id, doc_id, v, nrm FROM p1),
       |$rounds
       |SELECT query_id, rnk, doc_id, score, mmr FROM (
       |  SELECT query_id, CAST(1 AS BIGINT) AS rnk, doc_id, score, mmr FROM p1
       |  $emit)
       |ORDER BY query_id, rnk""".stripMargin
  }
}
