package graft.gates

/** Media operators over the image, audio and frame fixtures
  * (`graft.multimodal.MediaOps`). */
object MediaGates {
  def gates: Seq[Gate] = Seq(
    // multimodal metadata plane under the gate (first oracle coverage
    // for the family): resize targets and frame-sampling plans are
    // pure integer/sequence math over the shared media fixture — the
    // q39/q40 fixture pattern. Decode stays spec-covered.
    Gate("t64_resize_plan",
      // multimodal metadata twins: the VALUES list is GENERATED from
      // Fixtures.mediaMeta (same Seq that builds the Spark frame), so
      // fixture and oracle cannot drift. Division is forced to DOUBLE —
      // a bare 256.0 literal is DECIMAL in DuckDB and divides by
      // different rules than Spark's double math.
      s"""WITH m(media_id, kind, width, height, duration_ms, codec) AS (VALUES
         |  $mediaValues),
         |s AS (SELECT media_id, width, height,
         |  least(CAST(256 AS DOUBLE)/width, CAST(256 AS DOUBLE)/height,
         |        CAST(1 AS DOUBLE)) AS sc
         |  FROM m WHERE kind = 'image')
         |SELECT media_id, width, height,
         |  CAST(floor(width*sc) AS INTEGER) AS target_width,
         |  CAST(floor(height*sc) AS INTEGER) AS target_height
         |FROM s ORDER BY media_id""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.col
        graft.multimodal.MediaOps.resizePlan(
          graft.sources.Fixtures.mediaFrame(s).filter(col("kind") === "image"), 256)
          .select("media_id", "width", "height", "target_width", "target_height")
          .orderBy("media_id") }),
    Gate("t65_frame_sample",
      s"""WITH m(media_id, kind, width, height, duration_ms, codec) AS (VALUES
         |  $mediaValues)
         |SELECT media_id, frame_ms, width, height, codec FROM (
         |  SELECT media_id, unnest(range(0, duration_ms, 1000)) AS frame_ms,
         |    width, height, codec
         |  FROM m WHERE kind = 'video' AND duration_ms > 0)
         |ORDER BY media_id, frame_ms""".stripMargin,
      t => { val s = t.spark
        graft.multimodal.MediaOps.frameSample(graft.sources.Fixtures.mediaFrame(s), 1000L)
        .orderBy("media_id", "frame_ms") }),
    // the audio side of the metadata plane: overlapping fixed-length
    // chunk windows (10s/5s), partial tail clamped to the duration
    Gate("t101_audio_chunks",
      // t101 twin: same stride sequence, same clamped partial tail
      s"""WITH m(media_id, kind, width, height, duration_ms, codec) AS (VALUES
         |  $mediaValues)
         |SELECT media_id, start_ms, least(start_ms + 10000, duration_ms) AS end_ms,
         |  codec FROM (
         |  SELECT media_id, unnest(range(0, duration_ms, 5000)) AS start_ms,
         |    duration_ms, codec
         |  FROM m WHERE kind = 'audio' AND duration_ms > 0)
         |ORDER BY media_id, start_ms""".stripMargin,
      t => { val s = t.spark
        graft.multimodal.MediaOps.audioChunkPlan(graft.sources.Fixtures.mediaFrame(s))
        .orderBy("media_id", "start_ms") }),
    // multimodal near-dup END-TO-END: real PNG payloads → ImageIO
    // decode → 8×8 aHash → pigeonhole pair join. The fixture's
    // half-split patterns make every hash hand-derivable from the
    // aHash definition (MediaOps.goldenImageFixture scaladoc), so the
    // twin is the analytically-known golden frame (q41 pattern) —
    // asserting decode, hash, candidate generation and hamming verify
    // in one row
    Gate("t93_image_neardup",
      // t93 twin: the GOLDEN pair frame, derived by hand from the aHash
      // definition over the half-split fixture (MediaOps
      // .goldenImageFixture scaladoc walks the derivation) — the q41
      // golden-oracle pattern for a pipeline SQL can't recompute
      // (PNG decode). Any drift in decode, grid averaging, thresholding,
      // chunking or the hamming verify breaks the match.
      """SELECT * FROM (VALUES
        | (1, 2, 0), (1, 3, 1), (2, 3, 1)
        |) AS t(media_a, media_b, hamming) ORDER BY media_a, media_b""".stripMargin,
      t => { val s = t.spark
        graft.multimodal.MediaOps.imageNearDupPairs(
        graft.multimodal.MediaOps.goldenImageFixture(s),
        graft.multimodal.MediaOps.ImageIoDecoder, maxHamming = 5) }),
    // INCREMENTAL image near-dup: planted re-encodes (the golden
    // patterns re-ingested at new ids — the monthly-re-crawl event)
    // probe a hash index of the t93 corpus; old×old pairs are
    // unrepresentable, history pixels never re-decode, and the novel
    // all-dark image pairs with nothing. Twin = the hand-derived
    // expected frame (goldenImageProbeFixture scaladoc). The
    // persisted-bucketed form of the same index is spec-asserted
    // zero-exchange (MediaOpsSpec).
    Gate("t105_incremental_image_neardup",
      // t105 twin: the GOLDEN incremental pair frame — re-encoded
      // patterns at new ids against the indexed t93 corpus, derived by
      // hand from the aHash definition (goldenImageProbeFixture
      // scaladoc). Old×old pairs (1,2)/(1,3)/(2,3) are absent BY
      // CONSTRUCTION — their appearance would fail the hash match.
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(11 AS BIGINT), CAST(0 AS BIGINT)),
        | (1, 14, 0), (2, 11, 0), (2, 14, 0), (3, 11, 1), (3, 14, 1),
        | (4, 12, 0), (11, 14, 0)
        |) AS t(media_a, media_b, hamming) ORDER BY media_a, media_b""".stripMargin,
      t => { val s = t.spark
        val M = graft.multimodal.MediaOps
        M.incrementalImageNearDup(
          M.goldenImageProbeFixture(s),
          M.imageHashIndexFrame(M.goldenImageFixture(s), M.ImageIoDecoder),
          M.ImageIoDecoder, maxHamming = 5) }),
    // audio near-dup END-TO-END: real WAV payloads → JDK PCM decode →
    // 64-bin envelope hash per chunk window → pigeonhole pair join
    // per aligned window. The fixture's half-split envelopes at
    // amplitude exactly 0.5 make every hash hand-derivable
    // (MediaOps.goldenAudioFixture scaladoc), so the twin is the
    // analytically-known golden frame — asserting decode, binning,
    // thresholding, window alignment and hamming verify in one row
    Gate("t106_audio_neardup",
      // t106 twin: the GOLDEN audio window-pair frame, derived by hand
      // from the envelope-hash definition over the half-split WAV
      // fixture (MediaOps.goldenAudioFixture scaladoc walks the
      // derivation). The 16 kHz re-encode pairs at hamming 0, the
      // first-bin edit at exactly 1 bit; the reversed envelope (64
      // bits away) must be absent.
      """SELECT * FROM (VALUES
        | (CAST(21 AS BIGINT), CAST(22 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        | (21, 23, 0, 1), (22, 23, 0, 1)
        |) AS t(media_a, media_b, start_ms, hamming)
        |ORDER BY media_a, media_b, start_ms""".stripMargin,
      t => { val s = t.spark
        graft.multimodal.MediaOps.audioNearDupPairs(
        graft.multimodal.MediaOps.goldenAudioFixture(s),
        graft.multimodal.MediaOps.WavDecoder,
        windowMs = 2000L, strideMs = 2000L, maxHamming = 5) }),
    // INCREMENTAL audio near-dup: re-encodes of the indexed envelopes
    // at fresh ids probe a hash index of the t106 corpus; old×old
    // pairs unrepresentable, history PCM never re-decoded, the novel
    // all-silent file pairs with nothing. Twin = the hand-derived
    // expected frame (goldenAudioProbeFixture scaladoc). The
    // persisted-bucketed form is spec-asserted zero-exchange.
    Gate("t108_incremental_audio_neardup",
      // t108 twin: the GOLDEN incremental audio pair frame — re-encoded
      // envelopes at new ids against the indexed t106 corpus, derived by
      // hand from the envelope-hash definition (goldenAudioProbeFixture
      // scaladoc). Old×old pairs (21,22)/(21,23)/(22,23) are absent BY
      // CONSTRUCTION — their appearance would fail the hash match.
      """SELECT * FROM (VALUES
        | (CAST(21 AS BIGINT), CAST(31 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        | (21, 34, 0, 0), (22, 31, 0, 0), (22, 34, 0, 0), (23, 31, 0, 1),
        | (23, 34, 0, 1), (24, 32, 0, 0), (31, 34, 0, 0)
        |) AS t(media_a, media_b, start_ms, hamming)
        |ORDER BY media_a, media_b, start_ms""".stripMargin,
      t => { val s = t.spark
        val M = graft.multimodal.MediaOps
        M.incrementalAudioNearDup(
          M.goldenAudioProbeFixture(s),
          M.audioHashIndexFrame(M.goldenAudioFixture(s), M.WavDecoder,
            windowMs = 2000L, strideMs = 2000L),
          M.WavDecoder, windowMs = 2000L, strideMs = 2000L, maxHamming = 5) })
  )

  // t64/t65 media fixture as VALUES rows, generated from the SAME Seq
  // the Spark-side frame is built from (Fixtures.mediaMeta)
  private def mediaValues: String =
    graft.sources.Fixtures.mediaMeta.map { case (id, kind, w, h, dur, codec) =>
      s"(CAST($id AS BIGINT), '$kind', $w, $h, CAST($dur AS BIGINT), '$codec')"
    }.mkString(",\n         |  ")
}
