package graft.oracle

import graft.ops.MultimodalOps.WavSampleRate

/** DuckDB oracles of the multimodal family (`MultimodalOps`): each
  * decode gate recomputes from `documents` the formula the fixture
  * writer encoded, so agreement means the bytes round-tripped.
  */
object MultimodalOracles {

  /** The documents every fixture writer encodes: non-empty texts with
    * doc_id < maxDocId. */
  private def fixtureDocs(maxDocId: Long): String =
    s"doc_id < $maxDocId AND text IS NOT NULL AND length(text) > 0"

  /** One row per element `i` in [0, `count`) of each fixture document:
    * its columns, `n` = length(text) and the `dims` the writer derives. */
  private def fixtureElements(maxDocId: Long, dims: String, count: String,
                              i: String = "i"): String =
    s"""SELECT *, unnest(range(0, $count)) AS $i
       |FROM (
       |  SELECT doc_id, text, length(text) AS n, $dims
       |  FROM documents WHERE ${fixtureDocs(maxDocId)})""".stripMargin

  /** A raster's dims: the image writers' formula. */
  private val imageDims = "1 + (length(text) % 13) AS w, 1 + (doc_id % 7) AS h"

  /** The quarantine verdicts: one 'corrupt' row per id, every `cols`
    * column a NULL BIGINT. */
  private def corruptRows(ids: Seq[Long], cols: Seq[String]): String =
    s"""SELECT v.id AS doc_id, 'corrupt' AS status,
       |  ${cols.map(c => s"CAST(NULL AS BIGINT) AS $c").mkString(", ")}
       |FROM (VALUES ${ids.map(id => s"($id)").mkString(", ")}) AS v(id)""".stripMargin

  /** Frame-sampling oracle (payload is the text's bytes; ASCII, so
    * substring-on-text equals substring-on-blob): every 4th of each
    * document's 16-byte frames; empty docs emit zero frames on both sides.
    */
  val sampleFramesOracle: String =
    """SELECT doc_id, frame_idx, hex(encode(frame)) AS frame FROM (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT) AS frame_idx,
      |    substr(text, i * 16 + 1, 16) AS frame
      |  FROM documents, unnest(range(0, (octet_length(encode(text)) + 15) // 16)) AS ix(i)
      |  WHERE i % 4 = 0)""".stripMargin

  /** Resize oracle (ASCII text ≙ payload bytes): take every 4th char,
    * re-encode, hex — an independent list-based formulation.
    */
  val resizeOracle: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
      |  CAST(length(r) AS BIGINT) AS new_len,
      |  hex(encode(r)) AS resized_hex
      |FROM (
      |  SELECT doc_id, text,
      |    array_to_string(
      |      list_transform(list_filter(range(0, length(text)), i -> i % 4 = 0),
      |                     i -> substr(text, i + 1, 1)), '') AS r
      |  FROM documents)""".stripMargin

  /** Oracle: composes the stage oracles' derivations — the
    * [[ingestManifestOracle]] tree reconstruction (per-TEXT digest
    * groups: the payload is the text's bytes, so equal texts collapse
    * across names AND extensions), the μ-law tree reconstructed from
    * the container formula (byte_len = 44 header + channels·frames
    * code bytes), and the two literal corrupt blobs from
    * [[MultimodalOps.writeCorruptAudioFixtures]]. Audio digest groups are keyed on
    * the reconstructed CODE SEQUENCE, not on (text, parity): μ-law
    * quantization can collapse distinct texts to identical code bytes
    * (it does, at sf0.01), so the group key is chn plus the per-sample
    * (sign, decoded-value) list — bijective with the code byte (within
    * a sign, (m·8+132)·2^e−132 ranges never overlap; the sign marker
    * separates the +0/−0 codes that both decode to 0), and the header
    * is a pure function of (chn, code count). The samples and their
    * companding are [[decodeUlawOracle]]'s ([[wavSamplesSql]],
    * [[ulawRoundTripSql]]), kept per-sample instead of aggregated. */
  def multimodalPrepOracle(maxDocId: Long = 256L, dupEvery: Long = 8L,
                           junkId: Long = 300L, emptyId: Long = 301L): String =
    s"""WITH ${opaqueTreeSql(maxDocId, dupEvery)},
       |opq AS (
       |  SELECT file_name, modality, byte_len,
       |    'opq' AS tree, text AS grp, 'opaque' AS verdict
       |  FROM files),
       |au_codes AS (
       |  SELECT doc_id, chn,
       |    string_agg(CASE WHEN s < 0 THEN '-' ELSE '+' END || d, ','
       |      ORDER BY i) AS codeseq
       |  FROM (${ulawRoundTripSql(wavSamplesSql(maxDocId))})
       |  GROUP BY doc_id, chn),
       |au AS (
       |  SELECT 'ul_' || s.doc_id || '.wav' AS file_name,
       |    'audio' AS modality,
       |    CAST(44 + (1 + s.doc_id % 2) * (1 + length(s.text) % 29) AS BIGINT)
       |      AS byte_len,
       |    'au' AS tree, c.chn || '#' || c.codeseq AS grp,
       |    'ok' AS verdict
       |  FROM sel s JOIN au_codes c ON s.doc_id = c.doc_id
       |  UNION ALL
       |  SELECT 'ul_$junkId.wav', 'audio', 10, 'au', 'junk$junkId', 'corrupt'
       |  UNION ALL
       |  SELECT 'ul_$emptyId.wav', 'audio', 44, 'au', 'empty$emptyId', 'corrupt'),
       |f AS (SELECT * FROM opq UNION ALL SELECT * FROM au),
       |c AS (SELECT tree, grp, min(file_name) AS canonical
       |      FROM f GROUP BY 1, 2)
       |SELECT modality, verdict, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN file_name = canonical THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_canonical,
       |  CAST(sum(byte_len) AS BIGINT) AS total_bytes
       |FROM f JOIN c USING (tree, grp)
       |GROUP BY 1, 2""".stripMargin

  /** DuckDB twin of the full write→ingest→manifest loop, reconstructed
    * from the documents table: the same name/extension/dup-planting
    * rules, octet_length of the UTF-8 text for byte_len (the bytes
    * written), md5(text) (DuckDB hashes the string's UTF-8 bytes — the
    * same bytes Spark's md5 sees in the file content), and the same
    * min-file-name-per-digest dedup. A byte dropped or altered anywhere
    * in the round trip breaks the digest column.
    */
  def ingestManifestOracle(maxDocId: Long = 256L, dupEvery: Long = 8L): String =
    s"""WITH ${opaqueTreeSql(maxDocId, dupEvery)},
       |m AS (
       |  SELECT file_name, doc_id, modality, byte_len, md5(text) AS digest
       |  FROM files),
       |c AS (SELECT digest, min(file_name) AS canonical FROM m GROUP BY 1)
       |SELECT file_name, doc_id, modality, byte_len, digest, canonical,
       |  file_name = canonical AS is_canonical
       |FROM m JOIN c USING (digest)""".stripMargin

  /** [[MultimodalOps.writeFixtureTree]]'s tree reconstructed as two CTEs: `sel`, the
    * documents it writes, and `files` — one row per written file
    * (file_name, doc_id, text, modality, byte_len), the planted `dup_`
    * copies included. */
  private def opaqueTreeSql(maxDocId: Long, dupEvery: Long): String =
    s"""sel AS (
       |  SELECT doc_id, text,
       |    CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'aud'
       |         ELSE 'vid' END AS ext
       |  FROM documents WHERE ${fixtureDocs(maxDocId)}),
       |files AS (
       |  SELECT prefix || '_' || doc_id || '.' || ext AS file_name, doc_id, text,
       |    CASE ext WHEN 'img' THEN 'image' WHEN 'aud' THEN 'audio'
       |         ELSE 'video' END AS modality,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
       |  FROM (SELECT 'doc' AS prefix, * FROM sel
       |        UNION ALL
       |        SELECT 'dup', * FROM sel WHERE doc_id % $dupEvery = 0))""".stripMargin

  /** The generation formula as SQL: dims + per-pixel channel values
    * over `documents`, shared by both decode oracles. */
  private def bmpPixelsSql(maxDocId: Long): String =
    s"""SELECT doc_id, w, h,
       |  ascii(substr(text, CAST(p % n AS INT) + 1, 1)) AS c, p
       |FROM (${fixtureElements(maxDocId, imageDims, "w * h", "p")})""".stripMargin

  /** A raster's exact channel sums and pixel count over `v(c, p)`: the
    * writers' channel formula of character code c at pixel p. */
  private val channelSums =
    """CAST(sum(c) AS BIGINT) AS sum_r,
      |  CAST(sum((c * 3 + p) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((c + p * 7) % 256) AS BIGINT) AS sum_b,
      |  CAST(count(*) AS BIGINT) AS n_px""".stripMargin

  /** Oracle: expected dims + exact channel sums from the pixel formula —
    * agreement means write(bytes) → ImageIO decode round-tripped every
    * pixel of every raster. */
  def decodeImagesOracle(maxDocId: Long = 256L): String =
    s"""WITH v AS (${bmpPixelsSql(maxDocId)})
       |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  $channelSums
       |FROM v GROUP BY 1, 2, 3""".stripMargin

  /** Oracle for the decoded-raster 2× downscale: same formula filtered
    * to even (x, y) = (p mod w, p div w). */
  def resizeDecodedOracle(maxDocId: Long = 256L): String =
    s"""WITH v AS (${bmpPixelsSql(maxDocId)})
       |SELECT doc_id,
       |  CAST((w + 1) // 2 AS BIGINT) AS width,
       |  CAST((h + 1) // 2 AS BIGINT) AS height,
       |  $channelSums
       |FROM v
       |WHERE (p % w) % 2 = 0 AND (p // w) % 2 = 0
       |GROUP BY 1, w, h""".stripMargin

  /** Oracle: dims recomputed exactly from the generation formula; every
    * band boolean expected TRUE. The band itself is enforced Spark-side
    * against independently derived expected sums — the oracle pins that
    * the verdicts (not the raw lossy sums, which no cross-engine
    * contract can hash) agree. */
  def decodeJpegBandedOracle(maxDocId: Long = 256L): String =
    s"""SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(w * h AS BIGINT) AS n_px,
       |  TRUE AS dims_ok, TRUE AS r_in_band, TRUE AS g_in_band, TRUE AS b_in_band
       |FROM (SELECT doc_id, $imageDims FROM documents WHERE ${fixtureDocs(maxDocId)})""".stripMargin

  /** Oracle for the registered JPEG quarantine row: the formula's dims
    * tagged 'ok' UNION the two literal corrupt verdicts (null dims) —
    * the [[decodeLenientOracle]] contract for a codec whose SUMS no
    * cross-engine oracle can hash (lossy), so the quarantine row pins
    * status + geometry instead. */
  def decodeJpegQuarantineOracle(maxDocId: Long = 256L, junkId: Long = 300L,
                                 truncId: Long = 301L): String =
    s"""SELECT doc_id, 'ok' AS status, width, height, n_px
       |FROM (${decodeJpegBandedOracle(maxDocId)})
       |UNION ALL
       |${corruptRows(Seq(junkId, truncId), Seq("width", "height", "n_px"))}""".stripMargin

  /** The clip generation formula as SQL ([[MultimodalOps.wavSample]]): one row per
    * interleaved sample of every fixture clip — i = f·chn + ch, so
    * f = i // chn, ch = i % chn, and the char index (f·chn + ch) mod n
    * = i mod n. Shared by every audio oracle, the way [[bmpPixelsSql]]
    * serves the image ones. */
  private def wavSamplesSql(maxDocId: Long): String =
    s"""SELECT doc_id, chn, fr, i, i // chn AS f, i % chn AS ch,
       |  ((ascii(substr(text, CAST(i % n AS INT) + 1, 1)) * 523
       |    + (i // chn) * 1031 + (i % chn) * 1733) % 65536) - 32768 AS s
       |FROM (${fixtureElements(maxDocId,
                 "1 + (doc_id % 2) AS chn, 1 + (length(text) % 29) AS fr", "fr * chn")})""".stripMargin

  /** The audio oracles' stats tail: [[MultimodalOps.decodeClip]]'s row over samples
    * `v` (doc_id, chn, fr, f, ch, s), keeping every `step`-th frame. */
  private def wavStatsSql(v: String, step: Int = 1): String =
    s"""WITH v AS ($v)
       |SELECT doc_id,
       |  CAST(chn AS BIGINT) AS n_channels,
       |  CAST(${WavSampleRate / step} AS BIGINT) AS sample_rate,
       |  CAST((fr + ${step - 1}) // $step AS BIGINT) AS n_frames,
       |  CAST(sum(CASE WHEN ch = 0 THEN s ELSE 0 END) AS BIGINT) AS sum_ch0,
       |  CAST(sum(CASE WHEN ch = 1 THEN s ELSE 0 END) AS BIGINT) AS sum_ch1,
       |  CAST(min(s) AS BIGINT) AS min_sample,
       |  CAST(max(s) AS BIGINT) AS max_sample
       |FROM v WHERE f % $step = 0
       |GROUP BY doc_id, chn, fr""".stripMargin

  /** Oracle: expected format + exact per-channel sums + observed sample
    * range from the generation formula — agreement means
    * wavBytes → javax.sound decode round-tripped every sample of every
    * clip. */
  def decodeAudioOracle(maxDocId: Long = 256L): String =
    wavStatsSql(wavSamplesSql(maxDocId))

  /** Oracle for the decoded-audio 2× downsample: same formula filtered
    * to even frames, halved nominal rate. */
  def resampleAudioOracle(maxDocId: Long = 256L): String =
    wavStatsSql(wavSamplesSql(maxDocId), step = 2)

  /** The G.711 μ-law encode→decode ROUND TRIP of column `s` in pure
    * integer SQL (no float log — the segment is an 8-way integer CASE,
    * so boundaries are exact): mag = min(|s|, 32635) + 132; p =
    * 2^segment via the highest-bit CASE; mantissa = (mag / 8p) mod 16;
    * adds the reconstructed magnitude d = (8·mantissa + 132)·p − 132
    * (the sign is the caller's: s's). */
  private def ulawRoundTripSql(samples: String): String =
    s"""SELECT *, (((mag // (8 * p)) % 16) * 8 + 132) * p - 132 AS d
       |FROM (
       |  SELECT *, CASE WHEN mag >= 16384 THEN 128 WHEN mag >= 8192 THEN 64
       |                 WHEN mag >= 4096 THEN 32 WHEN mag >= 2048 THEN 16
       |                 WHEN mag >= 1024 THEN 8 WHEN mag >= 512 THEN 4
       |                 WHEN mag >= 256 THEN 2 ELSE 1 END AS p
       |  FROM (SELECT *, least(abs(s), 32635) + 132 AS mag
       |        FROM ($samples)))""".stripMargin

  /** Oracle for the companded decode: the SAME generation formula as
    * [[decodeAudioOracle]], each sample pushed through the μ-law round
    * trip, sign reapplied. */
  def decodeUlawOracle(maxDocId: Long = 256L): String =
    wavStatsSql(
      s"""SELECT doc_id, chn, fr, f, ch, CASE WHEN s < 0 THEN -d ELSE d END AS s
         |FROM (${ulawRoundTripSql(wavSamplesSql(maxDocId))})""".stripMargin)

  /** Oracle for the a-law decode: generation formula → a-law
    * encode→decode round trip in pure integer SQL. Segment 0 is the
    * mid-rise cell ((mag/16)·16 + 8 — never zero); segments 1..7 use
    * p = 2^(seg−1) from the highest-bit CASE, mantissa
    * (mag / 16p) mod 16, reconstruction (16·mantissa + 264)·p. Sign is
    * the INPUT's sign (a-law's bit-7-positive convention folds away in
    * the round trip), with x = 0 reconstructing to +8. */
  def decodeAlawOracle(maxDocId: Long = 256L): String =
    wavStatsSql(
      s"""SELECT doc_id, chn, fr, f, ch, CASE WHEN s >= 0 THEN d ELSE -d END AS s
         |FROM (
         |  SELECT *, CASE WHEN mag < 256 THEN (mag // 16) * 16 + 8
         |                 ELSE (((mag // (16 * p)) % 16) * 16 + 264) * p END AS d
         |  FROM (
         |    SELECT *, CASE WHEN mag >= 16384 THEN 64 WHEN mag >= 8192 THEN 32
         |                   WHEN mag >= 4096 THEN 16 WHEN mag >= 2048 THEN 8
         |                   WHEN mag >= 1024 THEN 4 WHEN mag >= 512 THEN 2
         |                   ELSE 1 END AS p
         |    FROM (SELECT *, least(abs(s), 32767) AS mag
         |          FROM (${wavSamplesSql(maxDocId)}))))""".stripMargin)

  /** Oracle: the μ-law round-trip formula rows tagged 'ok' UNION the
    * two literal quarantine rows — the corrupt verdicts are part of the
    * CONTRACT, not a side effect. */
  def decodeLenientOracle(maxDocId: Long = 256L, junkId: Long = 300L,
                          emptyId: Long = 301L): String = {
    val cols = Seq("n_channels", "sample_rate", "n_frames", "sum_ch0", "sum_ch1",
      "min_sample", "max_sample")
    s"""WITH good AS (${decodeUlawOracle(maxDocId)})
       |SELECT doc_id, 'ok' AS status, ${cols.mkString(", ")}
       |FROM good
       |UNION ALL
       |${corruptRows(Seq(junkId, emptyId), cols)}""".stripMargin
  }

  /** Oracle: every sampled frame's dims + exact gray sum from the
    * generation formula — agreement means the sequence write → multi-
    * image read round-tripped every pixel of every SAMPLED frame and
    * skipped exactly the others. */
  def sampleFramesRealOracle(maxDocId: Long = 256L, stride: Int = 2): String =
    s"""WITH v AS (
       |  SELECT doc_id, w, h, i // (w * h) AS f,
       |    (ascii(substr(text, CAST(i % n AS INT) + 1, 1)) * 7
       |      + (i // (w * h)) * 13 + (i % (w * h)) * 3) % 256 AS g
       |  FROM (${fixtureElements(maxDocId,
                   "1 + (length(text) % 9) AS w, 1 + (doc_id % 5) AS h, 1 + (doc_id % 4) AS fr",
                   "fr * w * h")}))
       |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(sum(g) AS BIGINT) AS sum_gray
       |FROM v WHERE f % $stride = 0
       |GROUP BY doc_id, f, w, h""".stripMargin

  /** Oracle: the deterministic fake is reproducible in SQL over ASCII
    * text — byte length, first byte code point, sum of code points.
    */
  val featuresOracle: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1))
      |            ELSE -1 END AS BIGINT) AS first_byte,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(text) + 1),
      |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), (a, b) -> a + b)
      |    AS BIGINT) AS checksum,
      |  lang
      |FROM documents""".stripMargin
}
