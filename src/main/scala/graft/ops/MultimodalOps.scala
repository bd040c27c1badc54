package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** A media asset: opaque binary payload + typed metadata — the multimodal
  * column pattern (SURVEY.md §7 B11). Image/audio/video travel as `binary`
  * columns; decode/feature-extract happens executor-side in typed batches.
  */
case class MediaAsset(doc_id: Long, payload: Array[Byte],
                      lang: String, source: String, n_chars: Long)

/** Extracted features for one asset. */
case class MediaFeatures(doc_id: Long, byte_len: Long, first_byte: Long,
                         checksum: Long, lang: String)

/** One asset after resize/downsample. */
case class ResizedAsset(doc_id: Long, orig_len: Long, new_len: Long,
                        resized_hex: String)

/** A REAL decoded raster's stats: dims + exact per-channel pixel sums
  * (integer sums, not means — bitwise hash-stable; a mean is one
  * division away for any consumer).
  */
case class DecodedImage(doc_id: Long, width: Long, height: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long, n_px: Long)

/** A REAL decoded audio clip's stats: format metadata + exact
  * per-channel sample sums (integer sums — bitwise hash-stable) and
  * the sample range actually observed (pins signed 16-bit handling:
  * an unsigned or byte-swapped read shifts min/max violently).
  */
case class DecodedAudio(doc_id: Long, n_channels: Long, sample_rate: Long,
                        n_frames: Long, sum_ch0: Long, sum_ch1: Long,
                        min_sample: Long, max_sample: Long)

/** One REAL decoded (and stride-sampled) video frame's stats: frame
  * index within its container, dims, exact gray-value sum.
  */
case class DecodedFrame(doc_id: Long, frame_idx: Long, width: Long,
                        height: Long, sum_gray: Long)

/** One image blob's LENIENT decode verdict — the [[LenientAudio]]
  * quarantine row shape for the image ingest path: a truncated or junk
  * blob becomes a "corrupt" row with a diagnostic reason instead of a
  * task failure.
  */
case class LenientImage(doc_id: Long, status: String,
                        width: Option[Long], height: Option[Long],
                        sum_r: Option[Long], sum_g: Option[Long],
                        sum_b: Option[Long], n_px: Option[Long],
                        reason: Option[String] = None)

/** One blob's LENIENT decode verdict: `status` is "ok" (stats
  * populated) or "corrupt" (stats null) — the quarantine row shape, so
  * one bad byte among billions of files routes to a table instead of
  * killing the job.
  */
case class LenientAudio(doc_id: Long, status: String,
                        n_channels: Option[Long], sample_rate: Option[Long],
                        n_frames: Option[Long], sum_ch0: Option[Long],
                        sum_ch1: Option[Long], min_sample: Option[Long],
                        max_sample: Option[Long],
                        reason: Option[String] = None)

/** Multimodal column operators (SURVEY.md §7 B11).
  *
  * [[decodeStub]] is the GENERIC opaque-payload featurizer (length /
  * first byte / additive checksum — the modality-agnostic shape for
  * codecs the container lacks); the real codecs (BMP/PNG/JPEG rasters,
  * PCM and G.711 WAV clips, GIF/TIFF frame sequences) decode through
  * the JDK's javax.imageio / javax.sound executor-side, every one over
  * the same blob prelude ([[decodeBlobs]]). All the Spark-side plumbing
  * is shared and real:
  * binary payload column, typed case-class Encoders, executor-side
  * per-partition batch processing via mapPartitions (the Scala analogue
  * of mapInPandas — one iterator per partition, so codec/model init
  * amortizes across the batch), and metadata kept columnar next to the
  * blob.
  *
  * Scale notes: blobs ride the scan but never a shuffle (all transforms
  * here are narrow); real pipelines keep payloads in their own parquet
  * column so column pruning skips them unless decoded, and size
  * `spark.sql.files.maxPartitionBytes` so a partition of blobs fits the
  * executor heap.
  */
object MultimodalOps {

  /** Pack documents into the multimodal shape: text bytes stand in for an
    * opaque media payload; metadata stays as typed columns.
    */
  def pack(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      col("lang"), col("source"),
      length(col("text")).cast("long").as("n_chars"))

  /** The decode/feature-extract stage: per-partition batches of typed
    * assets → features. A real image decoder would replace the body of the
    * iterator map; the signature, batching and schema are the production
    * shape.
    */
  def decodeStub(spark: SparkSession, packed: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    packed.as[MediaAsset].mapPartitions { assets =>
      // One-time per-partition init would go here (codec, model weights).
      assets.map { a =>
        val bytes = a.payload
        val checksum = bytes.foldLeft(0L)((acc, b) => acc + (b & 0xffL))
        MediaFeatures(a.doc_id, bytes.length.toLong,
          if (bytes.nonEmpty) (bytes(0) & 0xffL) else -1L, checksum, a.lang)
      }
    }
  }

  /** Frame sampling: extract every `stride`-th fixed-size chunk of the
    * opaque payload (≙ sampling video frames / audio windows before the
    * expensive decode). Pure byte arithmetic on the binary column —
    * map-side, and at scale it is the pruning step that keeps the decode
    * stage's input linear in SAMPLED frames, not raw bytes.
    */
  def sampleFrames(packed: DataFrame, frameSize: Int = 16, stride: Int = 4): DataFrame =
    packed
      // Empty payloads yield zero frames (sequence(0, -1) would otherwise
      // produce a descending [0,-1] array and emit one bogus empty frame).
      .filter(octet_length(col("payload")) > 0)
      .select(
        col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  filter(sequence(0, CAST(floor((octet_length(payload) - 1) / $frameSize) AS INT)),
             |         i -> i % $stride = 0),
             |  i -> substring(payload, i * $frameSize + 1, $frameSize))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        // hex, not raw binary: the compare harness hashes via pandas, which
        // cannot sort/factorize bytearray cells. Same hex() on the oracle.
        hex(col("col")).as("frame"))

  /** Frame-sampling oracle (payload is the text's bytes; ASCII, so
    * substring-on-text equals substring-on-blob). Range bound derives from
    * the longest document, not a hard cap; empty docs emit zero frames on
    * both sides.
    */
  val sampleFramesOracle: String =
    """SELECT doc_id, frame_idx, hex(encode(frame)) AS frame FROM (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT) AS frame_idx,
      |    substr(text, i * 16 + 1, 16) AS frame
      |  FROM documents,
      |       (SELECT unnest(range(0,
      |          (SELECT CAST(max(octet_length(encode(text))) / 16 AS BIGINT) + 1
      |           FROM documents))) AS i) t
      |  WHERE i <= floor((octet_length(encode(text)) - 1) / 16)
      |    AND i % 4 = 0)""".stripMargin

  /** Resize/downsample: nearest-neighbor decimation of the opaque
    * payload (every `stride`-th byte — ≙ image downscale / audio
    * resample before featurization). Same executor-side typed-batch
    * shape as [[decodeStub]]: a real resampler (libvips/ffmpeg) replaces
    * the loop body; partition-batch init, narrow transform, blobs never
    * shuffle. Output payload as hex — compare-harness-stable, and the
    * 4× volume reduction is what the downstream decode stage scans.
    */
  def resizeStub(spark: SparkSession, packed: DataFrame, stride: Int = 4): Dataset[ResizedAsset] = {
    import spark.implicits._
    packed.as[MediaAsset].mapPartitions { assets =>
      assets.map { a =>
        val out = a.payload.indices.collect {
          case i if i % stride == 0 => a.payload(i)
        }
        ResizedAsset(a.doc_id, a.payload.length.toLong, out.length.toLong,
          out.map(b => f"${b & 0xff}%02X").mkString)
      }
    }
  }

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

  // --------------------------------------------------------------------
  // Real binaryFile ingest: the ingest EDGE of a multimodal pipeline —
  // a directory of media files → Spark's `binaryFile` source →
  // content-addressed manifest → digest dedup. Everything upstream of
  // here operated on packed binary COLUMNS; this is the executed path
  // that turns files on disk into those columns.
  // --------------------------------------------------------------------

  /** Modality extension for a fixture asset — doc_id % 3 keeps the three
    * modalities interleaved deterministically. */
  def modalityExt(id: Long): String = (id % 3) match {
    case 0L => "img"
    case 1L => "aud"
    case _  => "vid"
  }

  /** Write the fixture media tree for [[ingestManifest]]: one binary
    * file per document with doc_id < `maxDocId` (payload = the text's
    * UTF-8 bytes — the container has no media codecs, so text bytes
    * stand in for opaque media exactly as in [[pack]]), named
    * `doc_<id>.<img|aud|vid>`; every `dupEvery`-th doc additionally gets
    * a byte-identical `dup_<id>.<ext>` copy — the planted exact
    * duplicates the digest dedup must collapse. Lifecycle as
    * [[writeTree]]; the payload is raw UTF-8, so no ASCII requirement.
    */
  def writeFixtureTree(documents: DataFrame, dir: String,
                       maxDocId: Long = 256L, dupEvery: Long = 8L): Unit =
    writeTree(documents, dir, "(doc|dup)_\\d+\\.(img|aud|vid)", maxDocId,
        ascii = false) { (id, text) =>
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ext = modalityExt(id)
      (s"doc_$id.$ext" -> bytes) +:
        (if (id % dupEvery == 0L) Seq(s"dup_$id.$ext" -> bytes) else Nil)
    }

  /** The one fixture-tree lifecycle: create `dir`, delete the files
    * whose names match `pattern` (the tree is REBUILT from scratch each
    * call, so stale files from an earlier run/config never leak into an
    * ingest), then write `files(id, text)` — (name, bytes) pairs — for
    * every document with doc_id < `maxDocId` and non-empty text. Empty
    * payloads are never written: Spark's file-partition planner skips
    * zero-length files (spec-pinned), so both sides exclude them. The
    * collect is bounded by maxDocId (≤256 rows of test fixture) — the
    * documented driver-side-metadata collect class; a production ingest
    * starts from files that already exist. `ascii` enforces
    * [[requireAsciiFixture]] for the trees whose formulas index chars.
    */
  private def writeTree(documents: DataFrame, dir: String, pattern: String,
                        maxDocId: Long, ascii: Boolean = true)
                       (files: (Long, String) => Seq[(String, Array[Byte])]): Unit = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(dir)
    Files.createDirectories(base)
    val old = Files.list(base)
    try old.forEach { p =>
      if (p.getFileName.toString.matches(pattern)) Files.delete(p)
    } finally old.close()
    documents.filter(col("doc_id") < maxDocId)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
      .foreach { r =>
        val (id, text) = (r.getLong(0), r.getString(1))
        if (ascii) requireAsciiFixture(id, text)
        for ((name, bytes) <- files(id, text))
          Files.write(base.resolve(name), bytes)
      }
  }

  /** Ingest a directory of media files through Spark's `binaryFile`
    * source and build the content-addressed MANIFEST: file name, parsed
    * doc_id, modality (from the extension — metadata recovered from the
    * ingest path itself), byte length, md5 digest, and the digest-dedup
    * verdict (`canonical` = the lexicographically-first file carrying
    * these exact bytes; `is_canonical` marks the survivor — exact-dup
    * payloads dedupe by digest, the binary twin of exactDedup).
    *
    * Scale shape: `binaryFile` streams each file as one row (blobs ride
    * the scan, never a shuffle — the digest is computed map-side and the
    * content column is DROPPED before the only exchange); the dedup is
    * a digest-partitioned window min over the content-free manifest
    * rows — ONE scan of the payload bytes, O(files) shuffle traffic of
    * (digest, name) metadata. (An aggregate-join formulation plans the
    * binaryFile scan + md5 of every payload byte TWICE — the two
    * subplans' exchanges differ, so ReuseExchange can't dedupe them;
    * review-caught.) At 100 TB the same plan holds: files >2 GB aside
    * (binaryFile's per-row limit — chunk or pointer past it), manifest
    * rows are path+digest metadata regardless of payload size.
    */
  def ingestManifest(spark: SparkSession, dir: String): DataFrame = {
    val m = manifestRows(spark.read.format("binaryFile").load(dir))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("digest")
    m.withColumn("canonical", min("file_name").over(w))
      .select(col("file_name"), col("doc_id"), col("modality"),
        col("byte_len"), col("digest"), col("canonical"),
        (col("file_name") === col("canonical")).as("is_canonical"))
  }

  /** The ONE manifest-row derivation (name parse, modality from
    * extension, byte length, map-side md5 — content dropped right here),
    * shared by the batch ingest above and the streaming twin
    * ([[graft.streaming.StreamingIngest.manifestStream]]) so the two
    * ingest edges cannot diverge on the metadata contract. Input: a
    * `binaryFile`-schema frame (path, length, content). */
  def manifestRows(files: DataFrame): DataFrame =
    files
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        col("length").as("byte_len"),
        md5(col("content")).as("digest"))
      .withColumn("doc_id",
        regexp_extract(col("file_name"), "^(?:doc|dup)_(\\d+)\\.", 1)
          .cast("long"))
      .withColumn("modality",
        when(col("file_name").endsWith(".img"), "image")
          .when(col("file_name").endsWith(".aud"), "audio")
          .otherwise("video"))

  /** The fixture location for a given sf dir — the shared pid-scoped
    * lifecycle contract, see [[FixtureDirs]] (shared with the
    * `optimize_roundtrip` write-path query). */
  def fixtureDir(sfDir: String): String = FixtureDirs.dir("graft_mm", sfDir)

  /** The multimodal FLAGSHIP composite — the one
    * plan an ingest-day run executes, composing the audited stages the
    * way `corpus_prep` composes the text ones: content-addressed
    * manifest over BOTH asset trees (the opaque media tree with its
    * planted exact duplicates, and the real-codec G.711 tree with its
    * planted corrupt blobs), LENIENT decode verdicts joined onto the
    * audio manifest rows, digest-dedup survivor marking across the
    * union, and per-(modality, verdict) accounting — files, canonical
    * survivors, total bytes. The audio dedup is NOT a no-op: μ-law
    * quantization genuinely collapses distinct short texts to
    * byte-identical containers (three planted-by-the-corpus collision
    * groups at sf0.01 — 1-frame files whose single code byte agrees),
    * and the oracle predicts exactly those groups from the companding
    * formula.
    *
    * Verdict vocabulary: `opaque` = no codec registered for the
    * container (the documented stub class — counted, never decoded),
    * `ok` / `corrupt` = [[decodeAudioLenient]]'s per-blob quarantine
    * verdicts. Scale shape: each tree is one `binaryFile` scan with
    * map-side md5 (content dropped before any exchange); the audio
    * tree is scanned once more by the decode (at scale the digest
    * would ride the decode's mapPartitions pass — kept as two audited
    * single-pass stages here, both linear); the dedup is the same
    * digest-window min as [[ingestManifest]], partitioned PER TREE
    * (the trees are separate stores, and the junk corrupt blob's raw
    * ASCII payload could legitimately collide with a document's text
    * bytes across trees); the accounting reduces to a handful of
    * (modality, verdict) groups. The oracle reconstructs canonical
    * groups per tree from the generation formulas — agreement
    * cross-checks the full byte path.
    */
  def multimodalPrep(spark: SparkSession, opaqueDir: String,
                     audioDir: String): DataFrame = {
    val opq = manifestRows(spark.read.format("binaryFile").load(opaqueDir))
      .select(col("file_name"), col("modality"), col("byte_len"),
        col("digest"), lit("opaque").as("verdict"))
    val auFiles = spark.read.format("binaryFile").load(audioDir)
    val verdicts = decodeAudioLenient(spark, auFiles).toDF()
      .select(col("doc_id").as("v_doc_id"), col("status"))
    val au = auFiles
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        col("length").as("byte_len"),
        md5(col("content")).as("digest"),
        regexp_extract(col("path"), "ul_(\\d+)\\.wav$", 1).cast("long")
          .as("doc_id"))
      .join(verdicts, col("doc_id") === col("v_doc_id"), "left")
      .select(col("file_name"), lit("audio").as("modality"),
        col("byte_len"), col("digest"),
        coalesce(col("status"), lit("unreadable")).as("verdict"))
    // dedup PER TREE (tree, digest) — the trees are separate stores,
    // and the oracle reconstructs groups per tree; a global digest
    // window would additionally collapse the one cross-tree collision
    // the fixtures genuinely permit (the junk corrupt blob's payload is
    // raw ASCII 'NOT A RIFF' — a document could carry that exact text;
    // review-caught)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tree", "digest")
    opq.withColumn("tree", lit("opq"))
      .unionByName(au.withColumn("tree", lit("au")))
      .withColumn("is_canonical",
        col("file_name") === min("file_name").over(w))
      .groupBy("modality", "verdict")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canonical"),
        sum(col("byte_len")).as("total_bytes"))
  }

  /** Oracle: composes the stage oracles' derivations — the
    * [[ingestManifestOracle]] tree reconstruction (per-TEXT digest
    * groups: the payload is the text's bytes, so equal texts collapse
    * across names AND extensions), the μ-law tree reconstructed from
    * the container formula (byte_len = 44 header + channels·frames
    * code bytes), and the two literal corrupt blobs from
    * [[writeCorruptAudioFixtures]]. Audio digest groups are keyed on
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

  /** [[writeFixtureTree]]'s tree reconstructed as two CTEs: `sel`, the
    * documents it writes, and `files` — one row per written file
    * (file_name, doc_id, text, modality, byte_len), the planted `dup_`
    * copies included. */
  private def opaqueTreeSql(maxDocId: Long, dupEvery: Long): String =
    s"""sel AS (
       |  SELECT doc_id, text,
       |    CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'aud'
       |         ELSE 'vid' END AS ext
       |  FROM documents
       |  WHERE doc_id < $maxDocId AND text IS NOT NULL AND length(text) > 0),
       |files AS (
       |  SELECT prefix || '_' || doc_id || '.' || ext AS file_name, doc_id, text,
       |    CASE ext WHEN 'img' THEN 'image' WHEN 'aud' THEN 'audio'
       |         ELSE 'video' END AS modality,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
       |  FROM (SELECT 'doc' AS prefix, * FROM sel
       |        UNION ALL
       |        SELECT 'dup', * FROM sel WHERE doc_id % $dupEvery = 0))""".stripMargin

  // --------------------------------------------------------------------
  // The shared decode path (SURVEY.md §7 B11): every real-codec decoder
  // is the blob prelude below plus one per-blob step — a raster
  // ([[decodeRaster]]), a clip ([[decodeClip]]) or a frame sequence —
  // and each lenient twin is its strict step inside the quarantine
  // catch ([[corruptReason]]).
  // --------------------------------------------------------------------

  /** The blob prelude: keep the `binaryFile` rows whose path matches
    * `extPattern` BEFORE the typed conversion (a stray path would
    * regexp_extract to '' → null doc_id and fail the encoder with an
    * opaque null-value error instead of a loud per-blob decode error),
    * take the doc id from the pattern's first group, and run `decode`
    * on each (doc_id, bytes) executor-side, one iterator per partition
    * so codec init amortizes across the batch. Blobs ride the scan and
    * are dropped at decode; only the decoded metadata ever reaches an
    * exchange. At 100 TB a real codec (libvips/ffmpeg via JNI) drops into
    * the same iterator.
    */
  private def decodeBlobs[T: Encoder](files: DataFrame, extPattern: String)
                                     (decode: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    import files.sparkSession.implicits._
    files
      .filter(col("path").rlike(extPattern))
      .select(
        regexp_extract(col("path"), extPattern, 1).cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => decode(id, bytes) })
  }

  /** A "corrupt" verdict's reason: exception class + message, so a
    * SYSTEMIC fault (e.g. a missing codec provider failing every blob
    * the same way) is distinguishable from per-blob data corruption. */
  private def corruptReason(e: Throwable): Option[String] =
    Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(256)}")

  /** Exact per-channel sums over the raster pixels whose x and y are
    * both multiples of `step`: 1 = every pixel, 2 = the nearest-neighbor
    * 2× downscale (dims round up). */
  private def rasterStats(id: Long, img: java.awt.image.BufferedImage,
                          step: Int): DecodedImage = {
    val (w, h) = ((img.getWidth + step - 1) / step, (img.getHeight + step - 1) / step)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x * step, y * step)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    DecodedImage(id, w.toLong, h.toLong, sr, sg, sb, w.toLong * h)
  }

  /** One image blob through whichever registered ImageIO reader accepts
    * it, then [[rasterStats]]; no reader → fails naming the doc. */
  private def decodeRaster(id: Long, bytes: Array[Byte], step: Int): DecodedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null,
      s"undecodable image for doc $id: no registered reader accepted the blob")
    rasterStats(id, img, step)
  }

  // --------------------------------------------------------------------
  // REAL image decode: deterministic uncompressed 24-bit BMP fixtures
  // generated from the documents table by pure byte arithmetic, decoded
  // executor-side through the JDK's javax.imageio reader (zero new
  // dependencies). Encoder (hand-rolled bytes here) and decoder
  // (ImageIO) are INDEPENDENT implementations of the BMP spec, and the
  // DuckDB oracle recomputes the expected dims + exact channel sums
  // from the generation formula over `documents` — three-way agreement,
  // so a byte misplaced anywhere (header field, bottom-up row order,
  // BGR channel order, row padding) breaks the gate.
  // --------------------------------------------------------------------

  /** Fixture raster geometry + pixel formula — ONE definition shared by
    * the writer, the spec, and (as SQL, below) the oracle. Pixel p
    * (row-major from the TOP-left, p = y·w + x) takes the text's byte at
    * p mod n, and channels are (c, (3c+p) mod 256, (c+7p) mod 256) — x
    * and y both enter via p, so any axis flip or row-order mistake in
    * encode OR decode shifts the sums.
    */
  def bmpWidth(nChars: Long): Int = (1L + nChars % 13L).toInt
  def bmpHeight(docId: Long): Int = (1L + docId % 7L).toInt
  def bmpPixel(text: String, w: Int)(x: Int, y: Int): (Int, Int, Int) = {
    val p = y * w + x
    val c = text.charAt(p % text.length).toInt & 0xff
    (c, (c * 3 + p) % 256, (c + p * 7) % 256)
  }

  /** The formula above indexes UTF-16 code units (`charAt`,
    * `text.length`) while the DuckDB oracle uses character semantics
    * (`ascii(substr(...))`, `length(text)`) — identical ONLY over ASCII
    * text, where chars == code units == bytes on both engines. The
    * fixture writers enforce that precondition loudly instead of letting
    * a non-ASCII document produce a silent cross-engine divergence. */
  private def requireAsciiFixture(id: Long, text: String): Unit =
    require(text.forall(_ < 128),
      s"image-fixture pixel formula is defined over ASCII text (char and " +
        s"byte semantics must agree between Scala and the DuckDB oracle); " +
        s"doc $id contains non-ASCII — extend bmpPixelsSql to byte " +
        s"arithmetic before widening the fixture domain")

  /** Hand-rolled uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up
    * rows, BGR byte order, rows padded to 4 bytes) — deliberately NOT
    * written through ImageIO, so the decode test has an independent
    * encoder on the other side.
    */
  def bmpBytes(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy // bottom-up file rows
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var pad = w * 3
      while (pad < rowSize) { buf.put(0.toByte); pad += 1 }
      fy += 1
    }
    buf.array()
  }

  /** The fixture raster as an RGB image — the input of the
    * ImageIO-encoded trees (PNG, JPEG). */
  private def fixtureRaster(id: Long, text: String): java.awt.image.BufferedImage = {
    val (w, h) = (bmpWidth(text.length.toLong), bmpHeight(id))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = bmpPixel(text, w)(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  /** Write the BMP fixture tree (`img_<id>.bmp`) through [[writeTree]];
    * no planted dups — digest dedup is the manifest query's job, this
    * tree exists to be DECODED.
    */
  def writeBmpFixtureTree(documents: DataFrame, dir: String,
                          maxDocId: Long = 256L): Unit =
    writeTree(documents, dir, "img_\\d+\\.bmp", maxDocId) { (id, text) =>
      val w = bmpWidth(text.length.toLong)
      Seq(s"img_$id.bmp" -> bmpBytes(w, bmpHeight(id), bmpPixel(text, w)))
    }

  /** Write the SAME rasters as PNG (`img_<id>.png`): a second container
    * proves the ImageIO read path general, not specialized to the
    * hand-rolled BMP header layout. PNG goes through ImageIO's WRITER
    * (deflate compression, top-down rows, big-endian chunk framing —
    * none of which the BMP path exercises); the DuckDB oracle still
    * recomputes the expected sums from the generation formula, blind to
    * both. */
  def writePngFixtureTree(documents: DataFrame, dir: String,
                          maxDocId: Long = 256L): Unit =
    writeTree(documents, dir, "img_\\d+\\.png", maxDocId) { (id, text) =>
      Seq(s"img_$id.png" ->
        imageBytes("png")((writer, _) => writer.write(fixtureRaster(id, text))))
    }

  /** The bytes ImageIO's `format` writer emits for `write(writer,
    * defaultParam)`, buffered in memory (no cache file per image). */
  private def imageBytes(format: String)
                        (write: (javax.imageio.ImageWriter, javax.imageio.ImageWriteParam) => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName(format).next()
    try {
      writer.setOutput(ios)
      write(writer, writer.getDefaultWriteParam)
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Decode a `binaryFile` frame of images (BMP by default; any format a
    * registered ImageIO reader accepts) into dims + exact channel sums.
    * An undecodable blob fails the task, naming the doc.
    */
  def decodeImages(spark: SparkSession, files: DataFrame,
                   extPattern: String = "img_(\\d+)\\.bmp$"): Dataset[DecodedImage] = {
    import spark.implicits._
    decodeBlobs(files, extPattern)((id, b) => Iterator.single(decodeRaster(id, b, 1)))
  }

  /** Nearest-neighbor 2× downscale over REAL decoded rasters (keep
    * pixels with even x AND even y), emitting the resized dims + exact
    * channel sums — the resize path fed by actual pixels.
    */
  def resizeDecoded(spark: SparkSession, files: DataFrame,
                    extPattern: String = "img_(\\d+)\\.bmp$"): Dataset[DecodedImage] = {
    import spark.implicits._
    decodeBlobs(files, extPattern)((id, b) => Iterator.single(decodeRaster(id, b, 2)))
  }

  /** The generation formula as SQL: dims + per-pixel channel values
    * over `documents`, shared by both decode oracles. */
  private def bmpPixelsSql(maxDocId: Long): String =
    s"""SELECT doc_id, w, h,
       |  ascii(substr(text, CAST(p % n AS INT) + 1, 1)) AS c, p
       |FROM (
       |  SELECT doc_id, text, n, w, h, unnest(range(0, w * h)) AS p
       |  FROM (
       |    SELECT doc_id, text, length(text) AS n,
       |      1 + (length(text) % 13) AS w, 1 + (doc_id % 7) AS h
       |    FROM documents
       |    WHERE doc_id < $maxDocId AND text IS NOT NULL
       |      AND length(text) > 0))""".stripMargin

  /** Oracle: expected dims + exact channel sums from the pixel formula —
    * agreement means write(bytes) → ImageIO decode round-tripped every
    * pixel of every raster. */
  def decodeImagesOracle(maxDocId: Long = 256L): String =
    s"""WITH v AS (${bmpPixelsSql(maxDocId)})
       |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(sum(c) AS BIGINT) AS sum_r,
       |  CAST(sum((c * 3 + p) % 256) AS BIGINT) AS sum_g,
       |  CAST(sum((c + p * 7) % 256) AS BIGINT) AS sum_b,
       |  CAST(count(*) AS BIGINT) AS n_px
       |FROM v GROUP BY 1, 2, 3""".stripMargin

  /** Oracle for the decoded-raster 2× downscale: same formula filtered
    * to even (x, y) = (p mod w, p div w). */
  def resizeDecodedOracle(maxDocId: Long = 256L): String =
    s"""WITH v AS (${bmpPixelsSql(maxDocId)})
       |SELECT doc_id,
       |  CAST((w + 1) // 2 AS BIGINT) AS width,
       |  CAST((h + 1) // 2 AS BIGINT) AS height,
       |  CAST(sum(c) AS BIGINT) AS sum_r,
       |  CAST(sum((c * 3 + p) % 256) AS BIGINT) AS sum_g,
       |  CAST(sum((c + p * 7) % 256) AS BIGINT) AS sum_b,
       |  CAST(count(*) AS BIGINT) AS n_px
       |FROM v
       |WHERE (p % w) % 2 = 0 AND (p // w) % 2 = 0
       |GROUP BY 1, w, h""".stripMargin

  // --------------------------------------------------------------------
  // LOSSY-codec gate: every other decode gate is exactly invertible
  // (BMP/PNG/GIF/TIFF, PCM/G.711), so the oracle predicts pixel sums
  // EXACTLY. A real crawl ingest is dominated by JPEG, where decoded
  // pixels are APPROXIMATIONS (DCT + quantization) — the contract a
  // pipeline can actually pin is a TOLERANCE BAND, and the registered row
  // makes that band a cross-engine oracle check: the Spark side decodes
  // real JPEG bytes and compares per-channel MEANS against the generation
  // formula; the oracle recomputes dims exactly and asserts the booleans —
  // a decoder that drifts out of band (or a band set too tight for the
  // codec) goes red, not unnoticed.
  // --------------------------------------------------------------------

  /** JPEG fixture tree (`img_<id>.jpg`): the SAME deterministic rasters
    * as the BMP/PNG trees, written through ImageIO's JPEG encoder at an
    * EXPLICIT quality — the one container in the image family whose
    * decode does not round-trip the pixels. Lifecycle as [[writeTree]]. */
  def writeJpegFixtureTree(documents: DataFrame, dir: String,
                           maxDocId: Long = 256L,
                           quality: Float = 0.95f): Unit =
    writeTree(documents, dir, "img_\\d+\\.jpg", maxDocId) { (id, text) =>
      Seq(s"img_$id.jpg" -> imageBytes("jpeg") { (writer, param) =>
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(quality)
        writer.write(null,
          new javax.imageio.IIOImage(fixtureRaster(id, text), null, null), param)
      })
    }

  /** The generation formula's expected dims + EXACT channel sums as a
    * distributed Spark derivation over `documents` — the reference side
    * of the tolerance band (the Spark twin of [[bmpPixelsSql]]; the
    * oracle recomputes the same values independently in DuckDB). Output:
    * (doc_id, w, h, e_sum_r, e_sum_g, e_sum_b). */
  def expectedImageStats(documents: DataFrame,
                         maxDocId: Long = 256L): DataFrame =
    documents.filter(col("doc_id") < maxDocId)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"),
        (lit(1L) + (length(col("text")) % 13).cast("long")).as("w"),
        (lit(1L) + (col("doc_id") % 7)).cast("long").as("h"))
      .select(col("doc_id"), col("w"), col("h"), col("n"), col("text"),
        explode(expr("sequence(0L, w * h - 1L)")).as("p"))
      .withColumn("c",
        ascii(expr("substring(text, CAST(p % n AS INT) + 1, 1)")).cast("long"))
      .groupBy("doc_id", "w", "h")
      .agg(sum(col("c")).as("e_sum_r"),
        sum(expr("(c * 3 + p) % 256")).as("e_sum_g"),
        sum(expr("(c + p * 7) % 256")).as("e_sum_b"))

  /** Decode the JPEG tree and gate each raster against the generation
    * formula with a TOLERANCE-BANDED contract: dims must match EXACTLY
    * (lossy compression never changes geometry), per-channel MEANS must
    * land within `tol` gray levels of the formula's exact means (DCT
    * quantization perturbs individual pixels hard but preserves local
    * averages — though the driver corpus' rasters are as small as 1×1,
    * where the "mean" is one chroma-subsampled pixel: measured worst
    * deviation is 6/255 at quality 0.95, so the default band is 16/255
    * and the Round15 spec pins the ≥2× margin). Output:
    * (doc_id, width, height, n_px, dims_ok, r_in_band, g_in_band,
    * b_in_band) — the oracle predicts dims from the formula and expects
    * every boolean TRUE, so an out-of-band decode is a red row, not a
    * silent quality drift. Plan shape: the decode is [[decodeImages]]
    * (per-partition ImageIO batches, only metadata reaches the join);
    * the expected side is formula-derived metadata; the join is
    * doc_id-keyed and band arithmetic is a map-side projection.
    */
  def decodeJpegBanded(spark: SparkSession, files: DataFrame,
                       documents: DataFrame, tol: Double = 16.0,
                       maxDocId: Long = 256L): DataFrame = {
    def band(actual: String, expected: String): Column =
      abs(col(actual).cast("double") / col("n_px").cast("double") -
        col(expected).cast("double") /
          (col("w") * col("h")).cast("double")) <= tol
    decodeImages(spark, files, "img_(\\d+)\\.jpg$").toDF()
      .join(expectedImageStats(documents, maxDocId), "doc_id")
      .select(col("doc_id"), col("width"), col("height"), col("n_px"),
        (col("width") === col("w") && col("height") === col("h"))
          .as("dims_ok"),
        band("sum_r", "e_sum_r").as("r_in_band"),
        band("sum_g", "e_sum_g").as("g_in_band"),
        band("sum_b", "e_sum_b").as("b_in_band"))
  }

  /** Oracle: dims recomputed exactly from the generation formula; every
    * band boolean expected TRUE. The band itself is enforced Spark-side
    * against independently derived expected sums — the oracle pins that
    * the verdicts (not the raw lossy sums, which no cross-engine
    * contract can hash) agree. */
  def decodeJpegBandedOracle(maxDocId: Long = 256L): String =
    s"""SELECT doc_id,
       |  CAST(1 + (length(text) % 13) AS BIGINT) AS width,
       |  CAST(1 + (doc_id % 7) AS BIGINT) AS height,
       |  CAST((1 + (length(text) % 13)) * (1 + (doc_id % 7)) AS BIGINT) AS n_px,
       |  TRUE AS dims_ok, TRUE AS r_in_band, TRUE AS g_in_band,
       |  TRUE AS b_in_band
       |FROM documents
       |WHERE doc_id < $maxDocId AND text IS NOT NULL AND length(text) > 0""".stripMargin

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
       |SELECT v.id AS doc_id, 'corrupt' AS status,
       |  CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
       |  CAST(NULL AS BIGINT) AS n_px
       |FROM (VALUES ($junkId), ($truncId)) AS v(id)""".stripMargin

  /** Deterministic corrupt image fixtures: one junk blob (not a JPEG at
    * all) and one TRUNCATED JPEG (a valid stream cut after 24 bytes —
    * the mid-upload failure shape). Ids above the doc range, same
    * contract as [[writeCorruptAudioFixtures]]. */
  def writeCorruptJpegFixtures(dir: String, junkId: Long = 300L,
                               truncId: Long = 301L): Unit = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(dir)
    Files.createDirectories(base)
    Files.write(base.resolve(s"img_$junkId.jpg"),
      "NOT A JPEG".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", buf)
    Files.write(base.resolve(s"img_$truncId.jpg"),
      buf.toByteArray.take(24))
  }


  /** LENIENT image decode — [[decodeAudioLenient]]'s quarantine idiom
    * on the image path: [[decodeImages]]' per-blob step, with ImageIO
    * refusal (no reader, or a thrown parse error, e.g. a truncated
    * JPEG's premature EOF) becoming a "corrupt" verdict row with the
    * diagnostic reason; the catch boundary is the blob, never the task. */
  def decodeImagesLenient(spark: SparkSession, files: DataFrame,
                          extPattern: String = "img_(\\d+)\\.jpg$"): Dataset[LenientImage] = {
    import spark.implicits._
    decodeBlobs(files, extPattern) { (id, bytes) =>
      Iterator.single(try {
        val d = decodeRaster(id, bytes, 1)
        LenientImage(id, "ok", Some(d.width), Some(d.height), Some(d.sum_r),
          Some(d.sum_g), Some(d.sum_b), Some(d.n_px))
      } catch {
        case NonFatal(e) =>
          LenientImage(id, "corrupt", None, None, None, None, None, None,
            corruptReason(e))
      })
    }
  }

  // --------------------------------------------------------------------
  // REAL audio decode: the `.aud` modality gets the same treatment as the
  // images — deterministic 16-bit PCM WAV fixtures generated from the
  // documents table by pure byte arithmetic (hand-rolled
  // RIFF/WAVE/fmt/data framing — deliberately NOT written through
  // javax.sound, so the decode test has an independent encoder on the
  // other side), decoded executor-side through the JDK's
  // javax.sound.sampled WAV reader (zero new dependencies, headless- safe:
  // parsing a WAV touches no audio device). The DuckDB oracle recomputes
  // frame counts + exact per-channel sample sums from the generation
  // formula over `documents` — three-way agreement, so a byte misplaced
  // anywhere (header field, frame interleave order, little-endian sample
  // packing, sign handling) breaks the gate.
  // --------------------------------------------------------------------

  /** Fixture clip geometry + sample formula — ONE definition shared by
    * the writer, the spec, and (as SQL, below) the oracle. Frame f of
    * channel ch takes the text's char at (f·channels + ch) mod n; the
    * multipliers are chosen so c·523 overflows 16 bits for most ASCII
    * codes — the % 65536 genuinely wraps, so samples land on BOTH sides
    * of zero and the signed round trip is exercised, not just the
    * positive half. Channel count alternates mono/stereo by doc_id so
    * the interleave order is under test, not a constant. */
  def wavChannels(docId: Long): Int = (1L + docId % 2L).toInt
  def wavFrames(nChars: Long): Int = (1L + nChars % 29L).toInt
  val WavSampleRate: Int = 8000
  def wavSample(text: String, channels: Int)(f: Int, ch: Int): Int = {
    val c = text.charAt((f * channels + ch) % text.length).toInt & 0xff
    ((c * 523 + f * 1031 + ch * 1733) % 65536) - 32768
  }


  /** The one RIFF/WAVE writer: canonical 44-byte header (fmt chunk of
    * 16 with tag `formatTag`, `bits` per sample, little-endian), then
    * `sample(f, ch)` interleaved by frame — as a signed short at 16 bits,
    * as its low byte (a G.711 code) at 8. */
  private def riffWav(formatTag: Int, bits: Int, channels: Int,
                      sampleRate: Int, frames: Int,
                      sample: (Int, Int) => Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val dataSize = frames * blockAlign
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('R'.toByte).put('I'.toByte).put('F'.toByte).put('F'.toByte)
      .putInt(36 + dataSize)
      .put('W'.toByte).put('A'.toByte).put('V'.toByte).put('E'.toByte)
    buf.put('f'.toByte).put('m'.toByte).put('t'.toByte).put(' '.toByte)
      .putInt(16).putShort(formatTag.toShort)
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign) // byte rate
      .putShort(blockAlign.toShort)
      .putShort(bits.toShort)
    buf.put('d'.toByte).put('a'.toByte).put('t'.toByte).put('a'.toByte)
      .putInt(dataSize)
    for (f <- 0 until frames; ch <- 0 until channels) {
      val s = sample(f, ch)
      if (bits == 16) buf.putShort(s.toShort) else buf.put(s.toByte)
    }
    buf.array()
  }

  /** Hand-rolled canonical 44-byte PCM WAV (fmt tag 1, 16-bit signed
    * samples interleaved by frame). */
  def wavBytes(channels: Int, sampleRate: Int, frames: Int,
               sample: (Int, Int) => Int): Array[Byte] =
    riffWav(1, 16, channels, sampleRate, frames, sample)

  /** Write the WAV fixture tree (`aud_<id>.wav`) through [[writeTree]]. */
  def writeWavFixtureTree(documents: DataFrame, dir: String,
                          maxDocId: Long = 256L): Unit =
    writeWavTree(documents, dir, "aud", maxDocId, wavBytes)

  /** A clip tree `<prefix>_<id>.wav`: the fixture clip geometry and
    * sample formula through container writer `enc`. */
  private def writeWavTree(documents: DataFrame, dir: String, prefix: String,
                           maxDocId: Long,
                           enc: (Int, Int, Int, (Int, Int) => Int) => Array[Byte]): Unit =
    writeTree(documents, dir, s"${prefix}_\\d+\\.wav", maxDocId) { (id, text) =>
      val chn = wavChannels(id)
      Seq(s"${prefix}_$id.wav" -> enc(chn, WavSampleRate,
        wavFrames(text.length.toLong), wavSample(text, chn)))
    }

  /** The one audio decode step: open the WAV container, check it
    * against the decoder's policy — 16-bit little-endian signed PCM, or
    * (`companded`) 8-bit G.711 μ/a-law, which the JDK's codec expands to
    * that PCM (the container's fmt tag decides WHICH expansion) — then
    * sum every `step`-th frame: 1 = all, 2 = the nearest-neighbor 2×
    * temporal downsample, reported at half the nominal rate. A clip
    * without a single frame fails naming the doc: it has no sample
    * range, and a min/max sentinel row would be garbage. */
  private def decodeClip(id: Long, bytes: Array[Byte], companded: Boolean,
                         step: Int): DecodedAudio = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    import javax.sound.sampled.AudioFormat.Encoding.{ALAW, PCM_SIGNED, ULAW}
    val raw = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = raw.getFormat
      val chn = fmt.getChannels
      val data =
        if (companded) {
          require((fmt.getEncoding == ULAW || fmt.getEncoding == ALAW) &&
            fmt.getSampleSizeInBits == 8,
            s"doc $id container is not 8-bit G.711: $fmt")
          AudioSystem.getAudioInputStream(new AudioFormat(PCM_SIGNED,
            fmt.getSampleRate, 16, chn, chn * 2, fmt.getSampleRate, false),
            raw).readAllBytes()
        } else {
          require(fmt.getEncoding == PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
            s"doc $id decoded to unexpected format $fmt — the gate is " +
              "defined over 16-bit little-endian signed PCM")
          raw.readAllBytes()
        }
      val nFrames = data.length / (chn * 2)
      require(nFrames > 0, s"doc $id has an empty data section")
      var (s0, s1) = (0L, 0L)
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var f = 0
      while (f < nFrames) {
        var ch = 0
        while (ch < chn) {
          val off = (f * chn + ch) * 2
          // little-endian signed 16-bit reassembly — the .toShort
          // narrowing IS the sign handling under test
          val v = (((data(off) & 0xff) | (data(off + 1) << 8)).toShort).toLong
          if (ch == 0) s0 += v else s1 += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          ch += 1
        }
        f += step
      }
      DecodedAudio(id, chn.toLong, fmt.getSampleRate.toLong / step,
        ((nFrames + step - 1) / step).toLong, s0, s1, mn, mx)
    } finally raw.close()
  }

  /** Decode a `binaryFile` frame of 16-bit PCM WAVs through
    * javax.sound.sampled into format metadata + exact per-channel sums
    * and the observed sample range. A blob outside the policy, or
    * without a frame, fails the task naming the doc.
    */
  def decodeAudio(spark: SparkSession, files: DataFrame,
                  extPattern: String = "aud_(\\d+)\\.wav$"): Dataset[DecodedAudio] = {
    import spark.implicits._
    decodeBlobs(files, extPattern)((id, b) =>
      Iterator.single(decodeClip(id, b, companded = false, step = 1)))
  }

  /** 2× temporal downsample over REAL decoded audio (keep even frames —
    * the nearest-neighbor resampler every pipeline runs before a
    * heavier codec) — the audio sibling of [[resizeDecoded]].
    */
  def resampleAudio(spark: SparkSession, files: DataFrame,
                    extPattern: String = "aud_(\\d+)\\.wav$"): Dataset[DecodedAudio] = {
    import spark.implicits._
    decodeBlobs(files, extPattern)((id, b) =>
      Iterator.single(decodeClip(id, b, companded = false, step = 2)))
  }

  /** The clip generation formula as SQL ([[wavSample]]): one row per
    * interleaved sample of every fixture clip — i = f·chn + ch, so
    * f = i // chn, ch = i % chn, and the char index (f·chn + ch) mod n
    * = i mod n. Shared by every audio oracle, the way [[bmpPixelsSql]]
    * serves the image ones. */
  private def wavSamplesSql(maxDocId: Long): String =
    s"""SELECT doc_id, chn, fr, i, i // chn AS f, i % chn AS ch,
       |  ((ascii(substr(text, CAST(i % n AS INT) + 1, 1)) * 523
       |    + (i // chn) * 1031 + (i % chn) * 1733) % 65536) - 32768 AS s
       |FROM (
       |  SELECT doc_id, text, n, chn, fr, unnest(range(0, fr * chn)) AS i
       |  FROM (
       |    SELECT doc_id, text, length(text) AS n,
       |      1 + (doc_id % 2) AS chn, 1 + (length(text) % 29) AS fr
       |    FROM documents
       |    WHERE doc_id < $maxDocId AND text IS NOT NULL
       |      AND length(text) > 0))""".stripMargin

  /** The audio oracles' stats tail: [[decodeClip]]'s row over samples
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

  // --------------------------------------------------------------------
  // SECOND audio container: G.711 μ-law
  // WAV — the COMPANDED sibling of the PCM gate, proving the audio
  // oracle is container-independent the way PNG proved it for BMP. The
  // fixture writer companding is HAND-ROLLED (ITU-T G.711, public spec:
  // sign/clip-32635/bias-132, segment = highest-bit position, 4-bit
  // mantissa, ones-complement), written as WAVE_FORMAT_MULAW (fmt tag
  // 7, 8 bits/sample); the executor-side decode converts ULAW → 16-bit
  // PCM through javax.sound.sampled's codec — an INDEPENDENT
  // implementation of the same public table (probed: the JDK decode
  // agrees with the standard formula on all 256 codes; pinned in
  // Round13AudioSpec) — and the DuckDB oracle recomputes the companding
  // ROUND TRIP from the generation formula in pure integer SQL. A bias
  // slip, a segment-boundary off-by-one, or a mantissa shift anywhere
  // breaks three-way agreement on some sample (the formula's samples
  // cover both signs and all eight segments).
  // --------------------------------------------------------------------

  /** Hand-rolled G.711 μ-law ENCODE: 16-bit signed PCM → 8-bit code.
    * Classic algorithm: sign bit, clip magnitude at 32635, bias by 132,
    * exponent = highest-set-bit segment of the biased magnitude,
    * mantissa = next 4 bits, ones-complement the packed byte. */
  def ulawEncode(x: Int): Int = {
    val sign = if (x < 0) 0x80 else 0
    val mag = math.min(math.abs(x), 32635) + 132
    var e = 7
    var mask = 0x4000
    while ((mag & mask) == 0 && e > 0) { e -= 1; mask >>= 1 }
    val m = (mag >> (e + 3)) & 0x0f
    (~(sign | (e << 4) | m)) & 0xff
  }

  /** Standard G.711 μ-law DECODE (the published table as a formula) —
    * the spec pins that javax.sound's codec agrees on all 256 codes;
    * executor-side decode goes through the JDK, never this. */
  def ulawDecode(code: Int): Int = {
    val u = (~code) & 0xff
    val e = (u >> 4) & 7
    val m = u & 0x0f
    val mag = (((m << 3) + 0x84) << e) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }


  /** Hand-rolled μ-law WAV container: fmt tag 7 (WAVE_FORMAT_MULAW),
    * 8 bits/sample, one [[ulawEncode]] code byte per sample — the
    * companded twin of [[wavBytes]]. */
  def ulawWavBytes(channels: Int, sampleRate: Int, frames: Int,
                   sample: (Int, Int) => Int): Array[Byte] =
    riffWav(7, 8, channels, sampleRate, frames, (f, ch) => ulawEncode(sample(f, ch)))

  /** Write the μ-law fixture tree (`ul_<id>.wav`) — SAME clip geometry
    * and sample formula as [[writeWavFixtureTree]], companded through
    * [[ulawEncode]]. */
  def writeUlawFixtureTree(documents: DataFrame, dir: String,
                           maxDocId: Long = 256L): Unit =
    writeWavTree(documents, dir, "ul", maxDocId, ulawWavBytes)

  /** Decode a `binaryFile` frame of COMPANDED (μ-law or a-law) WAVs: the
    * JDK parses the companded container and expands it to 16-bit PCM —
    * the conversion step every companded-telephony ingest runs — then
    * [[decodeClip]]'s summing loop runs over the expanded samples. */
  def decodeAudioCompanded(spark: SparkSession, files: DataFrame,
                           extPattern: String = "ul_(\\d+)\\.wav$"): Dataset[DecodedAudio] = {
    import spark.implicits._
    decodeBlobs(files, extPattern)((id, b) =>
      Iterator.single(decodeClip(id, b, companded = true, step = 1)))
  }

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

  // --------------------------------------------------------------------
  // THIRD audio container: G.711 A-LAW — the other half of
  // the companding pair. Same three-way gate as μ-law (hand-rolled
  // encoder, fmt tag 6; JDK expansion, probed table-identical to the
  // standard formula on all 256 codes; integer-SQL round-trip oracle),
  // but a DIFFERENT quantizer: XOR-0x55 bit toggling, inverted sign
  // convention (bit 7 set = positive), a mid-rise cell around zero (no
  // zero output — 0 reconstructs to +8), and a 512 worst-case error vs
  // μ-law's 644. A gate that quietly reused the μ-law table would fail
  // every a-law fixture.
  // --------------------------------------------------------------------

  /** Hand-rolled G.711 a-law ENCODE: 16-bit signed PCM → 8-bit code. */
  def alawEncode(x: Int): Int = {
    val mag = math.min(math.abs(x), 32767)
    val a =
      if (mag < 256) mag >> 4
      else {
        var seg = 7
        var bound = 16384
        while (mag < bound) { seg -= 1; bound >>= 1 }
        (seg << 4) | ((mag >> (seg + 3)) & 0x0f)
      }
    ((if (x >= 0) a | 0x80 else a) ^ 0x55) & 0xff
  }

  /** Standard G.711 a-law DECODE (the published table as a formula) —
    * Round13AdditionsSpec pins the JDK codec against it on all 256
    * codes; executor-side decode goes through the JDK, never this. */
  def alawDecode(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0f) << 4
    if (seg == 0) t += 8
    else { t += 0x108; t <<= (seg - 1) }
    if ((a & 0x80) != 0) t else -t
  }


  /** Hand-rolled a-law WAV container: fmt tag 6 (WAVE_FORMAT_ALAW),
    * 8 bits/sample — the byte layout twin of [[ulawWavBytes]]. */
  def alawWavBytes(channels: Int, sampleRate: Int, frames: Int,
                   sample: (Int, Int) => Int): Array[Byte] =
    riffWav(6, 8, channels, sampleRate, frames, (f, ch) => alawEncode(sample(f, ch)))

  /** Write the a-law fixture tree (`al_<id>.wav`) — same geometry and
    * sample formula, companded through [[alawEncode]]. */
  def writeAlawFixtureTree(documents: DataFrame, dir: String,
                           maxDocId: Long = 256L): Unit =
    writeWavTree(documents, dir, "al", maxDocId, alawWavBytes)

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

  // --------------------------------------------------------------------
  // CORRUPT-BLOB QUARANTINE: the constraint-quarantine idiom
  // (StatsOps.constraintRoute) applied to real codecs. At 100 TB one
  // truncated upload among billions of files MUST route to a quarantine
  // table, not kill the job — decodeAudio/decodeAudioCompanded fail
  // fast by design (fixture trees are ours), but an INGEST decode needs
  // the lenient twin. Every blob gets exactly one verdict row: "ok"
  // with full stats, or "corrupt" with null stats — corrupt means the
  // JDK refused the container, the payload violates the G.711 policy,
  // or the data section is empty — exactly the blobs on which the
  // strict decoders throw.
  // --------------------------------------------------------------------

  /** Deterministic corrupt fixtures for the quarantine gate: one
    * not-a-RIFF junk blob and one VALID header whose data section is
    * empty — two distinct failure modes (parse refusal vs empty
    * stream). Written AFTER the good tree, ids above the doc range. */
  def writeCorruptAudioFixtures(dir: String, junkId: Long = 300L,
                                emptyId: Long = 301L): Unit = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(dir)
    Files.createDirectories(base)
    Files.write(base.resolve(s"ul_$junkId.wav"),
      "NOT A RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    Files.write(base.resolve(s"ul_$emptyId.wav"),
      ulawWavBytes(1, WavSampleRate, 0, (_, _) => 0))
  }


  /** LENIENT companded decode: [[decodeAudioCompanded]]'s per-blob step,
    * but each blob's failure is ITS OWN verdict row ("corrupt", null
    * stats, the [[corruptReason]]) instead of a task failure — the decode
    * is per-blob-independent, so the catch boundary is the blob, and a
    * single bad byte quarantines one row out of billions. The oracle
    * compares on status only (the registered query drops `reason`).
    */
  def decodeAudioLenient(spark: SparkSession, files: DataFrame,
                         extPattern: String = "ul_(\\d+)\\.wav$"): Dataset[LenientAudio] = {
    import spark.implicits._
    decodeBlobs(files, extPattern) { (id, bytes) =>
      Iterator.single(try {
        val d = decodeClip(id, bytes, companded = true, step = 1)
        LenientAudio(id, "ok", Some(d.n_channels), Some(d.sample_rate),
          Some(d.n_frames), Some(d.sum_ch0), Some(d.sum_ch1),
          Some(d.min_sample), Some(d.max_sample))
      } catch {
        case NonFatal(e) =>
          LenientAudio(id, "corrupt", None, None, None, None, None, None,
            None, corruptReason(e))
      })
    }
  }

  /** Oracle: the μ-law round-trip formula rows tagged 'ok' UNION the
    * two literal quarantine rows — the corrupt verdicts are part of the
    * CONTRACT, not a side effect. */
  def decodeLenientOracle(maxDocId: Long = 256L, junkId: Long = 300L,
                          emptyId: Long = 301L): String =
    s"""WITH good AS (${decodeUlawOracle(maxDocId)})
       |SELECT doc_id, 'ok' AS status, n_channels, sample_rate, n_frames,
       |  sum_ch0, sum_ch1, min_sample, max_sample
       |FROM good
       |UNION ALL
       |SELECT v.id AS doc_id, 'corrupt' AS status,
       |  CAST(NULL AS BIGINT) AS n_channels,
       |  CAST(NULL AS BIGINT) AS sample_rate,
       |  CAST(NULL AS BIGINT) AS n_frames,
       |  CAST(NULL AS BIGINT) AS sum_ch0,
       |  CAST(NULL AS BIGINT) AS sum_ch1,
       |  CAST(NULL AS BIGINT) AS min_sample,
       |  CAST(NULL AS BIGINT) AS max_sample
       |FROM (VALUES ($junkId), ($emptyId)) AS v(id)""".stripMargin

  // --------------------------------------------------------------------
  // REAL video-container frame sampling: the `.vid` modality
  // gets a real MULTI-FRAME decode — animated GIF through the JDK's
  // ImageIO sequence writer/reader (zero new dependencies; a real video
  // codec is a JNI drop-in for the same iterator). Frames are grayscale
  // rasters from a per-(frame, pixel) formula over `documents`; the
  // sampler reads ONLY every `stride`-th frame index from the container
  // — the pruning step that keeps decode cost linear in SAMPLED frames
  // — and the DuckDB oracle recomputes each sampled frame's dims + exact
  // gray sum from the formula, blind to the container.
  // --------------------------------------------------------------------

  /** Fixture container geometry + pixel formula — ONE definition for
    * writer, spec, and oracle. Frame f's pixel p (row-major) takes the
    * text's char at (f·w·h + p) mod n, so frames differ and a frame-
    * order or frame-count mistake shifts the sums. Gray-only rasters:
    * the GIF palette represents 256 grays exactly (an RGB quantization
    * would not round-trip bitwise). */
  def gifWidth(nChars: Long): Int = (1L + nChars % 9L).toInt
  def gifHeight(docId: Long): Int = (1L + docId % 5L).toInt
  def gifFrames(docId: Long): Int = (1L + docId % 4L).toInt
  def gifPixel(text: String, w: Int, h: Int)(f: Int, p: Int): Int = {
    val c = text.charAt((f * w * h + p) % text.length).toInt & 0xff
    (c * 7 + f * 13 + p * 3) % 256
  }

  /** Multi-frame GIF bytes via ImageIO's SEQUENCE writer — the
    * independent encoder on the other side of the decode gate. */
  def gifBytes(w: Int, h: Int, nFrames: Int, px: (Int, Int) => Int): Array[Byte] =
    multiFrameBytes("gif", w, h, nFrames, px)

  /** Multi-PAGE TIFF bytes through the SAME sequence-writer core
    * — the second multi-frame container. The JDK's
    * TIFF plugin (ImageIO, JDK 9+) writes the identical indexed-gray
    * rasters as palette-color pages, so the one pixel formula proves
    * frame sampling container-independent the way PNG/a-law did for
    * single images / audio. */
  def tiffBytes(w: Int, h: Int, nFrames: Int, px: (Int, Int) => Int): Array[Byte] =
    multiFrameBytes("tiff", w, h, nFrames, px)

  private def multiFrameBytes(format: String, w: Int, h: Int, nFrames: Int,
                              px: (Int, Int) => Int): Array[Byte] =
    imageBytes(format) { (writer, param) =>
      // interlacing OFF: the JDK's interlaced GIF write→read round trip
      // returns rows in a garbled order (a 4×4 ramp came back with rows
      // 0/2/1/<blank>), so the gate pins the non-progressive path a
      // pipeline would use anyway (the TIFF writer has no progressive
      // mode — guard on capability)
      if (param.canWriteProgressive)
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      writer.prepareWriteSequence(null)
      // an EXPLICIT 256-gray IndexColorModel: the JDK GIF writer encodes
      // an indexed image's own palette losslessly, but QUANTIZES
      // non-indexed inputs (TYPE_BYTE_GRAY included) to a default
      // palette (a 1447-vs-1970 gray-sum mismatch)
      val grays = Array.tabulate(256)(_.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val raster = img.getRaster
        var p = 0
        while (p < w * h) {
          raster.setSample(p % w, p / w, 0, px(f, p))
          p += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), param)
        f += 1
      }
      writer.endWriteSequence()
    }

  /** Write the GIF fixture tree (`vid_<id>.gif`) through [[writeTree]]. */
  def writeGifFixtureTree(documents: DataFrame, dir: String,
                          maxDocId: Long = 256L): Unit =
    writeFrameFixtureTree(documents, dir, "gif", gifBytes, maxDocId)

  /** The TIFF twin — same geometry and pixel formula, `vid_<id>.tif`,
    * so [[sampleFramesRealOracle]] applies verbatim: the oracle is
    * blind to the container by construction. */
  def writeTiffFixtureTree(documents: DataFrame, dir: String,
                           maxDocId: Long = 256L): Unit =
    writeFrameFixtureTree(documents, dir, "tif", tiffBytes, maxDocId)

  private def writeFrameFixtureTree(documents: DataFrame, dir: String,
                                    ext: String,
                                    enc: (Int, Int, Int, (Int, Int) => Int) => Array[Byte],
                                    maxDocId: Long): Unit =
    writeTree(documents, dir, s"vid_\\d+\\.$ext", maxDocId) { (id, text) =>
      val (w, h) = (gifWidth(text.length.toLong), gifHeight(id))
      Seq(s"vid_$id.$ext" -> enc(w, h, gifFrames(id), gifPixel(text, w, h)))
    }

  /** Stride-sample REAL container frames: decode ONLY frame indices
    * 0, stride, 2·stride… of each multi-frame blob via ImageIO's
    * multi-image reader — the production pruning shape
    * ([[sampleFrames]]'s byte-stride stand-in, now on real frames):
    * skipped frames are never rasterized, so decode cost is linear in
    * SAMPLED frames. The reader is picked from the stream itself, the way
    * `ImageIO.read` picks one for single images (GIF and multi-page TIFF
    * both detect); a blob no reader accepts fails naming the doc.
    */
  def sampleFramesReal(spark: SparkSession, files: DataFrame, stride: Int = 2,
                       extPattern: String = "vid_(\\d+)\\.gif$"): Dataset[DecodedFrame] = {
    import spark.implicits._
    decodeBlobs(files, extPattern) { (id, bytes) =>
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext,
          s"undecodable frame container for doc $id: no registered reader accepted the blob")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          (0 until reader.getNumImages(true) by stride).map { f =>
            val d = rasterStats(id, reader.read(f), 1)
            DecodedFrame(id, f.toLong, d.width, d.height, d.sum_b) // gray: r=g=b
          }
        } finally reader.dispose()
      } finally iis.close()
    }
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
       |  FROM (
       |    SELECT doc_id, text, n, w, h, unnest(range(0, fr * w * h)) AS i
       |    FROM (
       |      SELECT doc_id, text, length(text) AS n,
       |        1 + (length(text) % 9) AS w, 1 + (doc_id % 5) AS h,
       |        1 + (doc_id % 4) AS fr
       |      FROM documents
       |      WHERE doc_id < $maxDocId AND text IS NOT NULL
       |        AND length(text) > 0)))
       |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(sum(g) AS BIGINT) AS sum_gray
       |FROM v WHERE f % $stride = 0
       |GROUP BY doc_id, f, w, h""".stripMargin

  /** End-to-end: pack → decode → features DataFrame. */
  def features(spark: SparkSession, documents: DataFrame): DataFrame =
    decodeStub(spark, pack(documents)).toDF()

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
