package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Gate, Tables}

/** Multimodal-column support: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode/feature-extract
  * plumbing (BASELINE.json north-star "multimodal columns").
  *
  * The decode step dispatches on the payload's own magic bytes
  * ([[MediaCodecs.sniff]]): RIFF/WAVE PCM audio, binary Netpbm (P5/P6)
  * stills, and the JDK-decodable compressed stills (PNG/JPEG/GIF/BMP
  * via `javax.imageio.ImageIO` — pure JDK, headless-safe) decode FOR
  * REAL ([[MediaCodecs]]). Only formats that genuinely require codecs
  * absent from the JDK — compressed audio (MP3/FLAC) and video
  * (MP4/AVI/MKV/WebM) — fall through to the deterministic
  * byte-statistics stub ([[Multimodal.fakeFeature]]) behind the same
  * Spark pipeline: the schema, the partition-preserving flatMap batch
  * shape, and the per-frame output layout are exactly what a
  * JNI/FFmpeg decoder slots into — add the codec branch and nothing
  * else changes. Blobs in the gated d11 are derived from
  * `documents.text` (UTF-8 bytes) since the test tables carry no real
  * media; at 100 TB the binary column arrives from parquet the same
  * way.
  *
  * Scale notes: frames explode rows ~byte_len/FrameBytes ×, so the decode
  * stage must run AFTER any filtering/dedup (cheapest-first), and
  * `spark.sql.files.maxPartitionBytes` bounds the blob bytes per task —
  * the flatMap is partition-local and spill-free.
  */
object Multimodal {

  /** Decode-path spread quantum (see [[graft.Tables.loadSpread]]): media
    * decode costs ~10× more CPU per source byte than text regex work
    * (payloads are synthesized at ~8× the source text bytes, then
    * resampled/hashed per pixel or per PCM window), so the decode
    * sites spread at a finer grain than the 1 MB text default. */
  private val MediaSpreadQuantum = 256L << 10

  /** One media blob: id + modality tag + opaque payload. */
  final case class MediaBlob(doc_id: Long, modality: String, data: Array[Byte])

  /** One decoded "frame": fixed-width feature vector per frame. */
  final case class Frame(doc_id: Long, frame_idx: Int, feature: Array[Float])

  val FrameBytes = 256
  val FeatureDim = 8

  /** STUB DECODER — deterministic fake standing in for the kernels
    * that need codec libraries the JDK lacks (compressed audio
    * MP3/FLAC and video MP4/AVI/…). Produces an 8-float feature from
    * byte statistics of one frame-sized chunk. Stills and PCM audio do
    * NOT hit this path — [[MediaCodecs]] decodes WAV/PCM, Netpbm, and
    * PNG/JPEG/GIF/BMP for real; add further codec branches at the
    * dispatch in [[decodeFrames]]. */
  def fakeFeature(chunk: Array[Byte]): Array[Float] = {
    val f = new Array[Float](FeatureDim)
    var i = 0
    while (i < chunk.length) {
      f(i % FeatureDim) += (chunk(i) & 0xff) / 255.0f
      i += 1
    }
    f
  }

  /** Frame-sample + decode, dispatched on the payload's magic bytes:
    * WAV/PCM → tumbling ~23 ms windows of short-time audio features;
    * stills (Netpbm/PNG/JPEG/GIF/BMP) → one frame of luminance
    * statistics; anything else (non-JDK codecs) → byte-statistics stub
    * over FrameBytes chunks. Partition-local (no shuffle), streaming
    * over the iterator — the batch shape a vectorized decoder needs.
    * Malformed payloads of a recognized container (truncated header,
    * non-PCM encoding) fall back to the stub rather than failing the
    * task: ingest jobs meet corrupt media as a matter of course, and a
    * poison blob must cost one bad row, not the stage. */
  def decodeFrames(blobs: Dataset[MediaBlob]): Dataset[Frame] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { m =>
        val real: Option[Iterator[Array[Float]]] = MediaCodecs.sniff(m.data) match {
          case Some("audio") => MediaCodecs.decodeWav(m.data).map(MediaCodecs.wavFrames)
          case Some("image") =>
            MediaCodecs.decodeImage(m.data)
              .map(r => Iterator.single(MediaCodecs.imageFeature(r)))
          case _ => None
        }
        val frames = real.getOrElse(
          m.data.grouped(FrameBytes).map(fakeFeature))
        frames.zipWithIndex.map { case (f, idx) => Frame(m.doc_id, idx, f) }
      }
    }
  }

  /** Blob source from REAL files: Spark's `binaryFile` format over a
    * directory tree — the actual ingest path for media at scale (each
    * file is one row; `spark.sql.files.maxPartitionBytes` and the
    * format's own file listing parallelize the scan). doc_id parses from
    * the numeric file stem, modality from the extension; everything
    * downstream ([[decodeFrames]], the [[d11MultimodalMeta]] shape) is
    * source-agnostic, so swapping the derived-from-text stand-in
    * ([[blobs]]) for this source changes no pipeline code. */
  def blobsFromDir(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    val stem = regexp_extract(col("path"), "([0-9]+)\\.[A-Za-z0-9]+$", 1)
    spark.read.format("binaryFile").load(dir)
      // naming contract is <numeric id>.<ext>; a missing stem OR a
      // Long-overflowing one (19+ digits) would otherwise die opaquely —
      // under ANSI mode (Spark 4 default) a plain cast THROWS on
      // overflow rather than yielding null, so try_cast both the guard
      // and the projection and drop the nulls here
      .filter(stem =!= "" && stem.try_cast("long").isNotNull)
      .select(
        stem.try_cast("long").as("doc_id"),
        when(ext.isin("jpg", "jpeg", "png", "bmp"), "image")
          .when(ext.isin("wav", "mp3", "flac"), "audio")
          .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
          .otherwise("binary").as("modality"),
        col("content").as("data"))
      .as[MediaBlob]
  }

  /** documents → MediaBlob dataset (UTF-8 payload, modality fanned out
    * deterministically from doc_id — stand-in for a real media table). */
  def blobs(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    Tables.loadSpread(spark, dir, "documents", MediaSpreadQuantum)
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("image"))
          .when(col("doc_id") % 3 === 1, lit("audio"))
          .otherwise(lit("video")).as("modality"),
        encode(col("text"), "UTF-8").as("data"))
      .as[MediaBlob]
  }

  // --------------------------------------------------------------- d11
  /** Binary-column metadata pass (driver-gated): payload byte length,
    * modality tag, header fingerprint (md5 of the first 64 BYTES of the
    * blob — real binary ops: encode → binary substring → md5), and the
    * frame count the decoder would emit. Narrow map stage; the oracle
    * exploits that the payloads are ASCII so byte ops == char ops. */
  def d11MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val blob = encode(col("text"), "UTF-8")
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(blob).as("byte_len"),
        when(col("doc_id") % 3 === 0, lit("image"))
          .when(col("doc_id") % 3 === 1, lit("audio"))
          .otherwise(lit("video")).as("modality"),
        md5(substring(blob, 1, 64)).as("header_fp"),
        ceil(length(blob).cast("double") / FrameBytes).cast("long").as("n_frames"))
      .orderBy("doc_id")
  }

  val d11Oracle: String =
    s"""SELECT doc_id,
       length(text) AS byte_len,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
         AS modality,
       md5(substr(text, 1, 64)) AS header_fp,
       CAST(ceil(length(text) / $FrameBytes.0) AS BIGINT) AS n_frames
       FROM documents ORDER BY doc_id"""

  /** Shared tail of both perceptual-hash near-dup ops (d70 stills,
    * d81 audio): exact-hash pre-collapse → 4×16-bit LSH banding over
    * DISTINCT hash values with multiplicities → Hamming-verified
    * neighbor-count expansion. One implementation so a banding fix
    * cannot silently reach one modality and not the other.
    * `hashes` must be (doc_id, <hashCol>: LONG). */
  private def bandedNeighbors(hashes: DataFrame, hashCol: String,
      maxHamming: Int): DataFrame = {
    val groups = hashes.groupBy(hashCol).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the band join twice and the final join
    val bands = groups.select(col(hashCol), col("cnt"),
      explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("bb",
        expr(s"shiftright($hashCol, 16 * k)").bitwiseAND(lit(65535L)))
    val a = bands.select(col(hashCol).as("a_h"), col("k"), col("bb"))
    val b = bands.select(col(hashCol).as("b_h"), col("cnt").as("b_cnt"),
      col("k"), col("bb"))
    val near = a.join(b, Seq("k", "bb"))
      .filter(col("a_h") =!= col("b_h") &&
        bit_count(col("a_h").bitwiseXOR(col("b_h"))) <= maxHamming)
      .select(col("a_h").as(hashCol), col("b_h"), col("b_cnt"))
      .distinct() // a hash pair can collide in several bands
      .groupBy(hashCol).agg(sum("b_cnt").as("extra"))
    hashes.join(groups, hashCol)
      .join(near, Seq(hashCol), "left")
      .select(col("doc_id"), col(hashCol),
        (col("cnt") - 1 + coalesce(col("extra"), lit(0L))).as("n_neighbors"))
      .orderBy("doc_id")
  }

  /** The same pre-collapse + banding + expansion as oracle CTEs over an
    * `h(doc_id, <hashCol>)` CTE the caller supplies. */
  private def bandedNeighborsSql(hashCol: String, maxHamming: Int): String =
    s"""g AS (SELECT $hashCol, count(*) AS cnt FROM h GROUP BY $hashCol),
       bands AS (
         SELECT $hashCol, cnt, k, ($hashCol >> CAST(k * 16 AS INT)) & 65535 AS bb
         FROM g, (SELECT unnest(range(4)) AS k)),
       pp AS (
         SELECT DISTINCT a.$hashCol AS $hashCol, b.$hashCol AS bh, b.cnt AS bc
         FROM bands a JOIN bands b
           ON a.k = b.k AND a.bb = b.bb AND a.$hashCol <> b.$hashCol
         WHERE bit_count(xor(a.$hashCol, b.$hashCol)) <= $maxHamming),
       extra AS (SELECT $hashCol, sum(bc) AS ex FROM pp GROUP BY $hashCol)
       SELECT h.doc_id, h.$hashCol,
         (g.cnt - 1 + coalesce(ex, 0))::BIGINT AS n_neighbors
       FROM h JOIN g USING ($hashCol) LEFT JOIN extra USING ($hashCol)
       ORDER BY h.doc_id"""

  // --------------------------------------------------------------- d70
  /** IMAGE NEAR-DUP DETECTION via perceptual difference hash: every
    * payload goes through the REAL still-image path — a P5 Netpbm blob
    * is synthesized from the document bytes (72×64, cyclic-padded),
    * decoded by [[MediaCodecs.decodeNetpbm]], area-average resized to
    * 9×8, and hashed to a 64-bit dHash ([[MediaCodecs.dHash]]); hashes
    * are then banded 4×16 bits and near-dups (Hamming ≤
    * [[DHashMaxHamming]]) found by LSH equi-join — the image analog of
    * d16's SimHash join, and the pipeline a 100 TB image-dedup pass
    * runs (decode+hash partition-local over the binary column; the
    * only shuffle moves 8-byte hashes, 4 band rows per image, never
    * pixels). Pigeonhole guarantee: Hamming ≤ bands−1 = 3 always
    * collides in some band; candidates at 4–6 bits are caught when any
    * band happens to agree — standard LSH recall beyond the guarantee,
    * and part of the operator's DEFINITION here (the oracle bands
    * identically, so the gate stays bit-exact).
    *
    * Output pins EVERY image's hash plus its near-neighbor count, not
    * just the pairs — a bit-flip in any single hash fails the gate.
    *
    * The oracle reproduces the decode arithmetic from the text bytes:
    * the 72×64 → 9×8 resize has integer-aligned 8×8 boxes, and dHash
    * is quantized by box-area × maxval (see [[MediaCodecs.dHash]]), so
    * each quantized cell is exactly the integer sum of its 64 source
    * bytes — DuckDB recomputes those sums from `unicode()` code points
    * (ASCII payloads: byte == code point) with zero float hazard. */
  val DHashW = 72
  val DHashH = 64
  val DHashMaxHamming = 6

  def d70ImageDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = DHashW * DHashH
    // P5 header + cyclic-padded body — a real, spec-valid PGM payload
    val pgm = concat(
      encode(lit(s"P5\n$DHashW $DHashH\n255\n"), "UTF-8"),
      encode(expr(s"substr(repeat(text, cast(ceil($n.0 / length(text)) as int)), 1, $n)"),
        "UTF-8"))
    val blobs = Tables.loadSpread(spark, dir, "documents", MediaSpreadQuantum)
      // an empty document cannot pad a payload (ANSI: ceil(n/0) throws)
      // and would decode to nothing anyway — excluded in both engines
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), pgm.as("data"))
      .as[(Long, Array[Byte])]
    // decode + hash: partition-local, streaming over the iterator — the
    // same batch shape as decodeFrames; quantized by box area × maxval
    // for exact integer-sum cells (see Scaladoc above)
    val quant = (DHashW / 9) * (DHashH / 8) * 255.0
    val hashes = blobs.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        MediaCodecs.decodeNetpbm(bytes).map(r =>
          (id, MediaCodecs.dHash(r, quant)))
      }
    }.toDF("doc_id", "dhash").localCheckpoint()
    // exact pre-collapse (the d2/d59 lesson) + capped 4×16 banding +
    // neighbor expansion — shared with d81 ([[bandedNeighbors]])
    bandedNeighbors(hashes, "dhash", DHashMaxHamming)
  }

  val d70Oracle: String = {
    val n = DHashW * DHashH
    s"""WITH px AS (
         SELECT doc_id,
           substr(repeat(text, CAST(ceil($n.0 / len(text)) AS INT)), 1, $n) AS body
         FROM documents WHERE len(text) > 0),
       cell AS (
         SELECT doc_id, (i // $DHashW) // 8 AS cy, (i % $DHashW) // 8 AS cx,
           sum(unicode(substr(body, CAST(i AS INT) + 1, 1))) AS s
         FROM px, (SELECT unnest(range($n)) AS i)
         GROUP BY 1, 2, 3),
       bits AS (
         SELECT a.doc_id, a.cy * 8 + a.cx AS idx,
           CASE WHEN a.s < b.s THEN 1 ELSE 0 END AS bit
         FROM cell a JOIN cell b
           ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
         WHERE a.cx < 8),
       h AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN idx < 63 THEN bit * (1::BIGINT << CAST(idx AS INT))
                    ELSE 0 END)
             + CASE WHEN max(CASE WHEN idx = 63 THEN bit ELSE 0 END) = 1
                    THEN -9223372036854775807 - 1 ELSE 0 END AS BIGINT) AS dhash
         FROM bits GROUP BY doc_id),
       ${bandedNeighborsSql("dhash", DHashMaxHamming)}"""
  }

  // --------------------------------------------------------------- d81
  /** Samples per synthesized clip: 64 tumbling windows × 64 samples. */
  val AudioSamples = 4096
  /** Hamming cutoff — bands−1, so the 4-band pigeonhole is EXACT (no
    * recall caveat: every qualifying pair provably collides). */
  val ADHashMaxHamming = 3

  /** AUDIO NEAR-DUP DETECTION via envelope difference hash — the audio
    * leg of the multimodal dedup story (d70 covers stills): every
    * payload goes through the REAL audio path — a spec-valid 8-bit PCM
    * RIFF/WAVE clip synthesized from the document bytes, parsed by
    * [[MediaCodecs.decodeWav]] (chunk walk, fmt validation, unsigned
    * 8-bit decode), hashed by [[MediaCodecs.audioDHash]] (63-bit
    * loudness-contour fingerprint), then banded 4×16 bits with the
    * exact-hash pre-collapse and the [[ADHashMaxHamming]] cutoff at
    * bands−1, where the pigeonhole guarantee is exact. Only 8-byte
    * hashes shuffle, never samples. Quantizing windows by the 8-bit
    * amplitude scale makes each window the exact integer sum of
    * `|byte−128|`, so the oracle reproduces every hash bit-for-bit
    * from code points — the same reproducibility design as d70. */
  def d81AudioDhash(spark: SparkSession, dir: String): DataFrame =
    bandedNeighbors(audioHashes(spark, dir), "ahash", ADHashMaxHamming)

  /** The envelope-hash projection (doc_id, ahash) — d81's decode+hash
    * front half, shared with the d198 transcode audit. */
  private[graft] def audioHashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobs = Tables.loadSpread(spark, dir, "documents", MediaSpreadQuantum)
      // same empty-payload exclusion as d70 (ANSI ceil-by-zero)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), concat(
        lit(wavHeader8BitMono(AudioSamples)),
        encode(expr(s"substr(repeat(text, cast(ceil($AudioSamples.0 / length(text)) as int)), 1, $AudioSamples)"),
          "UTF-8")).as("data"))
      .as[(Long, Array[Byte])]
    blobs.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        MediaCodecs.decodeWav(bytes).map(p =>
          (id, MediaCodecs.audioDHash(p.mono, 128.0)))
      }
    }.toDF("doc_id", "ahash").localCheckpoint()
  }

  /** Canonical 44-byte RIFF/WAVE header for `n` 8-bit mono samples at
    * 8 kHz — a constant for fixed `n`, so the Column-land synthesis is
    * `concat(headerLiteral, bodyBytes)`. */
  private[graft] def wavHeader8BitMono(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def tag(s: String) = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def le16(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Int) = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    tag("RIFF"); le32(4 + 24 + 8 + n); tag("WAVE")
    tag("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(8000)
    le16(1); le16(8)
    tag("data"); le32(n)
    out.toByteArray
  }

  /** The envelope-hash CTE chain ending in `h(doc_id, ahash)` — d81's
    * oracle front half, shared with d198's.
    *
    * The per-sample amplitudes are computed LIST-side (one
    * `string_split('')` per doc, then 64 slice-sums) rather than by
    * exploding a (doc × sample) row per character: the row form
    * materialized ~205 M rows of scalar `unicode(substr(..))` calls at
    * the 10× corpus and blew the sweep's 900 s per-oracle budget two
    * rounds running; the list form is value-identical (verified
    * equal on the 10× corpus before landing, then the usual
    * three-scale hash re-verify) and ~5× faster, bringing d81/d198/
    * d210 back under the budget. */
  private val audioHashCtes: String =
    s"""px AS (
         SELECT doc_id,
           substr(repeat(text, CAST(ceil($AudioSamples.0 / len(text)) AS INT)),
             1, $AudioSamples) AS body
         FROM documents WHERE len(text) > 0),
       cp AS (
         SELECT doc_id,
           list_transform(string_split(body, ''),
             c -> abs(unicode(c) - 128)) AS a
         FROM px),
       env AS (
         SELECT doc_id, w, list_sum(a[w*64+1:(w+1)*64]) AS e
         FROM cp, (SELECT unnest(range(64)) AS w)),
       bits AS (
         SELECT a.doc_id, a.w AS idx,
           CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
         FROM env a JOIN env b ON a.doc_id = b.doc_id AND b.w = a.w + 1
         WHERE a.w < 63),
       h AS (
         SELECT doc_id,
           CAST(sum(bit * (1::BIGINT << CAST(idx AS INT))) AS BIGINT) AS ahash
         FROM bits GROUP BY doc_id)"""

  val d81Oracle: String =
    s"""WITH $audioHashCtes,
       ${bandedNeighborsSql("ahash", ADHashMaxHamming)}"""

  // --------------------------------------------------------------- d139
  /** COMPRESSED-AUDIO METADATA EXTRACTION via the MPEG frame-header
    * walk ([[MediaCodecs.parseMp3]]) — the real half of the
    * compressed-codec story (sample decode stays the labeled stub; see
    * SURVEY §8): a crawl triages compressed audio by duration /
    * bitrate / sample-rate BEFORE any transcoding fleet runs, and all
    * of that is frame-header arithmetic from the public ISO 11172-3
    * spec, no codec needed.
    *
    * Each document synthesizes a spec-valid MPEG1 Layer III stream
    * whose parameters derive from `doc_id` — frame count
    * `1 + id mod 4`, sample rate by `id mod 3`, bitrate by `id mod 5`,
    * padding bit `id mod 2`, an ID3v2 tag (syncsafe size
    * `id mod 100`) on even ids — with adversarial details planted:
    * each frame BODY starts with a fake 0xFF 0xFB sync (a parser that
    * scans for syncs instead of stepping by computed frame length
    * miscounts), and the stream ends with a truncated 2-byte sync
    * (must not count). The parse runs partition-local in the same
    * `mapPartitions` batch shape as the real decoders — at 100 TB the
    * only thing that ever shuffles is the K-byte metadata row, never
    * the media. The DuckDB oracle predicts every output column
    * CLOSED-FORM from `doc_id` (the synthesis parameters), so a wrong
    * bitrate table entry, frame-length formula, ID3 skip, or padding
    * step desyncs the walk and fails the hash; the frame-length
    * arithmetic is additionally pinned against public reference
    * values (417/418 bytes at 44.1 kHz 128 kbps) in `MediaSpec`. */
  def d139Mp3Meta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.loadSpread(spark, dir, "documents", MediaSpreadQuantum)
      .select("doc_id")
      .as[Long]
    val parsed = ids.mapPartitions { it =>
      it.flatMap { id =>
        val payload = mp3Payload(id)
        MediaCodecs.parseMp3(payload).map { m =>
          (id, m.frames.toLong, m.sampleRate, m.firstBitrateKbps,
            m.samples * 1000000L / m.sampleRate, m.cbr)
        }
      }
    }.toDF("doc_id", "n_frames", "sample_rate", "bitrate_kbps",
      "duration_us", "cbr")
    parsed.orderBy("doc_id")
  }

  /** MPEG1 Layer III sample rates / bitrates the d139 synthesis draws
    * from (indices into the public tables: sr 0..2, br 5/7/9/11/13). */
  private val D139Rates = Array(44100, 48000, 32000)
  private val D139Kbps = Array(64, 96, 128, 192, 256)
  private val D139BrIdx = Array(5, 7, 9, 11, 13)

  /** Deterministic spec-valid MPEG1-L3 stream for one doc id: optional
    * ID3v2 tag, `1 + id%4` CBR frames (fake sync planted at each body
    * start), then a truncated trailing sync. */
  private[graft] def mp3Payload(id: Long): Array[Byte] = {
    val nFrames = (1 + id % 4).toInt
    val rateIdx = (id % 3).toInt
    val brSel = (id % 5).toInt
    val pad = (id % 2).toInt
    val out = new java.io.ByteArrayOutputStream()
    if (id % 2 == 0) {
      val tagSize = (id % 100).toInt // syncsafe: < 128 fits last byte
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0) // version 2.4.0
      out.write(0) // flags
      out.write(0); out.write(0); out.write(0); out.write(tagSize)
      var i = 0
      while (i < tagSize) { out.write(0); i += 1 }
    }
    val flen = 144 * D139Kbps(brSel) * 1000 / D139Rates(rateIdx) + pad
    var f = 0
    while (f < nFrames) {
      out.write(0xff)
      out.write(0xfb) // sync + MPEG1 + Layer III + no CRC
      out.write((D139BrIdx(brSel) << 4) | (rateIdx << 2) | (pad << 1))
      out.write(0x44) // mode/emphasis bits — length-irrelevant
      // body: planted fake sync, then zeros
      out.write(0xff); out.write(0xfb)
      var i = 6
      while (i < flen) { out.write(0); i += 1 }
      f += 1
    }
    out.write(0xff); out.write(0xe2) // truncated trailing sync
    out.toByteArray
  }

  val d139Oracle: String =
    """SELECT doc_id,
         1 + doc_id % 4 AS n_frames,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
           ELSE 32000 END AS sample_rate,
         CASE doc_id % 5 WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 128
           WHEN 3 THEN 192 ELSE 256 END AS bitrate_kbps,
         (1 + doc_id % 4) * 1152 * 1000000
           // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END) AS duration_us,
         TRUE AS cbr
       FROM documents ORDER BY doc_id"""

  // --------------------------------------------------------------- d198
  /** TRANSCODE-DUPLICATE AUDIT — d139's frame metadata folded into the
    * dedup path it was built for (r12 verdict next #7): within each
    * envelope-hash near-dup CLUSTER (d81's perceptual space — what the
    * audio SOUNDS like), disagreement in the container metadata
    * (bitrate / sample rate / duration) is the transcode-duplicate
    * signature: same audible content, different encode — the
    * multimodal analogue of d31's text dup report. A crawl keeps ONE
    * member per flagged cluster (usually the highest-bitrate one) and
    * reclaims the rest.
    *
    * Cluster definition, scale-shaped: exact envelope hashes collapse
    * to their min-doc rep FIRST (the d59/d15 pre-collapse — replica
    * mass never reaches the quadratic stage), then connected
    * components over rep↔rep band-collision edges (Hamming ≤
    * [[ADHashMaxHamming]], [[Clustering.minLabelComponents]] — edge-set
    * shuffles, O(log diameter) rounds); a member's cluster is its
    * rep's component label, so cluster_id = min doc_id of the whole
    * component, exactly d15's convention. The metadata join moves
    * K-byte rows keyed on doc_id. The oracle replays the same
    * component semantics as a recursive CTE over the same edges (the
    * d15 oracle idiom) and predicts the metadata closed-form from the
    * d139 synthesis. */
  def d198TranscodeDups(spark: SparkSession, dir: String): DataFrame =
    transcodeDocMeta(spark, dir)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        countDistinct("bitrate_kbps").as("n_bitrates"),
        countDistinct("sample_rate").as("n_rates"),
        (max("duration_us") - min("duration_us")).as("dur_spread_us"))
      .filter(col("n_members") >= 2)
      .withColumn("transcode_suspect",
        col("n_bitrates") > 1 || col("n_rates") > 1 ||
          col("dur_spread_us") > 0)
      .orderBy("cluster_id")

  /** The doc-level frame both transcode gates share: each audited
    * document with its envelope-hash near-dup cluster id and its
    * container metadata (d139's walk) — d198 aggregates it per
    * cluster, d210 re-aggregates the cluster verdicts per source. */
  private def transcodeDocMeta(spark: SparkSession, dir: String): DataFrame = {
    val hashes = audioHashes(spark, dir)
    val groups = hashes.groupBy("ahash")
      .agg(min("doc_id").as("rep"))
      .localCheckpoint() // feeds the band join twice and the rep mapping
    val bands = groups.select(col("ahash"), col("rep"),
      explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("bb",
        expr("shiftright(ahash, 16 * k)").bitwiseAND(lit(65535L)))
    val nearEdges = bands.as("x").join(bands.as("y"), Seq("k", "bb"))
      .filter(col("x.ahash") < col("y.ahash") &&
        bit_count(col("x.ahash").bitwiseXOR(col("y.ahash")))
          <= ADHashMaxHamming)
      .select(col("x.rep").as("a"), col("y.rep").as("b"))
      .distinct()
    val labels = Clustering.minLabelComponents(nearEdges)
    val meta = d139Mp3Meta(spark, dir)
      .select("doc_id", "sample_rate", "bitrate_kbps", "duration_us")
    hashes.join(groups, "ahash")
      .join(labels, col("rep") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("cluster_id"))
      .join(meta, "doc_id")
  }

  /** The shared oracle middle for the transcode gates: envelope-hash
    * groups → banded near-dup edges → connected components → doc-level
    * cluster ids (`cl`) joined to the closed-form container metadata
    * (`m`, d139's parameter derivation) as `dm`.
    *
    * The components are NON-RECURSIVE (r15 VERDICT missing #2): the
    * previous `reach` recursive CTE computed the FULL transitive
    * closure — O(Σ component²) rows — and on the 10× replica-dense
    * pair set that alone pushed d198/d210 past the sweep's 900 s
    * per-oracle budget (extended-budget runs hash-matched, so this is
    * an oracle-cost rewrite, not a semantics change). The replacement
    * is the engine's own discipline ([[Clustering.minLabelComponents]])
    * unrolled: [[CcRounds]] rounds of neighbor-min + one pointer-jump
    * hop each, O(E) per round, MATERIALIZED so DuckDB cannot
    * re-inline the chain exponentially. Correct for any component the
    * rounds can cover (diameter ≤ 2^[[CcRounds]]-ish; the 10× rep
    * graph measures diameter 3) — and rather than TRUST that bound, a
    * `chk` round verifies the fixpoint: if one more neighbor-min pass
    * would still change any label, every label is replaced by a
    * sentinel so the gate fails LOUDLY instead of shipping
    * under-merged clusters. Proven value-identical to the recursive
    * form at sf0.01 and sf0.1 before landing (r15's envelope-hash
    * reformulation protocol). */
  private val CcRounds = 4

  private val transcodeClusterCtes: String = {
    val rounds = (1 to CcRounds).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s"""nm$r AS MATERIALIZED (
         SELECT n.node, least(n.label, coalesce(min(y.label), n.label))
           AS label
         FROM $prev n LEFT JOIN ed e ON e.s = n.node
           LEFT JOIN $prev y ON y.node = e.d
         GROUP BY n.node, n.label),
       l$r AS MATERIALIZED (
         SELECT a.node, least(a.label, b.label) AS label
         FROM nm$r a JOIN nm$r b ON b.node = a.label)"""
    }.mkString(",\n       ")
    s"""g AS (SELECT ahash, min(doc_id) AS rep FROM h GROUP BY ahash),
       bands AS (
         SELECT ahash, rep, k, (ahash >> CAST(k * 16 AS INT)) & 65535 AS bb
         FROM g, (SELECT unnest(range(4)) AS k)),
       near0 AS MATERIALIZED (
         SELECT DISTINCT x.rep AS a, y.rep AS b
         FROM bands x JOIN bands y ON x.k = y.k AND x.bb = y.bb
           AND x.ahash < y.ahash
         WHERE bit_count(xor(x.ahash, y.ahash)) <= $ADHashMaxHamming),
       ed AS MATERIALIZED (SELECT a AS s, b AS d FROM near0
         UNION ALL SELECT b, a FROM near0),
       l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS label FROM ed),
       $rounds,
       chk AS MATERIALIZED (
         SELECT n.node, least(n.label, coalesce(min(y.label), n.label))
           AS label
         FROM l$CcRounds n LEFT JOIN ed e ON e.s = n.node
           LEFT JOIN l$CcRounds y ON y.node = e.d
         GROUP BY n.node, n.label),
       comp AS MATERIALIZED (
         SELECT a.node,
           CASE WHEN (SELECT count(*) FROM l$CcRounds x
                      JOIN chk c USING (node)
                      WHERE x.label <> c.label) = 0
                THEN a.label ELSE -4611686018427387904 END AS label
         FROM l$CcRounds a),
       m AS (
         SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             ELSE 32000 END AS sample_rate,
           CASE doc_id % 5 WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 128
             WHEN 3 THEN 192 ELSE 256 END AS bitrate_kbps,
           (1 + doc_id % 4) * 1152 * 1000000
             // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END) AS duration_us
         FROM documents),
       cl AS (
         SELECT h.doc_id, coalesce(label, g.rep) AS cluster_id
         FROM h JOIN g USING (ahash) LEFT JOIN comp ON comp.node = g.rep),
       dm AS (SELECT cl.doc_id, cluster_id, sample_rate, bitrate_kbps,
           duration_us
         FROM cl JOIN m USING (doc_id))"""
  }

  val d198Oracle: String =
    s"""WITH $audioHashCtes,
       $transcodeClusterCtes
       SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT bitrate_kbps) AS BIGINT) AS n_bitrates,
         CAST(count(DISTINCT sample_rate) AS BIGINT) AS n_rates,
         CAST(max(duration_us) - min(duration_us) AS BIGINT)
           AS dur_spread_us,
         (count(DISTINCT bitrate_kbps) > 1
           OR count(DISTINCT sample_rate) > 1
           OR max(duration_us) - min(duration_us) > 0) AS transcode_suspect
       FROM dm
       GROUP BY cluster_id HAVING count(*) >= 2
       ORDER BY cluster_id"""

  // --------------------------------------------------------------- d210
  /** The transcode-dup signal PROMOTED TO THE REPORT a curation team
    * reads (the d60 data-card altitude): d198's per-cluster verdicts
    * re-aggregated per SOURCE — how much of each source's audio is
    * near-duplicate, and how much of that duplication looks like
    * transcodes (container metadata disagreeing inside an
    * envelope-identical cluster) rather than true re-uploads. The
    * suspect share is exact integer basis points (the d206
    * convention), so the headline number cannot drift between engines.
    *
    * Scale: the doc-level frame is the d198 machinery (hashes + K-row
    * metadata, text never moves); the verdict join moves only
    * (cluster_id, flag) rows and the source rollup is a hash aggregate
    * on a K-source key space. */
  def d210SourceTranscodeReport(spark: SparkSession, dir: String): DataFrame = {
    val docMeta = transcodeDocMeta(spark, dir)
      .localCheckpoint() // feeds the verdict agg AND the doc-level join
    val verdicts = docMeta.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        (countDistinct("bitrate_kbps") > 1 ||
          countDistinct("sample_rate") > 1 ||
          (max("duration_us") - min("duration_us")) > 0).as("suspect"))
    val src = Tables.load(spark, dir, "documents").select("doc_id", "source")
    docMeta.select("doc_id", "cluster_id")
      .join(verdicts, "cluster_id")
      .join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_audited"),
        sum(when(col("n_members") >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("n_members") >= 2 && col("suspect"), 1L).otherwise(0L))
          .as("n_suspect_docs"))
      .withColumn("suspect_bp",
        expr("n_suspect_docs * 10000 div n_audited"))
      .orderBy("source")
  }

  val d210Oracle: String =
    s"""WITH $audioHashCtes,
       $transcodeClusterCtes,
       v AS (
         SELECT cluster_id, count(*) AS n_members,
           (count(DISTINCT bitrate_kbps) > 1
             OR count(DISTINCT sample_rate) > 1
             OR max(duration_us) - min(duration_us) > 0) AS suspect
         FROM dm GROUP BY cluster_id)
       SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_audited,
         CAST(sum(CASE WHEN n_members >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
         CAST(sum(CASE WHEN n_members >= 2 AND suspect THEN 1 ELSE 0 END)
           AS BIGINT) AS n_suspect_docs,
         CAST(sum(CASE WHEN n_members >= 2 AND suspect THEN 1 ELSE 0 END)
           * 10000 // count(*) AS BIGINT) AS suspect_bp
       FROM dm JOIN v USING (cluster_id) JOIN documents d USING (doc_id)
       GROUP BY d.source
       ORDER BY d.source"""

  // -------------------------------------------------------------- d215
  /** ASPECT-RATIO BUCKETING for image-training batching — variable-
    * aspect corpora can't batch raw (one tensor shape per batch), so
    * the standard fix (SDXL-style) snaps every image to the nearest of
    * a small aspect ladder and packs fixed-size batches WITHIN each
    * bucket. The gate runs the real pipeline shape end to end: each
    * doc carries a spec-valid P5 payload with per-doc VARIABLE
    * dimensions, the codec ([[MediaCodecs.decodeNetpbm]]) — not a
    * carried-along column — recovers (w, h), and the ladder snap is
    * EXACT-INTEGER: candidate ratios are expressed over the common
    * denominator 12 (1:2→6, 3:4→9, 1:1→12, 4:3→16, 2:1→24), so
    * `|12·w − r12·h|` compares all candidates without a float and ties
    * break to the smaller ratio by plain struct ordering. Per bucket
    * the packing report is what a loader needs: image count, number of
    * size-[[AspectBatch]] batches, and the last batch's fill (the
    * padding the curriculum pays).
    *
    * Scale: decode is partition-local over the binary column (only
    * 8-byte dims leave the executor), the snap is a per-row array
    * expression, and the report is one hash aggregate on a 5-row key.
    * No shuffle ever carries pixels. */
  private[graft] val AspectBatch = 8L

  def d215AspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = (lit(8) + col("doc_id") % 24).cast("int")
    val h = (lit(8) + (col("doc_id") / 7) % 24).cast("int")
    val n = (w * h).cast("int")
    // the payload slice happens on the ENCODED bytes (binary substring),
    // not on characters before encoding: P5 declares w*h PAYLOAD BYTES,
    // and char-count slicing only equals byte-count slicing for ASCII
    // text — correct on today's all-ASCII fixture but spec-oversized the
    // moment a multi-byte code point appears (r15 ADVICE #3). ceil by
    // CHARS still bounds the repeat (every char encodes to >= 1 byte).
    val pgm = concat(
      encode(concat(lit("P5\n"), w.cast("string"), lit(" "),
        h.cast("string"), lit("\n255\n")), "UTF-8"),
      expr("substring(encode(repeat(text, cast(ceil((wh + 0.0) / length(text)) as int)), 'UTF-8'), 1, wh)"))
    val blobs = Tables.loadSpread(spark, dir, "documents", MediaSpreadQuantum)
      .filter(length(col("text")) > 0) // cannot pad a payload (d70)
      .withColumn("wh", n)
      .select(col("doc_id"), pgm.as("data"))
      .as[(Long, Array[Byte])]
    val dims = blobs.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        MediaCodecs.decodeNetpbm(bytes).map(r =>
          (id, r.width, r.height))
      }
    }.toDF("doc_id", "w", "h")
    val cands = array(Seq(6, 9, 12, 16, 24).map(r =>
      struct(abs(lit(12) * col("w") - lit(r) * col("h")).as("dist"),
        lit(r).as("r12"))): _*)
    dims
      .select(col("doc_id"),
        array_sort(cands).getItem(0).getField("r12").as("r12"))
      .groupBy("r12")
      .agg(count(lit(1)).as("n_images"))
      .select(col("r12").cast("long").as("r12"), col("n_images"),
        ceil(col("n_images").cast("double") / AspectBatch).cast("long")
          .as("n_batches"),
        (col("n_images") - lit(AspectBatch) *
          (ceil(col("n_images").cast("double") / AspectBatch).cast("long")
            - 1)).as("last_batch_fill"))
      .orderBy("r12")
  }

  val d215Oracle: String =
    s"""WITH dims AS (
         SELECT doc_id,
           8 + doc_id % 24 AS w,
           8 + (doc_id // 7) % 24 AS h
         FROM documents WHERE length(text) > 0),
       snapped AS (
         SELECT doc_id, r12 FROM dims,
           (SELECT unnest([6, 9, 12, 16, 24]) AS r12)
         QUALIFY row_number() OVER (PARTITION BY doc_id
           ORDER BY abs(12 * w - r12 * h), r12) = 1),
       b AS (
         SELECT CAST(r12 AS BIGINT) AS r12,
           CAST(count(*) AS BIGINT) AS n_images
         FROM snapped GROUP BY r12)
       SELECT r12, n_images,
         CAST(ceil(n_images / $AspectBatch.0) AS BIGINT) AS n_batches,
         CAST(n_images - $AspectBatch *
           (CAST(ceil(n_images / $AspectBatch.0) AS BIGINT) - 1) AS BIGINT)
           AS last_batch_fill
       FROM b ORDER BY r12"""

  val gates: Seq[Gate] = Seq(
    Gate("d11_multimodal_meta", d11MultimodalMeta, d11Oracle),
    Gate("d70_image_dhash", d70ImageDhash, d70Oracle),
    Gate("d81_audio_dhash", d81AudioDhash, d81Oracle),
    Gate("d139_mp3_meta", d139Mp3Meta, d139Oracle),
    Gate("d198_transcode_dups", d198TranscodeDups, d198Oracle),
    Gate("d210_source_transcode_report", d210SourceTranscodeReport, d210Oracle),
    Gate("d215_aspect_buckets", d215AspectBuckets, d215Oracle))
}
