package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for a training-data
  * pipeline: payloads are opaque `binary` columns with a typed
  * metadata struct; decode / feature-extract / resize / frame-sample
  * run as per-partition batch transforms.
  *
  * DECODE IS REAL DOWN TO SAMPLES WHERE THE JDK CAN GET THERE:
  * metadata for all four container families — images via
  * `javax.imageio`, WAV via pure-JVM RIFF chunk parsing, MP3 via
  * MPEG frame-header walking, MP4 via ISO BMFF box walking — all
  * zero-dependency, oracle-gated through `q_media_codecs`; and REAL
  * SAMPLE DATA on three paths: PNG pixels through the JDK's full PNG
  * codec (`q_pixel_dedup` hashes really-decoded pixels), 16-bit PCM
  * through `decodeWavPcm` (`q_audio_pcm_stats` — for uncompressed
  * PCM the RIFF parser IS the codec), and COMPRESSED audio through
  * the real IMA ADPCM nibble-predictor decoder `decodeWavAdpcm`
  * (`q_audio_adpcm_stats`). Only perceptually-coded samples (MP3
  * granules, H.264 frames) still need a codec library the container
  * lacks; for payloads no parser recognizes, `stubDecode` derives
  * deterministic fake properties (clearly marked below).
  * Everything around decode — schema, binary handling,
  * partition-batch iteration (`mapPartitions`, the Scala analog of a
  * vectorized Python `mapInPandas`), explode fan-out for frame
  * sampling, and the aggregation layer — is real, tested Spark
  * plumbing a codec drop-in would inherit unchanged.
  *
  * Scale notes: payload bytes stay on the executors end-to-end (no
  * collect); frame sampling is an explode (rows fan out in place, no
  * shuffle); the stats query aggregates only extracted scalars, so the
  * shuffle after decode carries metadata, never media bytes.
  */
object MultimodalOps {

  /** Typed media-asset row: binary payload + envelope metadata. */
  final case class Asset(asset_id: Long, mime: String, payload: Array[Byte])

  /** Decoded-properties row produced by the (stub) decoder. */
  final case class DecodedAsset(
      asset_id: Long, mime: String, byte_len: Long,
      width: Int, height: Int, channels: Int, duration_ms: Long)

  /** Shared CTE prefix for the multimodal DuckDB oracles: rebuilds the
    * asset table (mime assignment, byte length) and replays the
    * FNV-1a stub decode exactly — list_reduce over code points
    * (fixture text is ASCII, so code point == byte), multiply-mod-2^64
    * in HUGEINT, xor on the low byte, and sign-extended emulation of
    * Scala's arithmetic `>>` for the duration field. Yields CTE `d`:
    * (asset_id, mime, byte_len, w, dur). */
  val fnvOracleCommonSql: String =
    """WITH a AS (SELECT doc_id AS asset_id,
      |             (['image/png','audio/wav','video/mp4'])[CAST(doc_id % 3 + 1 AS INT)] AS mime,
      |             text, CAST(length(text) AS BIGINT) AS byte_len
      |           FROM documents),
      |h AS (SELECT asset_id, mime, byte_len,
      |        list_reduce(
      |          list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |            list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS HUGEINT))),
      |          (acc, b) -> ((acc - acc % 256 + CAST(xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT)) * 1099511628211)
      |                      % CAST(18446744073709551616 AS HUGEINT)) AS u
      |      FROM a),
      |d AS (SELECT asset_id, mime, byte_len,
      |        160 + CAST(abs((CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
      |                             THEN u - CAST(18446744073709551616 AS HUGEINT) ELSE u END) % 8) AS BIGINT) * 160 AS w,
      |        1000 + CAST(abs((CASE WHEN (u // 65536 + CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
      |                                                      THEN CAST(18446744073709551616 AS HUGEINT) - CAST(281474976710656 AS HUGEINT) ELSE 0 END)
      |                                    >= CAST(9223372036854775808 AS HUGEINT)
      |                         THEN (u // 65536 + CAST(18446744073709551616 AS HUGEINT) - CAST(281474976710656 AS HUGEINT)) - CAST(18446744073709551616 AS HUGEINT)
      |                         ELSE u // 65536 END) % 60000) AS BIGINT) AS dur
      |      FROM h)""".stripMargin

  /** DuckDB oracle for qMediaEmbed: replays the FNV-derived feature
    * fold exactly. The per-position prefix hash is computed with a
    * RECURSIVE CTE (one iteration advances every asset one byte — no
    * struct accumulators, which DuckDB's list_reduce mis-evaluates
    * beyond its first 128 rows); float32 accumulation order is
    * reproduced by folding each slot's deltas in position order with
    * a CAST-to-REAL after every add. Bounded by [[FeatureBytes]]. */
  lazy val mediaEmbedOracleSql: String = {
    val two63 = "CAST(9223372036854775808 AS HUGEINT)"
    val two64 = "CAST(18446744073709551616 AS HUGEINT)"
    s"""WITH RECURSIVE a AS (SELECT doc_id AS asset_id,
       |             list_transform(range(1, least(length(text), $FeatureBytes) + 1),
       |                            k -> CAST(unicode(text[k]) AS HUGEINT)) AS bs
       |           FROM documents),
       |r AS (
       |  SELECT asset_id, 0 AS pos, CAST(14695981039346656037 AS HUGEINT) AS h FROM a
       |  UNION ALL
       |  SELECT r.asset_id, r.pos + 1,
       |         ((r.h - r.h % 256 + CAST(xor(CAST(r.h % 256 AS BIGINT), CAST(a.bs[r.pos + 1] AS BIGINT)) AS HUGEINT)) * 1099511628211) % $two64
       |  FROM r JOIN a ON a.asset_id = r.asset_id
       |  WHERE r.pos < len(a.bs)
       |),
       |ds AS (SELECT asset_id, pos, (pos - 1) % 16 AS slot,
       |         CAST(CAST((CASE WHEN h >= $two63 THEN h - $two64 ELSE h END) % 1000 AS REAL)
       |              / CAST(1000 AS REAL) AS REAL) AS delta
       |       FROM r WHERE pos >= 1),
       |sf AS (SELECT asset_id, slot,
       |         list_reduce(list_prepend(CAST(0 AS REAL), list(delta ORDER BY pos)),
       |                     (x, y) -> CAST(x + y AS REAL)) AS fv
       |       FROM ds GROUP BY asset_id, slot),
       |slots AS (SELECT asset_id, UNNEST(range(0, 16)) AS slot FROM a),
       |sfull AS (SELECT s.asset_id, s.slot, COALESCE(sf.fv, CAST(0 AS REAL)) AS fv
       |          FROM slots s LEFT JOIN sf ON sf.asset_id = s.asset_id AND sf.slot = s.slot),
       |folded AS (SELECT asset_id, list(fv ORDER BY slot) AS f FROM sfull GROUP BY asset_id),
       |q AS (SELECT CAST(f AS DOUBLE[]) AS qf FROM folded WHERE asset_id = 0)
       |SELECT folded.asset_id,
       |       ROUND(list_cosine_similarity(CAST(folded.f AS DOUBLE[]), q.qf), 6) AS cos_sim
       |FROM folded, q WHERE folded.asset_id <> 0
       |ORDER BY cos_sim DESC, asset_id LIMIT 10""".stripMargin
  }

  /** Build an asset table from the documents fixture: text bytes play
    * the role of media payloads; mime is assigned deterministically.
    * In production this is `spark.read.format("binaryFile")` or a
    * parquet table with a binary column — identical downstream. */
  def assetTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("asset_id"),
      element_at(
        array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("mime"),
      col("text").cast("binary").as("payload"))

  /** REAL image decode for image mimes via `javax.imageio` (JDK
    * builtin — zero added deps). Header-only: width/height/bands come
    * from the format reader WITHOUT decoding pixel data, so a 50 MB
    * JPEG costs a few hundred header bytes of work — the property
    * that matters when this runs over billions of images. Returns
    * None when no installed reader recognizes the payload (then the
    * caller falls back to the stub — audio/video have no JDK codec).
    * `ImageIO.setUseCache(false)` keeps executors from writing temp
    * cache files per image. */
  def decodeImageHeader(payload: Array[Byte]): Option[(Int, Int, Int)] = {
    javax.imageio.ImageIO.setUseCache(false)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    if (iis == null) return None // stripped JRE without stream SPIs
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          val types = r.getImageTypes(0)
          val bands = if (types.hasNext) types.next().getNumBands else 3
          Some((w, h, bands))
        } finally r.dispose()
      }
    } catch { case _: Exception => None }
    finally iis.close()
  }

  /** REAL audio decode for RIFF/WAVE payloads — pure-JVM header
    * parsing, zero deps (the WAV container is a 44-byte-ish header;
    * no codec library needed for PCM metadata). Walks the chunk list
    * for `fmt ` (channels, sample rate, byte rate, bits/sample) and
    * `data` (payload size), and derives duration = dataBytes·1000 /
    * byteRate. Header-only like [[decodeImageHeader]]: cost is
    * independent of audio length, the property that matters over
    * billions of clips. Returns (sampleRate, bitsPerSample, channels,
    * durationMs); None for non-WAV payloads (then the caller falls
    * back to the stub — compressed audio needs a real codec). */
  def decodeWavHeader(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u16(i: Int): Int =
      (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (payload(i) & 0xffL) | ((payload(i + 1) & 0xffL) << 8) |
        ((payload(i + 2) & 0xffL) << 16) | ((payload(i + 3) & 0xffL) << 24)
    def tag(i: Int): String =
      new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmt: Option[(Int, Int, Int, Long)] = None // channels, rate, bits, byteRate
    var dataBytes = -1L
    while (pos + 8 <= payload.length && (fmt.isEmpty || dataBytes < 0)) {
      val id = tag(pos)
      val sz = u32(pos + 4)
      if (id == "fmt " && pos + 24 <= payload.length)
        fmt = Some((u16(pos + 10), u32(pos + 12).toInt, u16(pos + 22), u32(pos + 16)))
      else if (id == "data") dataBytes = sz
      pos += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
    }
    fmt.collect { case (ch, rate, bits, byteRate) if byteRate > 0 && dataBytes >= 0 =>
      (rate, bits, ch, dataBytes * 1000L / byteRate)
    }
  }

  /** REAL compressed-audio decode for MPEG audio (MP3) — pure-JVM
    * frame-header parsing, zero deps: MPEG-1 Layer III frames are
    * self-describing (11-bit sync, bitrate/samplerate indices,
    * padding bit), so sample rate, bitrate, channel mode and — by
    * walking the frame chain, each frame exactly
    * `144·bitrate/sampleRate + padding` bytes — the frame count and
    * duration (1152 samples/frame) all come from headers without any
    * codec. Header-walk cost is frames-count-bounded, independent of
    * what a PCM decode would cost. Skips a leading ID3v2 tag.
    * Returns (sampleRate, bitrateKbps, channels, durationMs); None
    * unless the payload starts (post-ID3) with a valid MPEG-1
    * Layer III frame — ASCII text can never false-positive (sync
    * needs a 0xFF byte). */
  def decodeMp3Header(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    val bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val rates = Array(44100, 48000, 32000)
    var pos = 0
    // ID3v2: "ID3" + ver(2) + flags(1) + syncsafe size(4)
    if (payload.length >= 10 && payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3') {
      val sz = ((payload(6) & 0x7f) << 21) | ((payload(7) & 0x7f) << 14) |
        ((payload(8) & 0x7f) << 7) | (payload(9) & 0x7f)
      pos = 10 + sz
    }
    var frames = 0L
    var sampleRate = 0
    var bitrateKbps = 0
    var channels = 0
    var ok = true
    while (ok && pos + 4 <= payload.length) {
      val b0 = payload(pos) & 0xff; val b1 = payload(pos + 1) & 0xff
      val b2 = payload(pos + 2) & 0xff; val b3 = payload(pos + 3) & 0xff
      // sync + MPEG-1 (version bits 11) + Layer III (layer bits 01)
      if (b0 == 0xff && (b1 & 0xe0) == 0xe0 && (b1 & 0x18) == 0x18 && (b1 & 0x06) == 0x02) {
        val bi = (b2 >> 4) & 0xf
        val si = (b2 >> 2) & 0x3
        if (bi >= 1 && bi <= 14 && si <= 2) {
          val br = bitrates(bi) * 1000
          val sr = rates(si)
          val padding = (b2 >> 1) & 0x1
          if (frames == 0) {
            sampleRate = sr; bitrateKbps = bitrates(bi)
            channels = if (((b3 >> 6) & 0x3) == 3) 1 else 2
          }
          frames += 1
          pos += 144 * br / sr + padding
        } else ok = false
      } else ok = false
    }
    if (frames == 0) None
    else Some((sampleRate, bitrateKbps, channels,
      frames * 1152L * 1000L / sampleRate))
  }

  /** REAL compressed-video decode for MP4 / ISO BMFF — pure-JVM box
    * (atom) walking, zero deps: the container is length-prefixed
    * boxes, so `moov/mvhd` (timescale + duration) and the first
    * track's `tkhd` (16.16 fixed-point width/height) parse without
    * touching a single coded video sample. Requires the payload to
    * open with an `ftyp` box (ISO BMFF's signature — random text
    * can't satisfy the size/type structure). Returns
    * (width, height, trackCount, durationMs). */
  def decodeMp4Header(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u32(i: Int): Long =
      ((payload(i) & 0xffL) << 24) | ((payload(i + 1) & 0xffL) << 16) |
        ((payload(i + 2) & 0xffL) << 8) | (payload(i + 3) & 0xffL)
    def tag(i: Int): String =
      new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < 16 || tag(4) != "ftyp") return None
    var pos = 0
    var moov = -1L
    var moovEnd = -1L
    while (moov < 0 && pos + 8 <= payload.length) {
      val sz = u32(pos)
      if (sz < 8 || pos + sz > payload.length) return None
      if (tag(pos + 4) == "moov") { moov = pos + 8; moovEnd = pos + sz }
      pos += sz.toInt
    }
    if (moov < 0) return None
    var p = moov.toInt
    var timescale = 0L; var duration = -1L
    var tracks = 0; var w = 0; var h = 0
    while (p + 8 <= moovEnd) {
      val sz = u32(p)
      if (sz < 8 || p + sz > moovEnd) return None
      tag(p + 4) match {
        case "mvhd" if (payload(p + 8) & 0xff) == 0 => // version 0
          timescale = u32(p + 8 + 12)
          duration = u32(p + 8 + 16)
        case "trak" =>
          tracks += 1
          if (tracks == 1) {
            // walk trak children for tkhd (v0: width/height at 76/80)
            var q = p + 8
            val trakEnd = p + sz
            while (q + 8 <= trakEnd) {
              val ssz = u32(q)
              if (ssz < 8 || q + ssz > trakEnd) return None
              if (tag(q + 4) == "tkhd" && (payload(q + 8) & 0xff) == 0) {
                w = (u32(q + 8 + 76) >> 16).toInt
                h = (u32(q + 8 + 80) >> 16).toInt
              }
              q += ssz.toInt
            }
          }
        case _ =>
      }
      p += sz.toInt
    }
    if (timescale <= 0 || duration < 0) None
    else Some((w, h, tracks, duration * 1000L / timescale))
  }

  // =================== FIXTURE MEDIA SYNTHESIS ==================== //
  // Deterministic REAL container bytes for the codec-decode
  // differential (q_media_codecs): tiny but structurally valid PNG /
  // WAV / MP3 / MP4 payloads whose properties are pure functions of
  // the parameters, so a SQL oracle can recompute what the parsers
  // must report without parsing anything.

  def makeWav(rate: Int, ch: Int, bits: Int, nSamples: Int): Array[Byte] = {
    val dataBytes = nSamples * ch * (bits / 8)
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1.toShort).putShort(ch.toShort)
      .putInt(rate).putInt(rate * ch * (bits / 8))
      .putShort((ch * bits / 8).toShort).putShort(bits.toShort)
    bb.put("data".getBytes).putInt(dataBytes)
    bb.array()
  }

  def makeMp3(nFrames: Int): Array[Byte] = {
    // MPEG-1 Layer III, 128 kbps, 44100 Hz, stereo, no padding → 417 B
    val frameLen = 144 * 128000 / 44100
    val out = new Array[Byte](nFrames * frameLen)
    var f = 0
    while (f < nFrames) {
      val base = f * frameLen
      out(base) = 0xff.toByte; out(base + 1) = 0xfb.toByte
      out(base + 2) = 0x90.toByte; out(base + 3) = 0x00.toByte
      f += 1
    }
    out
  }

  def makeMp4(w: Int, h: Int, durationTicks: Long, timescale: Int = 1000): Array[Byte] = {
    // ftyp content: major brand + minor version + 1 compatible brand = 12
    val bb = java.nio.ByteBuffer.allocate(20 + 8 + 108 + 100)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(20).put("ftyp".getBytes).put("isom".getBytes).putInt(0).put("isom".getBytes)
    bb.putInt(8 + 108 + 100).put("moov".getBytes)
    // mvhd v0: 8 header + 100 content
    bb.putInt(108).put("mvhd".getBytes).putInt(0) // version+flags
      .putInt(0).putInt(0).putInt(timescale).putInt(durationTicks.toInt)
      .putInt(0x00010000).putShort(0x0100.toShort).put(new Array[Byte](10))
      .put(new Array[Byte](36)).put(new Array[Byte](24)).putInt(2)
    // trak > tkhd v0: 8 + (8 + 84)
    bb.putInt(100).put("trak".getBytes)
    bb.putInt(92).put("tkhd".getBytes).putInt(0)
      .putInt(0).putInt(0).putInt(1).putInt(0).putInt(durationTicks.toInt)
      .put(new Array[Byte](8)).putShort(0).putShort(0).putShort(0).putShort(0)
      .put(new Array[Byte](36))
      .putInt(w << 16).putInt(h << 16)
    bb.array()
  }

  def makePng(w: Int, h: Int): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 16-bit mono PCM WAV with REAL sample data: sample i is the
    * integer sawtooth `((a·i + b) mod 2048) − 1024` — a pure function
    * of (a, b, i) that a SQL oracle recomputes without parsing a
    * byte. */
  def makeWavPcm(rate: Int, a: Int, b: Int, nSamples: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + nSamples * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + nSamples * 2).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1.toShort).putShort(1.toShort)
      .putInt(rate).putInt(rate * 2).putShort(2.toShort).putShort(16.toShort)
    bb.put("data".getBytes).putInt(nSamples * 2)
    var i = 0
    while (i < nSamples) {
      bb.putShort((((a * i + b) % 2048) - 1024).toShort)
      i += 1
    }
    bb.array()
  }

  /** REAL PCM sample decode — the uncompressed-audio case where a
    * pure-JVM parser IS the full codec: RIFF chunk walk to the `data`
    * chunk, then little-endian int16 reads. Returns the sample array
    * for 16-bit PCM payloads, None otherwise. */
  def decodeWavPcm(payload: Array[Byte]): Option[Array[Short]] = {
    def u16(i: Int): Int = (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (payload(i) & 0xffL) | ((payload(i + 1) & 0xffL) << 8) |
        ((payload(i + 2) & 0xffL) << 16) | ((payload(i + 3) & 0xffL) << 24)
    def tag(i: Int): String =
      new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var bits = -1
    var dataAt = -1
    var dataBytes = 0
    while (pos + 8 <= payload.length && (bits < 0 || dataAt < 0)) {
      val id = tag(pos)
      val sz = u32(pos + 4).toInt
      if (id == "fmt " && pos + 24 <= payload.length) bits = u16(pos + 22)
      else if (id == "data") { dataAt = pos + 8; dataBytes = sz }
      pos += 8 + sz + (sz & 1)
    }
    if (bits != 16 || dataAt < 0 || dataAt + dataBytes > payload.length) None
    else {
      val out = new Array[Short](dataBytes / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((payload(dataAt + 2 * i) & 0xff) |
          (payload(dataAt + 2 * i + 1) << 8)).toShort
        i += 1
      }
      Some(out)
    }
  }

  /** IMA/DVI ADPCM step-size table (89 entries) and index-adjust
    * table — the public tables from the IMA Digital Audio Focus and
    * Technical Working Groups recommendation (the WAV format-0x11
    * codec). */
  val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** Synthesize a mono IMA-ADPCM WAV (wFormatTag = 0x11): proper
    * RIFF/fmt(+cbSize/samplesPerBlock)/data layout with ONE block —
    * 4-byte block header (initial predictor int16le, step index u8,
    * reserved 0) followed by the nibble stream, low nibble first.
    * The COMPRESSED stream itself is the deterministic formula
    * nib(k) = (a·k + b + k²) mod 16 with initial predictor
    * (b mod 2048) − 1024 and initial index (3a + b) mod 89, so a SQL
    * oracle can replay the decoder's integer state machine without
    * needing an encoder on either side. */
  def makeWavAdpcm(rate: Int, a: Int, b: Int, nSamples: Int): Array[Byte] = {
    val nNib = nSamples - 1
    val nibBytes = (nNib + 1) / 2
    val blockBytes = 4 + nibBytes
    val bb = java.nio.ByteBuffer.allocate(44 + 4 + blockBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(40 + blockBytes).put("WAVE".getBytes)
    // fmt: tag 0x11, mono, 4-bit, cbSize=2, wSamplesPerBlock
    bb.put("fmt ".getBytes).putInt(20).putShort(0x11.toShort)
      .putShort(1.toShort).putInt(rate).putInt(rate / 2)
      .putShort(blockBytes.toShort).putShort(4.toShort)
      .putShort(2.toShort).putShort(nSamples.toShort)
    bb.put("data".getBytes).putInt(blockBytes)
    bb.putShort((((b % 2048) + 2048) % 2048 - 1024).toShort)
    bb.put(((3 * a + b) % 89).toByte).put(0.toByte)
    var k = 0
    var cur = 0
    while (k < nNib) {
      val nib = ((a * k + b + k * k) % 16 + 16) % 16
      if (k % 2 == 0) cur = nib
      else { bb.put((cur | (nib << 4)).toByte); cur = 0 }
      k += 1
    }
    if (nNib % 2 == 1) bb.put(cur.toByte)
    bb.array()
  }

  /** REAL IMA ADPCM sample decode (WAV format 0x11) — the pure-JVM
    * nibble-predictor state machine that extends sample-level audio
    * from uncompressed PCM ([[decodeWavPcm]]) to a genuinely
    * COMPRESSED codec: RIFF walk to fmt/data, then per block read the
    * (predictor, step index) header — the header predictor IS sample
    * 0 — and advance the predictor through the IMA tables one 4-bit
    * nibble at a time (diff = step/8 + bit2·step + bit1·step/2 +
    * bit0·step/4, sign from bit3, int16 clamp, index clamp 0..88).
    * Pure integer arithmetic end to end, which is what lets the
    * DuckDB oracle replay every sample with a recursive CTE. */
  def decodeWavAdpcm(payload: Array[Byte]): Option[Array[Short]] = {
    def u16(i: Int): Int = (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def s16(i: Int): Int = u16(i).toShort.toInt
    def u32(i: Int): Long =
      (payload(i) & 0xffL) | ((payload(i + 1) & 0xffL) << 8) |
        ((payload(i + 2) & 0xffL) << 16) | ((payload(i + 3) & 0xffL) << 24)
    def tag(i: Int): String =
      new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < 48 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmtTag = -1; var channels = -1; var spb = -1
    var dataAt = -1; var dataBytes = 0
    while (pos + 8 <= payload.length && (fmtTag < 0 || dataAt < 0)) {
      val id = tag(pos)
      val sz = u32(pos + 4).toInt
      if (id == "fmt " && pos + 28 <= payload.length) {
        fmtTag = u16(pos + 8); channels = u16(pos + 10)
        if (sz >= 20) spb = u16(pos + 26)
      } else if (id == "data") { dataAt = pos + 8; dataBytes = sz }
      pos += 8 + sz + (sz & 1)
    }
    if (fmtTag != 0x11 || channels != 1 || spb <= 0 || dataAt < 0 ||
      dataAt + dataBytes > payload.length) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Short]
    var bp = dataAt
    val end = dataAt + dataBytes
    while (bp + 4 <= end) {
      var pred = s16(bp)
      var idx = payload(bp + 2) & 0xff
      if (idx > 88) idx = 88
      out += pred.toShort
      var emitted = 1
      var np = bp + 4
      val blockEnd = math.min(end, np + (spb - 1 + 1) / 2)
      while (np < blockEnd && emitted < spb) {
        val byte = payload(np) & 0xff
        var half = 0
        while (half < 2 && emitted < spb) {
          val nib = if (half == 0) byte & 0xf else byte >>> 4
          val step = ImaStepTable(idx)
          var diff = step >> 3
          if ((nib & 4) != 0) diff += step
          if ((nib & 2) != 0) diff += step >> 1
          if ((nib & 1) != 0) diff += step >> 2
          pred = if ((nib & 8) != 0) pred - diff else pred + diff
          if (pred > 32767) pred = 32767
          if (pred < -32768) pred = -32768
          idx += ImaIndexTable(nib)
          if (idx < 0) idx = 0
          if (idx > 88) idx = 88
          out += pred.toShort
          emitted += 1
          half += 1
        }
        np += 1
      }
      bp = blockEnd
    }
    if (out.isEmpty) None else Some(out.toArray)
  }

  /** Synthesize a mono G.711 μ-law WAV (wFormatTag = 0x07, 8 bits per
    * sample): the COMPRESSED byte stream is the deterministic formula
    * code(i) = (a·i + b + i²) mod 256 — compressed data synthesized
    * directly (like [[makeWavAdpcm]]), so no encoder is needed on
    * either side and a SQL oracle can expand every code in closed
    * form. */
  def makeWavUlaw(rate: Int, a: Int, b: Int, nSamples: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + nSamples)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + nSamples).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(0x07.toShort).putShort(1.toShort)
      .putInt(rate).putInt(rate).putShort(1.toShort).putShort(8.toShort)
    bb.put("data".getBytes).putInt(nSamples)
    var i = 0
    while (i < nSamples) {
      bb.put((((a * i + b + i * i) % 256 + 256) % 256).toByte)
      i += 1
    }
    bb.array()
  }

  /** G.711 μ-law code → linear sample (the CCITT expansion): complement
    * the code, split sign / 3-bit exponent / 4-bit mantissa, and expand
    * magnitude = ((mant·8 + 132) << exp) − 132 — max ±32124, the
    * standard 16-bit-domain decode. Pure integer arithmetic, STATELESS
    * per sample (unlike ADPCM's predictor), which is what lets the
    * oracle expand every sample with a plain closed-form expression
    * instead of a recursive CTE. */
  @inline def ulawToLinear(code: Int): Int = {
    val u = ~code & 0xff
    val exp = (u >> 4) & 7
    val mant = u & 0xf
    val mag = (((mant << 3) + 0x84) << exp) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** REAL G.711 μ-law sample decode (WAV format 0x07) — RIFF walk to a
    * fmt chunk with wFormatTag 7 / 8 bits / mono, then per-byte
    * logarithmic expansion through [[ulawToLinear]]. Companded audio is
    * the third genuinely-encoded codec the pipeline decodes at sample
    * level (after PCM passthrough and ADPCM prediction). */
  def decodeWavUlaw(payload: Array[Byte]): Option[Array[Short]] = {
    def u16(i: Int): Int = (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (payload(i) & 0xffL) | ((payload(i + 1) & 0xffL) << 8) |
        ((payload(i + 2) & 0xffL) << 16) | ((payload(i + 3) & 0xffL) << 24)
    def tag(i: Int): String =
      new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmtTag = -1; var channels = -1; var bits = -1
    var dataAt = -1; var dataBytes = 0
    while (pos + 8 <= payload.length && (fmtTag < 0 || dataAt < 0)) {
      val id = tag(pos)
      val sz = u32(pos + 4).toInt
      if (id == "fmt " && pos + 24 <= payload.length) {
        fmtTag = u16(pos + 8); channels = u16(pos + 10); bits = u16(pos + 22)
      } else if (id == "data") { dataAt = pos + 8; dataBytes = sz }
      pos += 8 + sz + (sz & 1)
    }
    if (fmtTag != 0x07 || channels != 1 || bits != 8 || dataAt < 0 ||
      dataAt + dataBytes > payload.length) return None
    val out = new Array[Short](dataBytes)
    var i = 0
    while (i < dataBytes) {
      out(i) = ulawToLinear(payload(dataAt + i) & 0xff).toShort
      i += 1
    }
    if (out.isEmpty) None else Some(out)
  }

  /** Deterministic 16×16 8-bit grayscale gradient PNG: pixel (x, y)
    * has value `(a·x + b·y + c) mod 256`. PNG grayscale is lossless,
    * so a real encode→decode roundtrip must reproduce every pixel
    * bit-exactly — which is what lets a SQL oracle recompute the
    * perceptual hash downstream from (a, b, c) alone. */
  def makeGradPng(a: Int, b: Int, c: Int): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        raster.setSample(x, y, 0, (a * x + b * y + c) % 256)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
  // ================================================================ //

  /** The codec-decode differential (driver contract entry): per doc,
    * synthesize a REAL container payload — PNG, WAV, MP3 frames or an
    * MP4 box tree, parameters pure functions of doc_id — then decode
    * it back with the REAL pure-JVM parsers ([[decodeImageHeader]],
    * [[decodeWavHeader]], [[decodeMp3Header]], [[decodeMp4Header]];
    * the stub is NOT in this path). The DuckDB oracle recomputes
    * every property from the same doc_id formulas without parsing, so
    * any bug in either the synthesizers or the parsers breaks the
    * hash. Payload bytes are built and consumed inside one
    * mapPartitions — nothing binary crosses a shuffle. */
  def qMediaCodecs(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val m = id % 4
          val (kind, payload) = m match {
            case 0 => ("image/png", makePng(16 + (id % 16).toInt, 8 + (id % 8).toInt))
            case 1 => ("audio/wav", makeWav(8000 * (1 + (id % 3).toInt),
              1 + (id % 2).toInt, 16, 500 + (id % 1000).toInt))
            case 2 => ("audio/mpeg", makeMp3(5 + (id % 20).toInt))
            case _ => ("video/mp4", makeMp4(320 + (id % 4).toInt * 16,
              240 + (id % 4).toInt * 16, 1000L + id % 60000L))
          }
          val (w, h, c, dur) = m match {
            case 0 =>
              val (iw, ih, bands) = decodeImageHeader(payload).get
              (iw, ih, bands, 0L)
            case 1 => decodeWavHeader(payload).get
            case 2 => decodeMp3Header(payload).get
            case _ => decodeMp4Header(payload).get
          }
          // PNG byte length is encoder-dependent (zlib), not a doc_id
          // formula — report -1 so the column stays oracle-computable;
          // the container formats report their structural size.
          val blen = if (m == 0) -1L else payload.length.toLong
          (id, kind, blen, w.toLong, h.toLong, c.toLong, dur)
        }
      }
      .toDF("asset_id", "kind", "byte_len", "width", "height", "channels", "duration_ms")
      .orderBy("asset_id")
  }

  /** DuckDB oracle for [[qMediaCodecs]]: the doc_id→parameter
    * formulas restated in SQL (byte_len for the synthesized WAV/MP3/
    * MP4 containers is structural arithmetic; PNG byte length is
    * encoder-dependent, so that column reports the only
    * formula-stable value, the decoded dimensions — see the CASE). */
  val mediaCodecsOracleSql: String =
    """SELECT doc_id AS asset_id,
      |  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
      |                  WHEN 2 THEN 'audio/mpeg' ELSE 'video/mp4' END AS kind,
      |  CAST(CASE doc_id % 4
      |    WHEN 0 THEN -1
      |    WHEN 1 THEN 44 + (500 + doc_id % 1000) * (1 + doc_id % 2) * 2
      |    WHEN 2 THEN (5 + doc_id % 20) * 417
      |    ELSE 236 END AS BIGINT) AS byte_len,
      |  CAST(CASE doc_id % 4
      |    WHEN 0 THEN 16 + doc_id % 16
      |    WHEN 1 THEN 8000 * (1 + doc_id % 3)
      |    WHEN 2 THEN 44100
      |    ELSE 320 + (doc_id % 4) * 16 END AS BIGINT) AS width,
      |  CAST(CASE doc_id % 4
      |    WHEN 0 THEN 8 + doc_id % 8
      |    WHEN 1 THEN 16
      |    WHEN 2 THEN 128
      |    ELSE 240 + (doc_id % 4) * 16 END AS BIGINT) AS height,
      |  CAST(CASE doc_id % 4
      |    WHEN 0 THEN 3
      |    WHEN 1 THEN 1 + doc_id % 2
      |    WHEN 2 THEN 2
      |    ELSE 1 END AS BIGINT) AS channels,
      |  CAST(CASE doc_id % 4
      |    WHEN 0 THEN 0
      |    WHEN 1 THEN ((500 + doc_id % 1000) * (1 + doc_id % 2) * 2) * 1000
      |                // (8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2)
      |    WHEN 2 THEN (5 + doc_id % 20) * 1152 * 1000 // 44100
      |    ELSE 1000 + doc_id % 60000 END AS BIGINT) AS duration_ms
      |FROM documents ORDER BY asset_id""".stripMargin

  /** SAMPLE-LEVEL audio analytics over really-decoded PCM — the
    * loudness/clipping audit an audio-training pipeline runs per
    * asset: each doc synthesizes a 16-bit mono WAV whose samples are
    * a pure (doc_id, i) sawtooth ([[makeWavPcm]]), the REAL RIFF
    * parser reads them back ([[decodeWavPcm]] — for uncompressed PCM
    * the parser IS the full codec, no stub anywhere in this path),
    * and peak / mean-abs / energy / zero-crossings accumulate as
    * exact integers inside the same mapPartitions (payload bytes
    * never cross a shuffle; output is 6 scalars per asset). The
    * oracle regenerates every sample with LATERAL UNNEST(range(n))
    * and must land on identical integers; rms is the one rooted
    * value — sqrt of an exactly-representable rational, IEEE-rounded
    * identically on both engines, then floor-quantized to millis. */
  def qAudioPcmStats(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val a = 3 + (id % 7).toInt
          val b = (id % 512).toInt
          val n = 400 + (id % 200).toInt
          val samples = decodeWavPcm(makeWavPcm(8000, a, b, n)).get
          var peak = 0L; var sumAbs = 0L; var sumSq = 0L; var zc = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            val av = math.abs(v)
            if (av > peak) peak = av
            sumAbs += av
            sumSq += v * v
            if (i > 0 && ((v >= 0) != (samples(i - 1) >= 0))) zc += 1
            i += 1
          }
          val rmsMilli =
            math.floor(math.sqrt(sumSq.toDouble / samples.length) * 1000.0 + 0.5).toLong
          (id, samples.length.toLong, peak, sumAbs, sumSq, zc, rmsMilli)
        }
      }
      .toDF("doc_id", "n_samples", "peak", "sum_abs", "sum_sq",
        "zero_crossings", "rms_milli")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[qAudioPcmStats]]: every sample regenerated
    * from the (doc_id, i) formula, aggregated per doc — any byte-level
    * bug in the WAV writer or the PCM reader shifts an integer. */
  val audioPcmStatsOracleSql: String =
    """WITH p AS (SELECT doc_id, 3 + doc_id % 7 AS a, doc_id % 512 AS b,
      |                  400 + doc_id % 200 AS n FROM documents),
      |s AS (SELECT p.doc_id, p.n, t.i,
      |             ((p.a * t.i + p.b) % 2048) - 1024 AS v
      |      FROM p, LATERAL (SELECT UNNEST(range(p.n)) AS i) t),
      |sl AS (SELECT doc_id, n, i, v,
      |              LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |       FROM s)
      |SELECT doc_id,
      |       CAST(MAX(n) AS BIGINT) AS n_samples,
      |       CAST(MAX(ABS(v)) AS BIGINT) AS peak,
      |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
      |       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
      |       CAST(SUM(CASE WHEN pv IS NOT NULL
      |                      AND (v >= 0) <> (pv >= 0)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
      |       CAST(FLOOR(SQRT(CAST(SUM(v * v) AS DOUBLE) / MAX(n))
      |                  * 1000.0 + 0.5) AS BIGINT) AS rms_milli
      |FROM sl GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SAMPLE-LEVEL audio analytics over a genuinely COMPRESSED codec —
    * the [[qAudioPcmStats]] twin on IMA ADPCM (WAV format 0x11): each
    * doc synthesizes a format-0x11 WAV whose 4-bit nibble stream is a
    * pure (doc_id, k) formula ([[makeWavAdpcm]] — compressed data
    * synthesized directly, so no encoder is needed on either side),
    * the REAL nibble-predictor decoder reconstructs every int16
    * sample ([[decodeWavAdpcm]]), and the same exact-integer
    * peak / mean-abs / energy / zero-crossing stats accumulate inside
    * one mapPartitions (payload bytes never cross a shuffle). The
    * oracle replays the IDENTICAL predictor state machine as a
    * recursive CTE stepping every doc one sample per iteration (the
    * q_rate_limit oracle pattern) against the 89-entry step table —
    * any drift in the table, the clamp, or the diff assembly shifts
    * an integer. */
  def qAudioAdpcmStats(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val a = 3 + (id % 7).toInt
          val b = (id % 512).toInt
          val n = 121 + (id % 64).toInt
          val samples = decodeWavAdpcm(makeWavAdpcm(8000, a, b, n)).get
          var peak = 0L; var sumAbs = 0L; var sumSq = 0L; var zc = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            val av = math.abs(v)
            if (av > peak) peak = av
            sumAbs += av
            sumSq += v * v
            if (i > 0 && ((v >= 0) != (samples(i - 1) >= 0))) zc += 1
            i += 1
          }
          val rmsMilli =
            math.floor(math.sqrt(sumSq.toDouble / samples.length) * 1000.0 + 0.5).toLong
          (id, samples.length.toLong, peak, sumAbs, sumSq, zc, rmsMilli)
        }
      }
      .toDF("doc_id", "n_samples", "peak", "sum_abs", "sum_sq",
        "zero_crossings", "rms_milli")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[qAudioAdpcmStats]]: the IMA predictor
    * recurrence replayed per sample by a recursive CTE — pred/index
    * state advances doc-by-doc one nibble per iteration, the step
    * table joins by index, and the aggregates must land on the
    * decoder's exact integers. */
  val audioAdpcmStatsOracleSql: String =
    """WITH RECURSIVE p AS (SELECT doc_id, 3 + doc_id % 7 AS a,
      |                            doc_id % 512 AS b,
      |                            121 + doc_id % 64 AS n FROM documents),
      |st AS (SELECT UNNEST(range(89)) AS idx, UNNEST([
      |         7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
      |         34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,
      |         143,157,173,190,209,230,253,279,307,337,371,408,449,
      |         494,544,598,658,724,796,876,963,1060,1166,1282,1411,
      |         1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
      |         4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
      |         11487,12635,13899,15289,16818,18500,20350,22385,24623,
      |         27086,29794,32767]) AS step),
      |dec AS (
      |  SELECT doc_id, CAST(0 AS BIGINT) AS i,
      |         CAST((b % 2048) - 1024 AS BIGINT) AS pred,
      |         CAST((3 * a + b) % 89 AS BIGINT) AS sidx
      |  FROM p
      |  UNION ALL
      |  SELECT d.doc_id, d.i + 1,
      |    GREATEST(-32768, LEAST(32767,
      |      d.pred
      |      + CASE WHEN ((a * d.i + b + d.i * d.i) % 16) // 8 = 1
      |             THEN -1 ELSE 1 END
      |        * (st.step // 8
      |           + (((a * d.i + b + d.i * d.i) % 16) // 4 % 2) * st.step
      |           + (((a * d.i + b + d.i * d.i) % 16) // 2 % 2) * (st.step // 2)
      |           + (((a * d.i + b + d.i * d.i) % 16) % 2) * (st.step // 4)))),
      |    GREATEST(0, LEAST(88, d.sidx +
      |      CASE ((a * d.i + b + d.i * d.i) % 16) % 8
      |        WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
      |        ELSE -1 END))
      |  FROM dec d JOIN p ON p.doc_id = d.doc_id
      |  JOIN st ON st.idx = d.sidx
      |  WHERE d.i < p.n - 1),
      |sl AS (SELECT doc_id, i, pred AS v,
      |              LAG(pred) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |       FROM dec)
      |SELECT doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_samples,
      |       CAST(MAX(ABS(v)) AS BIGINT) AS peak,
      |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
      |       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
      |       CAST(SUM(CASE WHEN pv IS NOT NULL
      |                      AND (v >= 0) <> (pv >= 0)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
      |       CAST(FLOOR(SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*))
      |                  * 1000.0 + 0.5) AS BIGINT) AS rms_milli
      |FROM sl GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SAMPLE-LEVEL audio analytics over COMPANDED audio — the third
    * member of the codec-stats family (PCM passthrough, ADPCM
    * prediction, now G.711 μ-law logarithmic expansion): each doc
    * synthesizes a format-0x07 WAV whose 8-bit code stream is a pure
    * (doc_id, i) formula ([[makeWavUlaw]]), the REAL μ-law decoder
    * expands every code ([[decodeWavUlaw]]/[[ulawToLinear]]), and the
    * exact-integer stats accumulate inside one mapPartitions (payload
    * bytes never cross a shuffle). μ-law is stateless per sample, so
    * the oracle expands each code with the closed-form
    * sign·(((mant·8+132)·2^exp)−132) — no recursion needed; any drift
    * in the complement, bit split, or bias shifts an integer. */
  def qAudioUlawStats(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val a = 3 + (id % 11).toInt
          val b = (id % 256).toInt
          val n = 300 + (id % 150).toInt
          val samples = decodeWavUlaw(makeWavUlaw(8000, a, b, n)).get
          var peak = 0L; var sumAbs = 0L; var sumSq = 0L; var zc = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            val av = math.abs(v)
            if (av > peak) peak = av
            sumAbs += av
            sumSq += v * v
            if (i > 0 && ((v >= 0) != (samples(i - 1) >= 0))) zc += 1
            i += 1
          }
          val rmsMilli =
            math.floor(math.sqrt(sumSq.toDouble / samples.length) * 1000.0 + 0.5).toLong
          (id, samples.length.toLong, peak, sumAbs, sumSq, zc, rmsMilli)
        }
      }
      .toDF("doc_id", "n_samples", "peak", "sum_abs", "sum_sq",
        "zero_crossings", "rms_milli")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[qAudioUlawStats]]: every μ-law code expanded
    * in closed form from the (doc_id, i) formula — u = 255 − code,
    * exponent (u/16) mod 8, mantissa u mod 16, magnitude
    * (mant·8+132)·2^exp − 132, sign from u ≥ 128 — then the same
    * exact-integer aggregates as the PCM/ADPCM twins. */
  val audioUlawStatsOracleSql: String =
    """WITH p AS (SELECT doc_id, 3 + doc_id % 11 AS a, doc_id % 256 AS b,
      |                  300 + doc_id % 150 AS n FROM documents),
      |s AS (SELECT p.doc_id, p.n, t.i,
      |             255 - ((p.a * t.i + p.b + t.i * t.i) % 256) AS u
      |      FROM p, LATERAL (SELECT UNNEST(range(p.n)) AS i) t),
      |v AS (SELECT doc_id, n, i,
      |             (CASE WHEN u >= 128 THEN -1 ELSE 1 END)
      |             * (((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132) AS v
      |      FROM s),
      |sl AS (SELECT doc_id, n, i, v,
      |              LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |       FROM v)
      |SELECT doc_id,
      |       CAST(MAX(n) AS BIGINT) AS n_samples,
      |       CAST(MAX(ABS(v)) AS BIGINT) AS peak,
      |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
      |       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
      |       CAST(SUM(CASE WHEN pv IS NOT NULL
      |                      AND (v >= 0) <> (pv >= 0)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
      |       CAST(FLOOR(SQRT(CAST(SUM(v * v) AS DOUBLE) / MAX(n))
      |                  * 1000.0 + 0.5) AS BIGINT) AS rms_milli
      |FROM sl GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Synthesize a 16×16 grayscale GIF — pixel (x, y) =
    * (a·x + b·y + c) mod 256 — through the JDK's real GIF encoder
    * (LZW compression, palette quantization of an already-8-bit
    * image is lossless; verified by the roundtrip spec). Like
    * [[makeGradPng]] but through a genuinely COMPRESSED image codec:
    * LZW is the dictionary coder PNG's DEFLATE displaced, and the
    * decode path exercises palette indirection the PNG path never
    * touches. */
  def makeGradGif(a: Int, b: Int, c: Int): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        raster.setSample(x, y, 0, (a * x + b * y + c) % 256)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    bos.toByteArray
  }

  /** PIXEL-LEVEL image analytics over a REALLY LZW-decoded GIF — the
    * second lossless image codec in the decode family (PNG/DEFLATE in
    * [[qPixelDedup]], GIF/LZW here, reading through the palette): per
    * doc, a 16×16 gradient GIF is synthesized from doc_id parameters
    * ([[makeGradGif]]), ImageIO's real LZW decoder reads it back, and
    * exact-integer pixel features accumulate in the same
    * mapPartitions — sum, min, max, and horizontal-gradient energy
    * Σ|p(x+1,y) − p(x,y)| (the edge-detector primitive an image
    * dedup/quality pass runs). The oracle recomputes every pixel from
    * (a, b, c) in closed form: an encoder palette bug or LZW decode
    * bug anywhere shifts an integer. Payload bytes never cross a
    * shuffle. */
  def qGifPixelStats(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val (a, b, c) = (2 + (id % 9).toInt, 1 + (id % 6).toInt, (id % 11).toInt * 8)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(makeGradGif(a, b, c)))
          var sum = 0L; var mn = 255L; var mx = 0L; var hgrad = 0L
          var y = 0
          while (y < 16) {
            var x = 0
            var prev = -1L
            while (x < 16) {
              val v = (img.getRGB(x, y) & 0xff).toLong
              sum += v
              if (v < mn) mn = v
              if (v > mx) mx = v
              if (prev >= 0) hgrad += math.abs(v - prev)
              prev = v
              x += 1
            }
            y += 1
          }
          (id, 256L, sum, mn, mx, hgrad)
        }
      }
      .toDF("doc_id", "n_px", "px_sum", "px_min", "px_max", "hgrad")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[qGifPixelStats]]: the 16×16 grid regenerated
    * from the (doc_id) parameter formulas, aggregated per doc. */
  val gifPixelStatsOracleSql: String =
    """WITH p AS (SELECT doc_id, 2 + doc_id % 9 AS a, 1 + doc_id % 6 AS b,
      |                  (doc_id % 11) * 8 AS c FROM documents),
      |px AS (SELECT p.doc_id, g.x, g.y,
      |              (p.a * g.x + p.b * g.y + p.c) % 256 AS v
      |       FROM p, LATERAL (SELECT x.x, y.y
      |         FROM (SELECT UNNEST(range(16)) AS x) x,
      |              (SELECT UNNEST(range(16)) AS y) y) g),
      |hp AS (SELECT doc_id, y, x, v,
      |              LAG(v) OVER (PARTITION BY doc_id, y ORDER BY x) AS pv
      |       FROM px)
      |SELECT doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_px,
      |       CAST(SUM(v) AS BIGINT) AS px_sum,
      |       CAST(MIN(v) AS BIGINT) AS px_min,
      |       CAST(MAX(v) AS BIGINT) AS px_max,
      |       CAST(SUM(CASE WHEN pv IS NULL THEN 0 ELSE ABS(v - pv) END) AS BIGINT) AS hgrad
      |FROM hp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Perceptual-hash image dedup over REALLY-decoded pixels — the
    * near-duplicate-image stage of a multimodal pipeline, on the one
    * image path the JDK fully decodes (PNG grayscale is lossless):
    * per doc, a 16×16 gradient PNG is synthesized from doc_id
    * parameters ([[makeGradPng]]), ImageIO decodes it back to pixels,
    * and the classic 64-bit average-hash (aHash) is computed from
    * them — 8×8 grid of 2×2 integer block means, each bit = block
    * mean above the global mean — as a 64-char bit string (strings
    * sidestep the sign bit a BIGINT hash would hit). Identical
    * parameter triples collide exactly, so grouping by hash IS the
    * dedup; everything after the per-partition decode is one hash
    * aggregate on a 64-char key — the same shape at any corpus size.
    * The oracle recomputes all 64 block means in closed form from
    * (a, b, c): an encoder or decoder bug anywhere in the pixel path
    * flips a bit and breaks the hash compare. */
  def qPixelDedup(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val (a, b, c) = ((id % 5).toInt, (id % 3).toInt, (id % 7).toInt * 16)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(makeGradPng(a, b, c)))
          val raster = img.getRaster
          val means = new Array[Int](64)
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 8) {
              means(by * 8 + bx) =
                (raster.getSample(2 * bx, 2 * by, 0) +
                  raster.getSample(2 * bx + 1, 2 * by, 0) +
                  raster.getSample(2 * bx, 2 * by + 1, 0) +
                  raster.getSample(2 * bx + 1, 2 * by + 1, 0)) / 4
              bx += 1
            }
            by += 1
          }
          val global = means.sum / 64
          val hash = means.map(m => if (m > global) '1' else '0').mkString
          (id, hash)
        }
      }
      .toDF("doc_id", "hash")
      .groupBy("hash")
      .agg(count(lit(1)).as("n_images"), min("doc_id").as("canonical_doc"))
      .orderBy("hash")
  }

  /** DuckDB oracle for [[qPixelDedup]]: the 64 block means in closed
    * form, the same floor divisions, the same bit string. */
  val pixelDedupOracleSql: String =
    """WITH p AS (SELECT doc_id, doc_id % 5 AS a, doc_id % 3 AS b,
      |                  (doc_id % 7) * 16 AS c FROM documents),
      |g AS (SELECT p.doc_id, p.a, p.b, p.c, bx.i AS bx, by.i AS by
      |      FROM p,
      |           LATERAL (SELECT UNNEST(range(8)) AS i) bx,
      |           LATERAL (SELECT UNNEST(range(8)) AS i) by),
      |m AS (SELECT doc_id, bx, by,
      |        CAST((((a * (2*bx)     + b * (2*by)     + c) % 256)
      |            + ((a * (2*bx + 1) + b * (2*by)     + c) % 256)
      |            + ((a * (2*bx)     + b * (2*by + 1) + c) % 256)
      |            + ((a * (2*bx + 1) + b * (2*by + 1) + c) % 256)) // 4
      |             AS BIGINT) AS mean
      |      FROM g),
      |gm AS (SELECT doc_id, CAST(SUM(mean) // 64 AS BIGINT) AS glob
      |       FROM m GROUP BY doc_id),
      |h AS (SELECT m.doc_id,
      |             string_agg(CASE WHEN m.mean > gm.glob THEN '1' ELSE '0' END,
      |                        '' ORDER BY m.by * 8 + m.bx) AS hash
      |      FROM m JOIN gm USING (doc_id) GROUP BY m.doc_id)
      |SELECT hash, CAST(COUNT(*) AS BIGINT) AS n_images,
      |       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
      |FROM h GROUP BY hash ORDER BY hash""".stripMargin

  // ======================= STUB DECODER ========================== //
  // Deterministic FAKE media decode for payloads NO real parser
  // recognizes (the fixture's text-as-bytes assets, and compressed
  // formats beyond the image/WAV/MP3/MP4 parsers above): properties
  // are derived from the payload bytes via FNV-1a so tests are
  // reproducible. A real implementation replaces ONLY this function
  // with a codec call (ffmpeg bindings etc.); the Spark plumbing
  // around it is unchanged.
  def stubDecode(payload: Array[Byte]): (Int, Int, Int, Long) = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < payload.length) {
      h ^= payload(i) & 0xffL; h *= 0x100000001b3L; i += 1
    }
    val w = 160 + (math.abs(h % 8) * 160).toInt        // 160..1280
    val ht = 120 + (math.abs((h >> 8) % 8) * 120).toInt // 120..960
    val ch = if (h % 2 == 0) 3 else 1
    val dur = 1000L + math.abs((h >> 16) % 60000L)
    (w, ht, ch, dur)
  }
  // ================================================================ //

  /** Decode stage: per-partition batch iteration over typed rows —
    * the Scala analog of a vectorized Python `mapInPandas` (one
    * decoder init per PARTITION, amortized across its rows, which is
    * the property that matters for a real codec). Image-mime payloads
    * go through the REAL javax.imageio header decode (duration 0 —
    * stills have none); everything else, plus unreadable image
    * payloads, falls back to the deterministic stub. */
  def decodeAssets(assets: DataFrame): Dataset[DecodedAsset] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "mime", "payload").as[Asset]
      .mapPartitions { it =>
        // real decoder: codec context initialized here, once per partition
        javax.imageio.ImageIO.setUseCache(false)
        it.map { a =>
          // audio rides the same row shape: width=sampleRate,
          // height=bitsPerSample (documented field overloading — the
          // DecodedAsset columns are generic media properties)
          val real =
            if (a.mime.startsWith("image/")) decodeImageHeader(a.payload).map {
              case (iw, ih, bands) => (iw, ih, bands, 0L)
            }
            else if (a.mime.startsWith("audio/"))
              decodeWavHeader(a.payload).map {
                case (rate, bits, ch, dur) => (rate, bits, ch, dur)
              }.orElse(decodeMp3Header(a.payload).map {
                case (rate, kbps, ch, dur) => (rate, kbps, ch, dur)
              })
            else if (a.mime.startsWith("video/"))
              decodeMp4Header(a.payload).map {
                case (vw, vh, _, dur) => (vw, vh, 3, dur)
              }
            else None
          val (w, h, c, dur) = real.getOrElse(stubDecode(a.payload))
          DecodedAsset(a.asset_id, a.mime, a.payload.length.toLong, w, h, c, dur)
        }
      }
  }

  /** Feature-extraction stage: fixed-dim deterministic fake embedding
    * from payload bytes (stub; a real model call has the same
    * signature). Emitted as Array[Float] — the same column shape the
    * VectorOps ANN/near-dup family consumes. Only the first
    * [[FeatureBytes]] payload bytes feed the fingerprint: per-asset
    * cost is CONSTANT regardless of media size (a 4 GB video costs
    * the same as a thumbnail), which is what keeps the feature pass
    * scan-bound at 100 TB — and what keeps the differential oracle's
    * replay of this fold bounded. */
  val FeatureBytes = 256

  def extractFeatures(assets: DataFrame, dim: Int = 16): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select("asset_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val f = new Array[Float](dim)
          var h = 0xcbf29ce484222325L
          var i = 0
          val n = math.min(payload.length, FeatureBytes)
          while (i < n) {
            h ^= payload(i) & 0xffL; h *= 0x100000001b3L
            f(i % dim) += ((h % 1000L) / 1000.0f)
            i += 1
          }
          (id, f)
        }
      }.toDF("asset_id", "features")
  }

  /** Resize stage (stub): rewrites target dimensions in metadata and
    * truncates the payload proportionally — stands in for a pixel
    * resample, preserving the binary-in/binary-out column contract. */
  def resizeAssets(decoded: Dataset[DecodedAsset], assets: DataFrame,
                   targetW: Int, targetH: Int): DataFrame =
    decoded.toDF().join(assets.select("asset_id", "payload"), "asset_id")
      .select(
        col("asset_id"), col("mime"),
        lit(targetW).as("width"), lit(targetH).as("height"),
        // STUB: proportional byte truncation in place of resampling
        substring(col("payload"), 0,  64).as("payload"))

  /** Frame sampling for video assets: one row per sampled frame,
    * produced by explode — fan-out happens in place on the executor
    * holding the payload, no shuffle. Frame payloads are byte slices
    * (stub for a real frame grab). */
  def sampleFrames(assets: DataFrame, everyMs: Long = 10000): DataFrame = {
    val decoded = decodeAssets(assets).toDF()
    decoded.filter(col("mime") === "video/mp4")
      .join(assets.select("asset_id", "payload"), "asset_id")
      .withColumn("frame_no",
        explode(sequence(lit(0L), (col("duration_ms") / everyMs).cast("long"))))
      .select(
        col("asset_id"), col("frame_no"),
        (col("frame_no") * everyMs).as("ts_ms"),
        // STUB: slice of payload in place of a decoded frame
        substring(col("payload"), 1, 32).as("frame_bytes"))
  }

  /** Pipeline stats query (driver contract entry): decode everything,
    * aggregate per mime type. The shuffle carries only scalars. */
  def qMultimodalMeta(s: SparkSession, d: String): DataFrame =
    decodeAssets(assetTable(s, d)).toDF()
      .groupBy("mime")
      .agg(
        count(lit(1)).as("n_assets"),
        sum("byte_len").as("total_bytes"),
        round(avg("width"), 2).as("avg_width"),
        round(avg("duration_ms"), 2).as("avg_duration_ms"))
      .orderBy("mime")

  /** Frame-sample query: fan-out plumbing under the driver contract. */
  def qFrameSample(s: SparkSession, d: String): DataFrame =
    sampleFrames(assetTable(s, d))
      .select("asset_id", "frame_no", "ts_ms")
      .orderBy("asset_id", "frame_no")

  /** Media-embedding similarity: feature-extract every asset (stub
    * model), then brute-force cosine top-k against asset 0 — the
    * decode → embed → similarity-search composition a multimodal
    * training pipeline runs. Features flow straight into the same
    * array<float> column shape VectorOps consumes; the top-k is
    * TakeOrderedAndProject (per-partition heaps), no global sort. */
  def qMediaEmbed(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val feats = extractFeatures(assetTable(s, d))
    val q = feats.filter(col("asset_id") === 0)
      .select("features").head().getSeq[Float](0)
    val qLit = array(q.map(lit): _*)
    feats.filter(col("asset_id") =!= 0)
      .select(col("asset_id"),
        round(VectorOps.nativeCosine(col("features"), qLit), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("asset_id").asc)
      .limit(k)
  }
}
