package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column handling for a training-data pipeline: media
  * (image/audio/video) as opaque `binary` columns with typed metadata, plus
  * decode / feature-extract / resize / frame-sample operators.
  *
  * The decoder is a REAL header parser for the container formats a crawl
  * corpus actually carries — PNG (IHDR chunk), JPEG (SOF marker walk), WAV
  * (RIFF chunk walk incl. duration from the `data` chunk), MP4/ISO-BMFF
  * (nested box walk: `mvhd` duration + `tkhd` dimensions), GIF, BMP —
  * extracting (format, width, height, channels, sample_rate, duration_ms)
  * from the payload bytes. Full pixel/sample decode (zlib inflate, DCT,
  * PCM, H.26x) needs codec libraries this container doesn't ship; the
  * header parse is the part a 100 TB metadata/filter pass needs, and it
  * runs inside the same `mapPartitions` boundary a full codec would
  * (per-partition init amortized, the Scala analogue of `mapInPandas`).
  *
  * Scale posture: every operator here is map-only — binary columns travel
  * through parquet scans/shuffles untouched, outputs are typed via
  * case-class Encoders, and no operator introduces a shuffle.
  */
object Multimodal {

  /** Typed metadata parsed from a media payload's container header.
    * `width`/`height` are 0 for audio; `sample_rate` is 0 for images;
    * `duration_ms` is 0 for stills and for audio/video whose header
    * carries no length; `valid` is false when no known magic matches or
    * the header is truncated/corrupt (all numeric fields then 0, format
    * "unknown"). */
  case class MediaMeta(doc_id: Long, n_bytes: Long, format: String,
                       width: Int, height: Int, channels: Int,
                       sample_rate: Int, duration_ms: Long, valid: Boolean)

  /** A fixed-size feature vector per payload. */
  case class MediaFeatures(doc_id: Long, features: Array[Float])

  implicit val metaEnc: Encoder[MediaMeta] = Encoders.product[MediaMeta]
  implicit val featEnc: Encoder[MediaFeatures] =
    Encoders.product[MediaFeatures]

  /** Attach an opaque binary payload column. In production this is the
    * media-bytes column read from parquet/object storage; here it is derived
    * from `text` so the testdata tables can exercise the plumbing. */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(col("text"), "UTF-8"))

  // ───────────────────────────────────────────────────────────────────
  // Header parsers. Pure byte-level functions, unit-tested against real
  // file fixtures in MultimodalSpec; decodeMeta runs them per partition.
  // ───────────────────────────────────────────────────────────────────

  /** Big-endian unsigned int of `n` bytes at `off` (n ≤ 4). */
  private def be(b: Array[Byte], off: Int, n: Int): Int = {
    var v = 0; var i = 0
    while (i < n) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    v
  }

  /** Little-endian unsigned int of `n` bytes at `off` (n ≤ 4). */
  private def le(b: Array[Byte], off: Int, n: Int): Int = {
    var v = 0; var i = n - 1
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
    v
  }

  private def ascii(b: Array[Byte], off: Int, n: Int): String =
    new String(b, off, n, java.nio.charset.StandardCharsets.US_ASCII)

  private val PngMagic =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG: 8-byte magic, then the IHDR chunk (must be first per the spec):
    * length(4 BE) type("IHDR") width(4 BE) height(4 BE) bit-depth(1)
    * color-type(1). Channels derive from the color type. */
  private def parsePng(id: Long, b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 26 || !b.take(8).sameElements(PngMagic)) return None
    if (ascii(b, 12, 4) != "IHDR") return None
    val channels = (b(25) & 0xff) match {
      case 0 => 1 // greyscale
      case 2 => 3 // truecolor
      case 3 => 1 // palette index
      case 4 => 2 // grey + alpha
      case 6 => 4 // truecolor + alpha
      case _ => -1
    }
    if (channels < 0) return None
    Some(MediaMeta(id, b.length.toLong, "png",
      be(b, 16, 4), be(b, 20, 4), channels, 0, 0L, valid = true))
  }

  /** JPEG: SOI (FFD8) then a marker-segment walk — skip APPn/COM/etc by
    * their 2-byte BE lengths until a SOF marker (C0-C3, C5-C7, C9-CB,
    * CD-CF), whose segment is precision(1) height(2 BE) width(2 BE)
    * n-components(1). Stops at SOS/EOI (entropy-coded data follows). */
  private def parseJpeg(id: Long, b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None // lost marker sync
      val marker = b(i + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) {
        i += 2 // standalone marker, no length field
      } else if (marker == 0xd9 || marker == 0xda) {
        return None // EOI / SOS before any SOF: no dimensions
      } else {
        val segLen = be(b, i + 2, 2)
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (i + 9 >= b.length || segLen < 8) return None
          return Some(MediaMeta(id, b.length.toLong, "jpeg",
            be(b, i + 7, 2), be(b, i + 5, 2), b(i + 9) & 0xff, 0, 0L,
            valid = true))
        }
        if (segLen < 2) return None
        i += 2 + segLen
      }
    }
    None
  }

  /** WAV: "RIFF" size "WAVE", then a chunk walk — id(4) size(4 LE),
    * word-aligned — collecting the `fmt ` chunk (format(2 LE) channels(2 LE)
    * sample-rate(4 LE) byte-rate(4 LE)) and the `data` chunk's declared
    * size; duration_ms = data bytes × 1000 / byte-rate (0 when either is
    * missing — header metadata only, no PCM decode). */
  private def parseWav(id: Long, b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 12 || ascii(b, 0, 4) != "RIFF" ||
      ascii(b, 8, 4) != "WAVE") return None
    var i = 12
    var channels = -1; var rate = 0; var byteRate = 0
    var dataBytes = -1L
    while (i + 8 <= b.length) {
      val chunkId = ascii(b, i, 4)
      val size = le(b, i + 4, 4)
      if (size < 0) return None // corrupt declared size: stop the walk
      if (chunkId == "fmt " && size >= 16 && i + 24 <= b.length) {
        channels = le(b, i + 10, 2)
        rate = le(b, i + 12, 4)
        byteRate = le(b, i + 16, 4)
      } else if (chunkId == "data" && dataBytes < 0) {
        dataBytes = size.toLong
      }
      i += 8 + size + (size & 1)
    }
    if (channels < 0) return None
    val duration =
      if (dataBytes >= 0 && byteRate > 0) dataBytes * 1000L / byteRate else 0L
    Some(MediaMeta(id, b.length.toLong, "wav",
      0, 0, channels, rate, duration, valid = true))
  }

  /** MP4 / ISO-BMFF: a box walk — size(4 BE) type(4 ASCII) at each level.
    * Sniff on an `ftyp` first box; then `moov` → `mvhd` (version-0:
    * timescale(4 BE) at +20, duration(4 BE) at +24 → duration_ms) and
    * `moov` → `trak` → `tkhd` (version-0: width/height as 16.16 fixed
    * point at +84/+88 — the integer part is the pixel dimension). The
    * walk never touches `mdat`: the 100 TB metadata pass reads a few
    * hundred header bytes per clip no matter the payload size. */
  private def parseMp4(id: Long, b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 16 || ascii(b, 4, 4) != "ftyp") return None
    var timescale = 0; var duration = 0L
    var w = 0; var h = 0
    def walk(from: Int, until: Int, depth: Int): Unit = {
      var i = from
      while (i + 8 <= until) {
        val size = be(b, i, 4)
        if (size < 8 || i + size > until) return // corrupt: stop the walk
        val box = ascii(b, i + 4, 4)
        if (box == "moov" && depth == 0) walk(i + 8, i + size, 1)
        else if (box == "trak" && depth == 1) walk(i + 8, i + size, 2)
        else if (box == "mvhd" && depth == 1 && (b(i + 8) & 0xff) == 0 &&
          i + 28 <= until) {
          timescale = be(b, i + 20, 4)
          duration = be(b, i + 24, 4).toLong & 0xffffffffL
        } else if (box == "tkhd" && depth == 2 && (b(i + 8) & 0xff) == 0 &&
          i + 92 <= until) {
          w = be(b, i + 84, 2) // 16.16 fixed point: integer part
          h = be(b, i + 88, 2)
        }
        i += size
      }
    }
    walk(0, b.length, 0)
    if (timescale <= 0) return None // no mvhd: not a playable container
    Some(MediaMeta(id, b.length.toLong, "mp4",
      w, h, 0, 0, duration * 1000L / timescale, valid = true))
  }

  /** GIF: "GIF87a"/"GIF89a" then the logical screen descriptor — width
    * and height as 2-byte LITTLE-endian at offsets 6/8 (the one image
    * format here with LE dims). Frame counting needs a full block walk;
    * channels report 1 (palette-indexed) like PNG color type 3. */
  private def parseGif(id: Long, b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 13) return None
    val sig = ascii(b, 0, 6)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    Some(MediaMeta(id, b.length.toLong, "gif",
      le(b, 6, 2), le(b, 8, 2), 1, 0, 0L, valid = true))
  }

  /** BMP: "BM" + file header, then a BITMAPINFOHEADER (size ≥ 40) whose
    * width/height are 4-byte LE at offsets 18/22 (height may be negative
    * for top-down rows — report magnitude) and bits-per-pixel 2-byte LE
    * at 28 → channels = bpp/8 rounded up. */
  private def parseBmp(id: Long, b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 30 || ascii(b, 0, 2) != "BM") return None
    if (le(b, 14, 4) < 40) return None // not an INFOHEADER variant
    // le() assembles the full int32 bit pattern, so a top-down bitmap's
    // negative height arrives negative — report the magnitude
    val height = math.abs(le(b, 22, 4))
    val bpp = le(b, 28, 2)
    if (bpp == 0) return None
    Some(MediaMeta(id, b.length.toLong, "bmp",
      le(b, 18, 4), height, math.max(1, (bpp + 7) / 8), 0, 0L,
      valid = true))
  }

  /** FLAC: "fLaC" magic, then METADATA_BLOCK_HEADER (1 byte last-flag +
    * type, 3-byte BE length) whose FIRST block must be STREAMINFO
    * (type 0, ≥34 bytes). The packed 8-byte field at STREAMINFO+10
    * carries sample rate (20 bits), channels−1 (3 bits),
    * bits-per-sample−1 (5 bits), total samples (36 bits);
    * duration_ms = samples·1000/rate — a header-only duration like WAV's,
    * no audio frame is ever read. */
  private def parseFlac(id: Long, b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 42 || ascii(b, 0, 4) != "fLaC") return None
    if ((b(4) & 0x7f) != 0) return None // first block must be STREAMINFO
    if (be(b, 5, 3) < 34) return None   // truncated STREAMINFO
    val rate = (be(b, 18, 2) << 4) | ((b(20) & 0xf0) >> 4)
    if (rate == 0) return None
    val channels = ((b(20) & 0x0e) >> 1) + 1
    val totalSamples = ((b(21) & 0x0f).toLong << 32) |
      (be(b, 22, 4).toLong & 0xffffffffL)
    Some(MediaMeta(id, b.length.toLong, "flac",
      0, 0, channels, rate, totalSamples * 1000L / rate, valid = true))
  }

  /** Sniff + parse one payload; unknown/corrupt headers come back as an
    * invalid row rather than an exception (dirty corpora are the norm). */
  private[graft] def decodeOne(id: Long, bytes: Array[Byte]): MediaMeta =
    parsePng(id, bytes).orElse(parseJpeg(id, bytes))
      .orElse(parseWav(id, bytes)).orElse(parseMp4(id, bytes))
      .orElse(parseGif(id, bytes)).orElse(parseBmp(id, bytes))
      .orElse(parseFlac(id, bytes))
      .getOrElse(MediaMeta(id, bytes.length.toLong, "unknown",
        0, 0, 0, 0, 0L, valid = false))

  /** Decode payloads to typed metadata. `mapPartitions` so a full codec
    * can amortize per-batch init (codec contexts, GPU handles) across the
    * partition — the same batch shape `mapInPandas` gives Python. */
  def decodeMeta(withPayload: DataFrame): Dataset[MediaMeta] =
    withPayload.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        // per-partition init would go here (open codec once)
        rows.map(r => decodeOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }

  // ───────────────────────────────────────────────────────────────────
  // Synthetic media payloads with REAL format headers, built from pure
  // Catalyst expressions so the whole construction stays inside codegen
  // and is mirrored arithmetically by the DuckDB oracle.
  // ───────────────────────────────────────────────────────────────────

  private def be2(c: Column): Column = unhex(lpad(hex(c), 4, "0"))
  private def be4(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
  private def le2(c: Column): Column = {
    val h = lpad(hex(c), 4, "0")
    unhex(concat(substring(h, 3, 2), substring(h, 1, 2)))
  }
  private def le4(c: Column): Column = {
    val h = lpad(hex(c), 8, "0")
    unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2)))
  }
  private def bin(hexLit: String): Column = unhex(lit(hexLit))

  /** Attach a `payload` column carrying a genuine media container header
    * (format cycling png/jpeg/wav by doc_id % 3, dimensions/rates derived
    * deterministically from doc_id) followed by the document text as the
    * body. The headers are REAL: [[decodeMeta]] recovers the embedded
    * fields by actually parsing magic bytes, chunk layouts, and marker
    * segments — wrong offsets or endianness anywhere would desync the
    * oracle. Field formulas (mirrored by the `multimodal_decode` oracle):
    *   png : w = 16 + id%240, h = 16 + (id÷3)%240,
    *         color type cycles grey/rgb/rgba by (id÷3)%3
    *   jpeg: w = 16 + id%1000, h = 16 + (id÷7)%1000,
    *         1 or 3 components by (id÷3)%2, APP0(JFIF) before SOF0
    *   wav : channels = 1 + id%2, rate cycles 8k/16k/44.1k by (id÷3)%3;
    *         data chunk declares the body length, so duration_ms =
    *         body_bytes·1000 ÷ (rate·ch·2) */
  def synthMediaPayload(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val body = encode(col("text"), "UTF-8")
    val d3 = expr("doc_id DIV 3")

    // PNG: magic + IHDR(len 13) + fake CRC, then body.
    val pngW = lit(16) + id % 240
    val pngH = lit(16) + d3 % 240
    val colorType = when(d3 % 3 === 0, lit(0))
      .when(d3 % 3 === 1, lit(2)).otherwise(lit(6))
    val png = concat(
      bin("89504E470D0A1A0A"), bin("0000000D"),
      encode(lit("IHDR"), "UTF-8"),
      be4(pngW), be4(pngH),
      bin("08"), unhex(lpad(hex(colorType), 2, "0")),
      bin("000000"), bin("00000000"),
      body)

    // JPEG: SOI + APP0(JFIF, 16 bytes) + SOF0, then body. The APP0 is
    // there so the parser's marker walk has a segment to skip.
    val jw = lit(16) + id % 1000
    val jh = lit(16) + expr("doc_id DIV 7") % 1000
    val oneComp = d3 % 2 === 0
    val jpeg = concat(
      bin("FFD8"),
      bin("FFE000104A46494600010100000100010000"),
      when(oneComp, bin("FFC0000B")).otherwise(bin("FFC00011")),
      bin("08"), be2(jh), be2(jw),
      when(oneComp, bin("01011100"))
        .otherwise(bin("03012200021101031101")),
      body)

    // WAV: RIFF/WAVE + fmt (PCM16) + data chunk around the body.
    val ch = (lit(1) + id % 2).cast("int")
    val rate = when(d3 % 3 === 0, lit(8000))
      .when(d3 % 3 === 1, lit(16000)).otherwise(lit(44100))
    val bodyLen = length(body)
    val wav = concat(
      encode(lit("RIFF"), "UTF-8"), le4(bodyLen + 36),
      encode(lit("WAVE"), "UTF-8"),
      encode(lit("fmt "), "UTF-8"), bin("10000000"), bin("0100"),
      le2(ch), le4(rate), le4(rate * ch * 2), le2(ch * 2), bin("1000"),
      encode(lit("data"), "UTF-8"), le4(bodyLen),
      body)

    docs.withColumn("payload",
      when(id % 3 === 0, png).when(id % 3 === 1, jpeg).otherwise(wav))
  }

  /** Attach a `payload` column carrying a structurally-real ISO-BMFF (MP4)
    * container: `ftyp` (isom) → `moov` [ `mvhd` (timescale, duration) +
    * `trak` → `tkhd` (16.16 fixed-point width/height, canonical identity
    * matrix) ] → `mdat` wrapping the document text. Every box declares its
    * true size, so [[parseMp4]]'s walk must get the nesting and offsets
    * exactly right to recover the embedded fields. Field formulas
    * (mirrored by the `multimodal_decode_mp4` oracle):
    *   timescale cycles 600 / 1000 / 90000 by (id÷3)%3
    *   duration  = timescale·(1 + id%30) + id%7  (units of timescale)
    *   w = 16 + id%1280, h = 16 + (id÷3)%720 */
  def synthMp4Payload(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val body = encode(col("text"), "UTF-8")
    val d3 = expr("doc_id DIV 3")
    val timescale = when(d3 % 3 === 0, lit(600))
      .when(d3 % 3 === 1, lit(1000)).otherwise(lit(90000))
    val duration = timescale * (lit(1) + id % 30) + id % 7
    val w = lit(16) + id % 1280
    val h = lit(16) + d3 % 720
    val ftyp = bin("000000106674797069736F6D00000000")
    val mvhd = concat(
      bin("0000001C6D766864"),          // size 28, 'mvhd'
      bin("000000000000000000000000"),  // version/flags, ctime, mtime
      be4(timescale), be4(duration))
    val tkhd = concat(
      bin("0000005C746B6864"),          // size 92, 'tkhd'
      bin("000000000000000000000000"),  // version/flags, ctime, mtime
      bin("000000010000000000000000"),  // track id 1, reserved, duration 0
      bin("00000000000000000000000000000000"), // res(8) layer alt vol res
      bin("000100000000000000000000000000000001000000000000" +
        "000000000000000040000000"), // canonical identity matrix
      be2(w), bin("0000"), be2(h), bin("0000")) // 16.16 fixed point dims
    val trak = concat(bin("000000647472616B"), tkhd) // size 100, 'trak'
    val moov = concat(bin("000000886D6F6F76"), mvhd, trak) // size 136
    val mdat = concat(be4(length(body) + 8),
      encode(lit("mdat"), "UTF-8"), body)
    docs.withColumn("payload", concat(ftyp, moov, mdat))
  }

  /** Attach a `payload` column carrying a genuine FLAC container header:
    * "fLaC" + a last-flag STREAMINFO METADATA_BLOCK (34 bytes) whose
    * packed bit-field the synthesis assembles nibble-exactly — sample
    * rate split across 2.5 bytes, channels−1 in 3 bits, bits/sample−1
    * (fixed 16-bit audio) straddling the byte boundary, the 36-bit total
    * sample count — followed by a zero MD5 and the document text as the
    * (never-read) frame body. Field formulas (mirrored by the
    * `multimodal_decode_flac` oracle):
    *   rate cycles 8k/16k/44.1k by (id÷3)%3, channels = 1 + id%2,
    *   total_samples = rate·(1 + id%20) ⇒ duration_ms = (1 + id%20)·1000
    *   exactly (the synthesis picks whole seconds so the division is
    *   lossless and the oracle arithmetic stays integral). */
  def synthFlacPayload(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val body = encode(col("text"), "UTF-8")
    val d3 = expr("doc_id DIV 3")
    val rate = when(d3 % 3 === 0, lit(8000))
      .when(d3 % 3 === 1, lit(16000)).otherwise(lit(44100))
    val ch = (lit(1) + id % 2).cast("int")
    val total = rate.cast("bigint") * (lit(1) + id % 20)
    def byte(v: Column): Column = unhex(lpad(hex(v), 2, "0"))
    val flac = concat(
      encode(lit("fLaC"), "UTF-8"),
      bin("80000022"),       // last-block flag, type 0, length 34
      bin("10001000"),       // min/max block size 4096
      bin("000000000000"),   // min/max frame size unknown
      byte(shiftright(rate, 12)),            // rate bits 19..12
      byte(shiftright(rate, 4) % 256),       // rate bits 11..4
      byte((rate % 16) * 16 + (ch - 1) * 2), // rate low nibble | ch-1 | bps hi
      bin("F0"),             // bps-1 = 15 low nibble | total bits 35..32 = 0
      be4(total),            // total samples bits 31..0
      bin("0" * 32),         // md5 of the (absent) audio: 16 zero bytes
      body)
    docs.withColumn("payload", flac)
  }

  /** Feature extraction: fixed-width vector per payload (byte histogram
    * folded to `dim` buckets, L1-normalized — deterministic, and shaped
    * exactly like an embedding-model output; a learned featurizer swaps in
    * behind the same signature). */
  def extractFeatures(withPayload: DataFrame, dim: Int = 16)
      : Dataset[MediaFeatures] =
    withPayload.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val hist = new Array[Float](dim)
          var i = 0
          while (i < bytes.length) {
            hist((bytes(i) & 0xff) % dim) += 1f
            i += 1
          }
          val total = math.max(1f, bytes.length.toFloat)
          MediaFeatures(r.getLong(0), hist.map(_ / total))
        }
      }

  /** Resize: deterministic payload transform (stub: crop/pad the byte
    * stream to `w*h/8` — stands in for pixel resampling; the plumbing —
    * binary in, binary out, same row count, no shuffle — is the contract). */
  def resize(withPayload: DataFrame, w: Int, h: Int): DataFrame = {
    val target = w * h / 8
    withPayload.withColumn("payload",
      substring(col("payload"), 1, target))
      .withColumn("resized_to", lit(s"${w}x$h"))
  }

  /** Frame sampling for video-shaped payloads: split the byte stream into
    * fixed-size frames and keep every `every`-th (stub frame boundary =
    * 256 bytes). One row per sampled frame — the explode is the real shape
    * a frame-level pipeline has. */
  def frameSample(withPayload: DataFrame, every: Int = 2,
                  frameBytes: Int = 256): DataFrame = {
    val frames = withPayload
      .withColumn("n_frames_total",
        ceil(length(col("payload")) / lit(frameBytes)).cast("int"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames_total") - 1,
          lit(0)))))
      .filter(col("frame_idx") % every === 0)
    frames.withColumn("frame",
      col("payload").substr(col("frame_idx") * frameBytes + 1,
        lit(frameBytes)))
      .drop("payload", "n_frames_total")
  }

  // ───────────────────────────────────────────────────────────────────
  // Perceptual hashing — MEDIA dedup (the multimodal north-star loop:
  // parse → pixel hash → banded Hamming pairs). The payload is a REAL
  // uncompressed BMP whose 8×8 pixel array is built from pure Catalyst
  // exprs; the hasher parses the actual bytes (header offset, bottom-up
  // row order, BGR triples) inside the same mapPartitions codec boundary
  // decodeMeta uses, so swapping in a true image codec changes one
  // function. Larger images would pass through the resize stage first —
  // aHash/dHash are DEFINED on the 8×8 grid (Krawetz's average hash and
  // gradient hash), which is exactly what makes them scale: 64 bits per
  // image, pair volume bounded by band buckets, never pixels-vs-pixels.
  // ───────────────────────────────────────────────────────────────────

  /** Per-payload perceptual hashes. `ahash`: 64-bit average hash, bit p
    * (MSB-first, row-major) = 1 iff 64·v(p) > Σv — the integer-exact form
    * of v(p) > mean, so both engines agree bit-for-bit with no division.
    * `dhash`: 56-bit row-gradient hash, bit (r,c) = 1 iff v(r,c) >
    * v(r,c+1) — 8 rows × 7 adjacent comparisons, MSB-first. `valid` is
    * false for anything but an 8×8 24bpp BMP (a full pipeline resizes
    * first; unknown formats are dirty-corpus rows, not exceptions). */
  case class PHash(doc_id: Long, width: Int, height: Int,
                   ahash: Long, dhash: Long, valid: Boolean)

  implicit val phashEnc: Encoder[PHash] = Encoders.product[PHash]

  /** Attach a `payload` carrying a COMPLETE, real BMP file: 54-byte
    * header (BITMAPINFOHEADER, 24bpp, 8×8) + 192-byte bottom-up BGR
    * pixel array, every declared size/offset true — [[phashOne]] must
    * honor the pixel-data offset and row order to read it back. Pixel
    * values (grayscale, stored as 3 equal bytes) are deterministic in
    * doc_id — the formula the oracle mirrors analytically:
    *   motif m = doc_id % 32 (docs sharing a motif share a base image),
    *   v(p)   = ((m·73 + p·149) mod 251)           p = row-major 0..63,
    *   noise  : pixel p = doc_id % 64 gets + (doc_id % 7), clamped ≤ 250
    * so same-motif docs are NEAR-duplicates (differing in ≤2 pixels plus
    * any mean-shift bit flips) — the hamming-1..2 tail that makes the
    * dup-pair query exercise genuine near-dup detection, not just
    * exact-hash grouping. */
  /** One grayscale pixel of the synthetic motif image/video frame —
    * v(f,p) = ((m·73 + p·149 + f·31) mod 251) with the doc's noise pixel
    * bumped by doc_id%7, clamped ≤ 250 (f = 0 for stills). The formula
    * the oracle mirrors analytically. */
  private def synthPixel(id: Long, f: Int, p: Int): Byte = {
    val base = ((id % 32) * 73 + p * 149 + f * 31) % 251
    val v = base + (if (p == id % 64) id % 7 else 0L)
    math.min(v, 250L).toByte
  }

  private def unhexStr(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  // header is all-constant for a fixed 8×8 24bpp layout:
  // "BM" size=246 reserved offset=54 | ihdr=40 w=8 h=8 planes=1 bpp=24
  // compression=0 imagesize=192 ppm=0,0 colors=0,0   (all LE)
  private val BmpHeader: Array[Byte] = unhexStr(
    "424D" + "F6000000" + "00000000" + "36000000" +
      "28000000" + "08000000" + "08000000" + "0100" + "1800" +
      "00000000" + "C0000000" + "00000000" + "00000000" +
      "00000000" + "00000000")

  /** The complete BMP bytes for one doc — byte-identical to the pre-r18
    * Catalyst-expression builder (file order bottom-up: file pixel pf
    * maps to logical p = (7 − pf÷8)·8 + pf%8; each grayscale v emits 3
    * equal BGR bytes). Runs as ONE tight JVM call per row: the previous
    * nested `transform(sequence(0,63), …)` higher-order expression was
    * evaluated INTERPRETED per pixel (HOFs have no codegen), the
    * dominant per-row cost of every image-sketch query. */
  private[graft] def bmpBytes(id: Long): Array[Byte] = {
    val out = new Array[Byte](54 + 192)
    System.arraycopy(BmpHeader, 0, out, 0, 54)
    var pf = 0
    while (pf < 64) {
      val p = (7 - pf / 8) * 8 + pf % 8
      val v = synthPixel(id, 0, p)
      val o = 54 + pf * 3
      out(o) = v; out(o + 1) = v; out(o + 2) = v
      pf += 1
    }
    out
  }

  private val bmpPayloadUdf = udf((id: Long) => bmpBytes(id))

  def synthBmpPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", bmpPayloadUdf(col("doc_id")))

  /** Parse one BMP payload and hash its pixels. Real parse: magic,
    * pixel-data offset (bytes 10..13 LE), dimensions, bpp, bottom-up row
    * order with 4-byte-aligned strides — wrong anywhere and the hashes
    * desync from the oracle's analytic formula. */
  private[graft] def phashOne(id: Long, b: Array[Byte]): PHash = {
    def invalid = PHash(id, 0, 0, 0L, 0L, valid = false)
    if (b.length < 54 || ascii(b, 0, 2) != "BM") return invalid
    val off = le(b, 10, 4)
    val w = le(b, 18, 4)
    val h = math.abs(le(b, 22, 4))
    val bpp = le(b, 28, 2)
    if (w != 8 || h != 8 || bpp != 24) return invalid
    val stride = ((w * 3 + 3) / 4) * 4
    if (b.length < off + stride * h) return invalid
    val v = new Array[Int](64)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        // logical row r lives at file row h−1−r (bottom-up); blue byte
        // first in the BGR triple (all three are equal for grayscale)
        v(r * 8 + c) = b(off + (h - 1 - r) * stride + c * 3) & 0xff
        c += 1
      }
      r += 1
    }
    var sum = 0
    var p = 0
    while (p < 64) { sum += v(p); p += 1 }
    var ahash = 0L
    p = 0
    while (p < 64) {
      ahash = (ahash << 1) | (if (64 * v(p) > sum) 1L else 0L)
      p += 1
    }
    var dhash = 0L
    r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        dhash = (dhash << 1) | (if (v(r * 8 + c) > v(r * 8 + c + 1)) 1L
                                else 0L)
        c += 1
      }
      r += 1
    }
    PHash(id, w, h, ahash, dhash, valid = true)
  }

  /** Hash every payload — the typed Dataset form downstream dedup joins
    * consume (hashes stay Long for cheap band extraction / xor). */
  def perceptualHashRaw(withPayload: DataFrame): Dataset[PHash] =
    withPayload.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map(r => phashOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }

  /** Report form: hashes as fixed-width hex strings (engine-portable —
    * a 64-bit ahash with the top bit set is a negative BIGINT, which
    * hex-strings sidestep). Invalid payloads are excluded (they carry no
    * pixels to hash); rely on [[decodeMeta]] for the dirty-row census. */
  def perceptualHash(withPayload: DataFrame): DataFrame = {
    import withPayload.sparkSession.implicits._
    perceptualHashRaw(withPayload).filter(_.valid)
      .map(h => (h.doc_id, h.width, h.height,
        f"${h.ahash}%016x", f"${h.dhash}%014x"))
      .toDF("doc_id", "width", "height", "ahash_hex", "dhash_hex")
  }

  /** Near-duplicate MEDIA pairs: documents whose aHashes differ in at
    * most `maxHamming` bits. Banded exactly like [[Dedup]]'s SimHash
    * (Manku et al.): the 64-bit hash splits into 4×16-bit bands; a pair
    * within hamming ≤3 must agree on ≥1 whole band (pigeonhole), so the
    * band-bucket equi-join finds ALL qualifying pairs — completeness
    * guaranteed, never an all-pairs scan — and the exact popcount filter
    * then drops band-collision false positives. Since r14 the banding
    * runs over DISTINCT HASH VALUES (see [[nearValuePairs]]): identical
    * sketches pair through an exact equi-join that no guard can refuse,
    * and `maxBandDocs` bounds distinct VALUES per band (boilerplate
    * structure), so a duplicate-heavy corpus can neither saturate a
    * bucket nor lose pairs to the guard.
    *
    * Scale shape: hash = 8 bytes/image regardless of media size; the
    * banded join is equi on (band_idx, band_val) over distinct values;
    * candidate volume is bounded by distinct-value bucket sizes,
    * independent of copy counts. The 100 TB form of "dedup the images"
    * — constant-width sketches, banded candidates, exact check on
    * candidates only. */
  /** Near-dup media CLUSTERS + representative pick — what a production
    * takedown/dedup job ACTS on: [[phashDupPairs]] emits evidence, this
    * partitions it. Connected components over the confirmed ≤maxHamming
    * pair set via the [[Dedup.clustersFromEdges]] min-label machinery
    * (near-dup chains are the normal case for media too: re-encodes of
    * re-encodes drift a bit per hop), then per cluster a MEDOID
    * representative — the member with the smallest summed hamming over
    * its incident confirmed edges, i.e. the most central copy (ties:
    * lowest doc_id = first ingested). Keep the representative, delete
    * the rest, file the cluster as the takedown unit.
    *
    * Output per clustered doc: (cluster_id, doc_id, n_members,
    * edge_ham_sum, rep_id, is_rep). Singleton images never appear (no
    * edges — nothing to consolidate), matching [[Dedup.dupClusters]].
    *
    * Scale shape: pairs are band-bounded, the pair frame is
    * localCheckpoint-ed once and feeds BOTH the CC loop and the medoid
    * sums (the winnowPairs lesson), the CC loop is the checkpointed
    * O(log d) label flood, and the medoid/size windows partition by
    * cluster — bounded by cluster sizes, never corpus-wide. */
  def phashDupClusters(withPayload: DataFrame, maxHamming: Int = 3,
                       maxBandDocs: Int = 2048): DataFrame =
    clustersFromWeightedPairs(
      phashDupPairs(withPayload, maxHamming, maxBandDocs)
        .withColumnRenamed("hamming", "w"))

  /** Shared consolidation over a weighted pair frame (doc_a, doc_b, w):
    * CC + medoid (min summed incident weight, ties = first ingested) —
    * the image and video cluster ops differ only in how pairs and
    * weights are produced. */
  private def clustersFromWeightedPairs(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.select("doc_a", "doc_b", "w")
      .localCheckpoint(eager = false)
    val comp = graft.operators.Dedup.clustersFromEdges(
      pairs.select("doc_a", "doc_b"))
    val inc = pairs.select(col("doc_a").as("doc_id"), col("w"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("w")))
      .groupBy("doc_id").agg(sum("w").as("edge_ham_sum"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
    comp.join(inc, "doc_id")
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("rep_id",
        min(struct(col("edge_ham_sum"), col("doc_id"))).over(byCluster)
          .getField("doc_id"))
      .select(col("cluster_id"), col("doc_id"), col("n_members"),
        col("edge_ham_sum"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("is_rep"))
  }

  // ───────────────────────────────────────────────────────────────────
  // Value-level banding (r13 verdict item 2). The doc-level 4×16 band
  // join has a failure mode on LOW-DIVERSITY universes: f copies of one
  // motif all land in the same band bucket, so bucket size grows with
  // the corpus until `maxBandDocs` refuses the bucket outright — a
  // silent recall cliff exactly where duplication is worst (measured on
  // the fixed-32-motif synthetic universe: ×10 warm 48 s in the
  // quadratic regime, then ×100 17 s as the guard drops the pairs).
  // The fix is to band DISTINCT SKETCH VALUES, not docs: f identical
  // copies collapse to ONE band entry, so duplicate mass cannot
  // saturate a bucket at all — the guard now bounds distinct VALUES per
  // band (a band value shared by thousands of DIFFERENT sketches is
  // boilerplate structure, the only thing the guard was ever for) — and
  // identical-sketch pairs never enter the banded join: they are an
  // exact equi-join on the full value. Candidate volume becomes
  // O(distinct-value pairs), independent of how many docs hold each
  // value.
  // ───────────────────────────────────────────────────────────────────

  /** Near-match VALUE pairs: distinct 64-bit sketch values within
    * 1..`maxHamming` bits of each other (hamming-0 is the caller's
    * exact equi-join), banded 4×16 per `grpCols` group (pigeonhole-
    * complete for ≤3). Input must carry `v` (long) plus `grpCols`;
    * output: grpCols ++ (va, vb, hamming) with va < vb (plain long
    * order — any consistent order works for the consumers).
    *
    * SATURATED bands CASCADE instead of dropping (the r13 verdict's
    * LSH-cascade idiom, completing the distinct-value fix): a band
    * value shared by more than `maxBandVals` distinct sketches is
    * boilerplate STRUCTURE — but a qualifying pair whose only
    * agreement is that band would be lost if the bucket were simply
    * refused. Since every member of the bucket agrees on those 16
    * bits, all ≤3 differing bits sit in the OTHER 48: re-key the
    * bucket's members by 4×12-bit sub-bands of those 48 bits
    * (pigeonhole again — 3 diffs cannot touch all 4 sub-bands) and
    * equi-join within (band, sub-band). Sub-buckets are guarded by the
    * same `maxBandVals`; only a DOUBLY-saturated bucket (more than
    * maxBandVals distinct values agreeing on 28 bits) still refuses —
    * by then the agreement itself is the boilerplate evidence the
    * guard exists for. */
  private[graft] def nearValuePairs(values: DataFrame,
                                    grpCols: Seq[String],
                                    maxHamming: Int,
                                    maxBandVals: Int): DataFrame = {
    val g = grpCols.map(col)
    // distinct values feed the census AND both join sides: materialize
    // once (the codec-boundary lesson — upstream is a payload parse)
    val banded = values.select(g :+ col("v"): _*).distinct()
      .select(g ++ Seq(col("v"),
        posexplode(array((0 to 3).map(b =>
          shiftrightunsigned(col("v"), b * 16)
            .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band_idx", "band_val"))): _*)
      .localCheckpoint(eager = false)
    val bandKey = grpCols ++ Seq("band_idx", "band_val")
    // one census read two ways: ≤ guard joins, > guard cascades
    val census = banded.groupBy(bandKey.map(col): _*)
      .agg(count(lit(1)).as("n_vals"))
      .localCheckpoint(eager = false)
    def pairsOn(sideIn: DataFrame, key: Seq[String]): DataFrame =
      sideIn.as("a").join(sideIn.as("b"),
          key.map(k => col(s"a.$k") === col(s"b.$k"))
            .reduce(_ && _) && col("a.v") < col("b.v"))
        .select(grpCols.map(k => col(s"a.$k")) ++
          Seq(col("a.v").as("va"), col("b.v").as("vb")): _*)
    val side = banded.join(
      census.filter(col("n_vals") <= maxBandVals)
        .select(bandKey.map(col): _*), bandKey)
    val cand0 = pairsOn(side, bandKey)
    val subKey = bandKey ++ Seq("sub_idx", "sub_val")
    val sub = banded.join(
        census.filter(col("n_vals") > maxBandVals)
          .select(bandKey.map(col): _*), bandKey)
      .withColumn("packed", packOutsideBand)
      .select(bandKey.map(col) ++ Seq(col("v"),
        posexplode(array((0 to 3).map(j =>
          shiftrightunsigned(col("packed"), j * 12)
            .bitwiseAND(lit(0xfffL))): _*)).as(Seq("sub_idx", "sub_val"))): _*)
      .localCheckpoint(eager = false) // feeds its census AND both sides
    val subSide = sub.join(
      sub.groupBy(subKey.map(col): _*)
        .agg(count(lit(1)).as("n_sub"))
        .filter(col("n_sub") <= maxBandVals)
        .select(subKey.map(col): _*), subKey)
    val cand1 = pairsOn(subSide, subKey)
    cand0.unionByName(cand1)
      .distinct() // values agreeing on several (sub-)bands pair once
      .withColumn("hamming",
        bit_count(col("va").bitwiseXOR(col("vb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Pack the 48 bits of `v` OUTSIDE the current 16-bit band (row must
    * carry `v` and `band_idx`) — the cascade's sub-band domain.
    * Shift-by-64 is a no-op in JVM semantics, so band 3 is the explicit
    * low-48 mask. Shared by the cascade join and the refusal census. */
  private def packOutsideBand: Column = Seq(
    0 -> shiftrightunsigned(col("v"), 16),
    1 -> col("v").bitwiseAND(lit(0xffffL)).bitwiseOR(
      shiftleft(shiftrightunsigned(col("v"), 32), 16)),
    2 -> col("v").bitwiseAND(lit(0xffffffffL)).bitwiseOR(
      shiftleft(shiftrightunsigned(col("v"), 48), 32)),
    3 -> col("v").bitwiseAND(lit(0xffffffffffffL)))
    .foldLeft(lit(0L)) { case (acc, (b, e)) =>
      when(col("band_idx") === b, e).otherwise(acc)
    }

  /** REFUSAL census of the cascade — the observability the no-silent-
    * caps rule demands for [[nearValuePairs]]'s one remaining refusal
    * path: a DOUBLY-saturated bucket (> `maxBandVals` distinct values
    * agreeing on a 16-bit band AND one of its 12-bit sub-bands — 28
    * agreeing bits) silently drops its pairs; this counts those buckets
    * and the distinct sketch values stranded in them, so a recall cliff
    * on a pathological universe shows up in the index audits instead of
    * nowhere. One row: (refused_buckets, refused_vals), zeros on a
    * healthy universe. `refused_vals` is the honest UPPER-BOUND lens: a
    * stranded value may still pair through another unsaturated (sub-)
    * band — the column flags exposure, the pair loss itself is bounded
    * by it.
    *
    * Same chain as the pair join (distinct values → band census →
    * cascade re-key → sub census), aggregated instead of joined —
    * values-sized throughout, nothing touches doc rows. */
  private[graft] def bandRefusalCensus(values: DataFrame,
                                       grpCols: Seq[String],
                                       maxBandVals: Int): DataFrame = {
    val g = grpCols.map(col)
    val banded = values.select(g :+ col("v"): _*).distinct()
      .select(g ++ Seq(col("v"),
        posexplode(array((0 to 3).map(b =>
          shiftrightunsigned(col("v"), b * 16)
            .bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band_idx", "band_val"))): _*)
      .localCheckpoint(eager = false) // feeds the census AND the re-key
    val bandKey = grpCols ++ Seq("band_idx", "band_val")
    val saturated = banded.groupBy(bandKey.map(col): _*)
      .agg(count(lit(1)).as("n_vals"))
      .filter(col("n_vals") > maxBandVals)
      .select(bandKey.map(col): _*)
    val subKey = bandKey ++ Seq("sub_idx", "sub_val")
    val sub = banded.join(saturated, bandKey)
      .withColumn("packed", packOutsideBand)
      .select(bandKey.map(col) ++ Seq(col("v"),
        posexplode(array((0 to 3).map(j =>
          shiftrightunsigned(col("packed"), j * 12)
            .bitwiseAND(lit(0xfffL))): _*))
          .as(Seq("sub_idx", "sub_val"))): _*)
      .localCheckpoint(eager = false) // feeds its census AND the strand
    val refused = sub.groupBy(subKey.map(col): _*)
      .agg(count(lit(1)).as("n_sub"))
      .filter(col("n_sub") > maxBandVals)
      .select(subKey.map(col): _*)
      .localCheckpoint(eager = false) // bucket count AND stranded join
    val buckets = refused.agg(count(lit(1)).as("refused_buckets"))
    val vals = sub.join(refused, subKey)
      .select(g :+ col("v"): _*).distinct()
      .agg(count(lit(1)).as("refused_vals"))
    buckets.crossJoin(broadcast(vals))
  }

  /** Expand value pairs back to doc pairs: hamming-0 from the exact
    * self-join on the sketch value, 1..maxHamming through the value
    * pairs. `docs` must carry (doc_id, h) plus `grpCols`. Output:
    * grpCols ++ (doc_a, doc_b, hamming), doc_a < doc_b. The doc-pair
    * set is the TRUE duplicate relation — quadratic within a class of
    * genuine copies because the answer is — but the JOIN machinery is
    * value-bounded throughout. */
  private def sketchDocPairs(docs: DataFrame, grpCols: Seq[String],
                             maxHamming: Int, maxBandVals: Int)
      : DataFrame = {
    val g = grpCols.map(col)
    val exact = docs.as("a").join(docs.as("b"),
        (grpCols :+ "h").map(k => col(s"a.$k") === col(s"b.$k"))
          .reduce(_ && _) && col("a.doc_id") < col("b.doc_id"))
      .select(grpCols.map(k => col(s"a.$k")) ++
        Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          lit(0L).as("hamming")): _*)
    val vp = nearValuePairs(
      docs.select(g :+ col("h").as("v"): _*), grpCols,
      maxHamming, maxBandVals)
    val near = vp
      .join(docs.select(g ++ Seq(col("h").as("va"),
        col("doc_id").as("ia")): _*), grpCols :+ "va")
      .join(docs.select(g ++ Seq(col("h").as("vb"),
        col("doc_id").as("ib")): _*), grpCols :+ "vb")
      .select(g ++ Seq(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"),
        col("hamming")): _*)
    exact.unionByName(near)
  }

  /** (doc_id, h) image sketch frame, materialized once — the codec
    * boundary runs once however many consumers read it. */
  private def perceptualHashBase(withPayload: DataFrame): DataFrame = {
    import withPayload.sparkSession.implicits._
    perceptualHashRaw(withPayload).filter(_.valid)
      .map(h => (h.doc_id, h.ahash)).toDF("doc_id", "h")
      .localCheckpoint(eager = false)
  }

  def phashDupPairs(withPayload: DataFrame, maxHamming: Int = 3,
                    maxBandDocs: Int = 2048): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4x16 banding is complete only for maxHamming<=3, got $maxHamming")
    sketchDocPairs(perceptualHashBase(withPayload), Nil,
        maxHamming, maxBandDocs)
      .select("doc_a", "doc_b", "hamming")
  }

  // ───────────────────────────────────────────────────────────────────
  // Audio fingerprinting — the second perceptual modality next to the
  // image aHash: a chromaprint-SHAPED energy-delta fingerprint over WAV
  // PCM16 payloads (Chromaprint/AcoustID derives bits from filtered
  // energy deltas across time×chroma cells; with no FFT in this
  // container the honest reduction is the time axis alone — 64 equal
  // frames, bit f = energy rises from frame f to f+1, 63 bits). A
  // constant-width sketch per clip regardless of duration, so dedup
  // stays sketch-width-bounded exactly like the image path — and wide
  // enough (16-bit bands) that band buckets stay selective at corpus
  // scale (an 8-bit band universe saturates at 256 buckets and the
  // candidate join goes quadratic). The parse runs inside the same
  // mapPartitions codec boundary as decodeMeta/phashOne; a real
  // chromaprint swaps one function.
  // ───────────────────────────────────────────────────────────────────

  /** 63-bit energy-delta audio fingerprint. `n_samples` counts PCM16
    * samples in the data chunk; `valid` is false for non-WAV payloads or
    * clips with < 64 samples (too short for 64 frames). */
  case class AudioFp(doc_id: Long, n_samples: Long, fp: Long,
                     valid: Boolean)

  implicit val audioFpEnc: Encoder[AudioFp] = Encoders.product[AudioFp]

  /** Attach a WAV payload (the [[synthMediaPayload]] wav branch, applied
    * to EVERY doc): RIFF/WAVE + PCM16 fmt + data chunk wrapping the
    * UTF-8 text bytes — so the "samples" are deterministic in `text` and
    * the oracle can recompute the fingerprint analytically while the
    * engine genuinely parses bytes. */
  def synthWavPayload(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val body = encode(col("text"), "UTF-8")
    val d3 = expr("doc_id DIV 3")
    val ch = (lit(1) + id % 2).cast("int")
    val rate = when(d3 % 3 === 0, lit(8000))
      .when(d3 % 3 === 1, lit(16000)).otherwise(lit(44100))
    val bodyLen = length(body)
    docs.withColumn("payload", concat(
      encode(lit("RIFF"), "UTF-8"), le4(bodyLen + 36),
      encode(lit("WAVE"), "UTF-8"),
      encode(lit("fmt "), "UTF-8"), bin("10000000"), bin("0100"),
      le2(ch), le4(rate), le4(rate * ch * 2), le2(ch * 2), bin("1000"),
      encode(lit("data"), "UTF-8"), le4(bodyLen),
      body))
  }

  /** Parse one WAV payload and fingerprint its PCM: real chunk walk to
    * the data chunk (same discipline as [[parseWav]]), samples as signed
    * LE int16 (an odd trailing byte is dropped), 64 equal frames (sample
    * i → frame i·64 DIV n), per-frame energy = Σ|v| (exact long), bit f
    * (MSB-first, f = 0..62) = E(f+1) > E(f) — 63 bits, top bit always
    * 0 so the fp is a non-negative BIGINT in both engines. */
  private[graft] def audioFpOne(id: Long, b: Array[Byte]): AudioFp = {
    def invalid = AudioFp(id, 0L, 0L, valid = false)
    if (b.length < 12 || ascii(b, 0, 4) != "RIFF" ||
      ascii(b, 8, 4) != "WAVE") return invalid
    var i = 12
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= b.length && dataOff < 0) {
      val chunkId = ascii(b, i, 4)
      val size = le(b, i + 4, 4)
      if (size < 0) return invalid
      if (chunkId == "data") {
        dataOff = i + 8
        dataLen = math.min(size, b.length - dataOff)
      }
      i += 8 + size + (size & 1)
    }
    if (dataOff < 0) return invalid
    val n = dataLen / 2
    if (n < 64) return AudioFp(id, n.toLong, 0L, valid = false)
    val energy = new Array[Long](64)
    var s = 0
    while (s < n) {
      val lo = b(dataOff + 2 * s) & 0xff
      val hi = b(dataOff + 2 * s + 1).toInt // sign-extends: hi<<8 is signed
      val v = (hi << 8) | lo
      energy((s.toLong * 64 / n).toInt) += math.abs(v).toLong
      s += 1
    }
    var fp = 0L
    var f = 0
    while (f < 63) {
      fp = (fp << 1) | (if (energy(f + 1) > energy(f)) 1L else 0L)
      f += 1
    }
    AudioFp(id, n.toLong, fp, valid = true)
  }

  /** Fingerprint every payload — typed form for dedup joins. */
  def audioFingerprintRaw(withPayload: DataFrame): Dataset[AudioFp] =
    withPayload.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map(r => audioFpOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }

  /** Report form: fp as 16-char lowercase hex (engine-portable), invalid
    * clips excluded. */
  def audioFingerprint(withPayload: DataFrame): DataFrame = {
    import withPayload.sparkSession.implicits._
    audioFingerprintRaw(withPayload).filter(_.valid)
      .map(a => (a.doc_id, a.n_samples, f"${a.fp}%016x"))
      .toDF("doc_id", "n_samples", "fp_hex")
  }

  /** Near-duplicate AUDIO pairs: fingerprints within `maxHamming` bits,
    * banded 4×16 over the 63-bit fp (the top band carries 15 live bits)
    * — pigeonhole-complete for hamming ≤ 3, distinct-value banded
    * (guard bounds band VALUES, identical fps pair via the exact
    * equi-join — the [[phashDupPairs]] r14 contract at audio width). */
  def audioDupPairs(withPayload: DataFrame, maxHamming: Int = 3,
                    maxBandDocs: Int = 2048): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4x16 banding is complete only for maxHamming<=3, got $maxHamming")
    sketchDocPairs(audioFingerprintBase(withPayload), Nil,
        maxHamming, maxBandDocs)
      .select("doc_a", "doc_b", "hamming")
  }

  /** (doc_id, h) audio fingerprint frame, materialized once — the WAV
    * chunk walk is per-consumer otherwise. */
  private def audioFingerprintBase(withPayload: DataFrame): DataFrame = {
    import withPayload.sparkSession.implicits._
    audioFingerprintRaw(withPayload).filter(_.valid)
      .map(a => (a.doc_id, a.fp)).toDF("doc_id", "h")
      .localCheckpoint(eager = false)
  }

  // ───────────────────────────────────────────────────────────────────
  // Video content dedup — the LAST modality: MP4 containers got header
  // walks only ([[parseMp4]] never reads `mdat`), so a re-encoded or
  // re-containered video dupe was invisible. The honest reduction with
  // no video codec in this container: the `mdat` carries a toy raw
  // grayscale stream ("GRV1": magic + frame count + n×64-byte 8×8
  // rasters — the container walk, frame geometry, and sampling are
  // REAL; a libavcodec decode swaps one function), KEYFRAME SAMPLING
  // picks 3 frames spread across the timeline (stride n/3 — the
  // I-frame-sampling idiom), each sampled frame gets the proven 64-bit
  // aHash, and a pair of videos is a duplicate when ≥`minVotes` of the
  // 3 timeline slots match within `maxHamming` bits — per-frame votes,
  // so one coincidentally-similar frame can't alias two videos.
  // Sketch width is 3×8 bytes per video regardless of duration.
  // ───────────────────────────────────────────────────────────────────

  /** One sampled-keyframe hash: `slot` is the timeline position
    * (0/1/2), `frame_idx` the sampled frame. Invalid payloads (bad
    * container / bad stream magic / truncated frames) carry one
    * `valid=false` row for the dirty-row census. */
  case class VideoFrameHash(doc_id: Long, n_frames: Int, slot: Int,
                            frame_idx: Int, ahash: Long, valid: Boolean)

  implicit val videoFrameHashEnc: Encoder[VideoFrameHash] =
    Encoders.product[VideoFrameHash]

  /** Attach a `payload` carrying a structurally-real MP4 whose `mdat`
    * wraps a GRV1 raw grayscale stream: every box declares its true
    * size ([[videoFpOne]] must walk ftyp→moov→mdat correctly), mvhd
    * duration = n_frames·timescale (1 fps). Frame pixel formula (the
    * oracle mirrors it analytically; the [[synthBmpPayload]] family):
    *   n_frames = 4 + doc_id%5,  motif m = doc_id%32,
    *   v(f,p) = ((m·73 + p·149 + f·31) mod 251) [+ doc_id%7 at pixel
    *   p = doc_id%64, clamped ≤ 250]
    * so same-motif docs share frame CONTENT up to the noise pixel, and
    * the sampled frame INDEXES agree exactly when the docs share a
    * stride class (n_frames÷3) — same motif + same stride class → 3
    * matching slots (a true re-encode), same motif + different stride
    * class → only slot 0 matches (frame 0 both) and the vote gate
    * rejects — the dial that makes `minVotes` a real decision. */
  /** The complete MP4/GRV1 bytes for one doc — byte-identical to the
    * pre-r18 Catalyst-expression builder (ftyp + moov{mvhd ts=600,
    * dur=600·n} + mdat{GRV1, n, n×64-byte rasters}); ONE tight JVM call
    * per row instead of the interpreted per-pixel `transform(sequence)`
    * trees (up to 8 frames × 64 pixels of HOF evals per row — measured
    * as the dominant cost of the video-sketch family). */
  private[graft] def videoBytes(id: Long): Array[Byte] = {
    val n = (4 + id % 5).toInt
    val streamLen = 4 + 1 + 64 * n
    val mdatLen = 8 + streamLen
    val bb = java.nio.ByteBuffer.allocate(16 + 36 + mdatLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(unhexStr("000000106674797069736F6D00000000")) // ftyp
    bb.put(unhexStr("000000246D6F6F76"))                 // moov, size 36
    bb.put(unhexStr("0000001C6D766864"))                 // mvhd, size 28
    bb.put(new Array[Byte](12)) // version/flags, ctime, mtime
    bb.putInt(600)              // timescale
    bb.putInt(600 * n)          // duration = timescale · n_frames (1 fps)
    bb.putInt(mdatLen)
    bb.put("mdat".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.put("GRV1".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.put(n.toByte)
    var f = 0
    while (f < n) {
      var p = 0
      while (p < 64) { bb.put(synthPixel(id, f, p)); p += 1 }
      f += 1
    }
    bb.array()
  }

  private val videoPayloadUdf = udf((id: Long) => videoBytes(id))

  def synthVideoPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", videoPayloadUdf(col("doc_id")))

  /** Parse one MP4 payload and hash its sampled keyframes. Real walk:
    * top-level box sizes to `mdat`, GRV1 magic + frame count, stride =
    * n_frames/3, aHash over each sampled 64-byte raster. */
  private[graft] def videoFpOne(id: Long,
                                b: Array[Byte]): Seq[VideoFrameHash] = {
    def invalid = Seq(VideoFrameHash(id, 0, 0, 0, 0L, valid = false))
    if (b.length < 16 || ascii(b, 4, 4) != "ftyp") return invalid
    var mdatOff = -1
    var mdatEnd = -1
    var i = 0
    while (i + 8 <= b.length && mdatOff < 0) {
      val size = be(b, i, 4)
      if (size < 8 || i + size > b.length) return invalid
      if (ascii(b, i + 4, 4) == "mdat") { mdatOff = i + 8; mdatEnd = i + size }
      i += size
    }
    if (mdatOff < 0 || mdatEnd - mdatOff < 5 ||
      ascii(b, mdatOff, 4) != "GRV1") return invalid
    val n = b(mdatOff + 4) & 0xff
    if (n < 1 || mdatEnd - mdatOff - 5 < 64 * n) return invalid
    val frames0 = mdatOff + 5
    val stride = n / 3
    (0 until 3).map { slot =>
      val fi = slot * stride
      val off = frames0 + fi * 64
      val v = new Array[Int](64)
      var sum = 0
      var p = 0
      while (p < 64) { v(p) = b(off + p) & 0xff; sum += v(p); p += 1 }
      var ah = 0L
      p = 0
      while (p < 64) {
        ah = (ah << 1) | (if (64 * v(p) > sum) 1L else 0L)
        p += 1
      }
      VideoFrameHash(id, n, slot, fi, ah, valid = true)
    }
  }

  /** Hash every payload's sampled keyframes — 3 rows per valid video
    * (the typed form the dup join consumes). Runs inside the same
    * mapPartitions codec boundary as [[phashOne]]/[[audioFpOne]]. */
  def videoFingerprintRaw(withPayload: DataFrame): Dataset[VideoFrameHash] =
    withPayload.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap(r => videoFpOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }

  /** Report form: one row per (video, timeline slot), hash as a
    * fixed-width hex string (engine-portable). Invalid payloads are
    * excluded; [[decodeMeta]] owns the dirty-row census. */
  def videoFingerprint(withPayload: DataFrame): DataFrame = {
    import withPayload.sparkSession.implicits._
    videoFingerprintRaw(withPayload).filter(_.valid)
      .map(h => (h.doc_id, h.n_frames, h.slot, h.frame_idx,
        f"${h.ahash}%016x"))
      .toDF("doc_id", "n_frames", "slot", "frame_idx", "ahash_hex")
  }

  /** Near-duplicate VIDEO pairs: per timeline slot, the banded 4×16
    * Hamming candidate join ([[phashDupPairs]] contract — pigeonhole-
    * complete for hamming ≤ 3, hot-band guarded, exact popcount on
    * candidates only), then a VOTE gate: the pair survives when
    * ≥`minVotes` of the 3 slots match. Output: (doc_a, doc_b, n_votes,
    * ham_sum) — ham_sum the summed hamming over matching slots, the
    * medoid weight downstream clusters consume.
    *
    * Scale shape: 3×8 bytes per video regardless of duration; the join
    * is equi on (slot, band_idx, band_val); pair volume band-bounded;
    * the vote aggregate is candidate-sized. */
  def videoDupPairs(withPayload: DataFrame, maxHamming: Int = 3,
                    minVotes: Int = 2, maxBandDocs: Int = 2048)
      : DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4x16 banding is complete only for maxHamming<=3, got $maxHamming")
    require(minVotes >= 1 && minVotes <= 3,
      s"3 sampled slots: minVotes must be 1..3, got $minVotes")
    sketchDocPairs(videoFingerprintBase(withPayload), Seq("slot"),
        maxHamming, maxBandDocs)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_votes"), sum("hamming").as("ham_sum"))
      .filter(col("n_votes") >= minVotes)
  }

  /** (doc_id, slot, h) sampled-keyframe hash frame, materialized once
    * (the phashDupPairs lesson — the box walk is per-consumer
    * otherwise). */
  private def videoFingerprintBase(withPayload: DataFrame): DataFrame = {
    import withPayload.sparkSession.implicits._
    videoFingerprintRaw(withPayload).filter(_.valid)
      .map(h => (h.doc_id, h.slot, h.ahash))
      .toDF("doc_id", "slot", "h")
      .localCheckpoint(eager = false)
  }

  /** Near-dup video CLUSTERS: the [[phashDupClusters]] consolidation
    * (connected components + medoid representative) over the vote-gated
    * video pair set, weighted by the summed matched-slot hamming. */
  def videoDupClusters(withPayload: DataFrame, maxHamming: Int = 3,
                       minVotes: Int = 2, maxBandDocs: Int = 2048)
      : DataFrame =
    clustersFromWeightedPairs(
      videoDupPairs(withPayload, maxHamming, minVotes, maxBandDocs)
        .withColumnRenamed("ham_sum", "w"))

  // ───────────────────────────────────────────────────────────────────
  // Persisted PERCEPTUAL index + media takedown serve — the lifecycle
  // every other retrieval structure here already has (winnow/near-dup/
  // IVF/search: persist at ingest, append increments, probe at serve):
  // at 100 TB the codec walk + hash runs ONCE when an asset lands, and
  // a takedown/dedup request against the library must never rescan the
  // media bytes. The index is the 8-bytes-per-asset sketch table,
  // bucketed by the sketch value, so the exact-duplicate join and the
  // distinct-value extraction both ride the bucket layout with no
  // corpus exchange.
  // ───────────────────────────────────────────────────────────────────

  /** Persist the image sketch table (doc_id, h) bucketed by `h`. */
  def phashWriteIndex(withPayload: DataFrame, table: String,
                      buckets: Int = 16): Unit =
    Bucketing.writeBucketed(perceptualHashBase(withPayload), table,
      "h", buckets)

  /** Index MAINTENANCE: hash and append a new batch's sketches, bucket
    * layout preserved — O(batch), never a media-library rewrite. */
  def phashIndexAppend(newPayload: DataFrame, table: String): Unit =
    Bucketing.append(perceptualHashBase(newPayload), table)

  /** MEDIA TAKEDOWN served off the persisted index: hash the request
    * payloads (the only codec work in the whole query), band the
    * request sketches, broadcast them onto the index's DISTINCT-value
    * band frame (value-level like every r14 banded join — a
    * million-copy asset is one band entry), popcount-confirm, then map
    * matched values back to holders through the bucketed index. Output
    * one row per (req_id, doc_id) match with the exact hamming — a
    * request that is itself in the library matches itself at 0, the
    * honest answer to "remove every near-copy of THIS".
    *
    * Scale shape: the index is scanned once for distinct values
    * (exchange-free — the scan is already hash-bucketed by `h`) and
    * once for the holder join; requests are serve-batch-sized and ride
    * broadcasts; nothing recomputes media bytes for library assets. */
  def mediaTakedownStatus(spark: org.apache.spark.sql.SparkSession,
                          table: String, requests: DataFrame,
                          maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    sketchTakedown(spark, table,
      perceptualHashRaw(requests).filter(_.valid)
        .map(h => (h.doc_id, h.ahash)).toDF("req_id", "rh"),
      maxHamming)
  }

  /** AUDIO takedown — [[mediaTakedownStatus]] at fingerprint width:
    * "remove every re-encode of this clip" off the persisted
    * [[audioWriteIndex]] table, one chunk walk over the request
    * payloads. */
  def audioTakedownStatus(spark: org.apache.spark.sql.SparkSession,
                          table: String, requests: DataFrame,
                          maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    sketchTakedown(spark, table,
      audioFingerprintRaw(requests).filter(_.valid)
        .map(a => (a.doc_id, a.fp)).toDF("req_id", "rh"),
      maxHamming)
  }

  /** Persist the audio fingerprint table (doc_id, h) bucketed by `h`. */
  def audioWriteIndex(withPayload: DataFrame, table: String,
                      buckets: Int = 16): Unit =
    Bucketing.writeBucketed(audioFingerprintBase(withPayload), table,
      "h", buckets)

  /** Index MAINTENANCE: fingerprint and append a new batch, bucket
    * layout preserved — O(batch). */
  def audioIndexAppend(newPayload: DataFrame, table: String): Unit =
    Bucketing.append(audioFingerprintBase(newPayload), table)

  /** The shared single-sketch takedown serve: request hashes band
    * value-level against the index's distinct sketches, popcount
    * confirms, the bucketed index maps matches back to holders. */
  private def sketchTakedown(spark: org.apache.spark.sql.SparkSession,
                             table: String, reqHashes: DataFrame,
                             maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4x16 banding is complete only for maxHamming<=3, got $maxHamming")
    // an online maintainer may have appended since this session last
    // read the table: drop the cached file-list snapshot so the serve
    // answers against the CURRENT index (metadata-only, not a rescan)
    spark.catalog.refreshTable(table)
    val idx = spark.table(table)
    def bandsOf(c: Column) = posexplode(array((0 to 3).map(b =>
      shiftrightunsigned(c, b * 16).bitwiseAND(lit(0xffffL))): _*))
    val corpusBands = idx.select(col("h").as("v")).distinct()
      .select(col("v"), bandsOf(col("v")).as(Seq("band_idx", "band_val")))
    val req = reqHashes.localCheckpoint(eager = false) // codec runs once
    val reqBands = req.select(col("req_id"), col("rh"),
      bandsOf(col("rh")).as(Seq("band_idx", "band_val")))
    val matched = corpusBands
      .join(broadcast(reqBands), Seq("band_idx", "band_val"))
      .select(col("req_id"), col("rh"), col("v"))
      .distinct() // several agreeing bands = one candidate
      .withColumn("hamming",
        bit_count(col("rh").bitwiseXOR(col("v"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    idx.join(matched.withColumnRenamed("v", "h"), "h")
      .select(col("req_id"), col("doc_id"), col("hamming"))
  }

  /** One-row AUDIT of the persisted perceptual index — the serving-
    * layer treatment the winnow index and bloom export get: geometry
    * (the catalogue's bucket count), volume (assets, distinct sketches),
    * the COPY census takedown work scales with (max copies of one sketch, the
    * asset share holding a duplicated sketch — a spiking dup share
    * means the ingest dedup upstream stopped doing its job), and a
    * serve parity sample: the match count for the caller's request
    * slice served off the index, pinned to the brute answer by the
    * shared-oracle discipline. Every column integer-exact.
    *
    * Scale shape: one bucketed-scan aggregate for the sketch census
    * (exchange-free — the table is hash-bucketed by `h`), one count,
    * the serve probe, three 1-row frames crossJoin-broadcast. */
  def phashIndexAudit(spark: org.apache.spark.sql.SparkSession,
                      table: String, requests: DataFrame,
                      maxBandVals: Int = 2048): DataFrame = {
    spark.catalog.refreshTable(table)
    val idx = spark.table(table)
    val byH = idx.groupBy("h").agg(count(lit(1)).as("n_docs_h"))
      .localCheckpoint(eager = false) // feeds all three census aggs
    val sketchStats = byH.agg(
      count(lit(1)).as("n_distinct_sketches"),
      max(col("n_docs_h")).as("max_copies"),
      sum(when(col("n_docs_h") > 1, col("n_docs_h")).otherwise(0L))
        .as("dup_assets"))
    val volume = idx.agg(count(lit(1)).as("n_assets"))
    val parity = mediaTakedownStatus(spark, table, requests)
      .agg(count(lit(1)).as("n_serve_matches"))
    // the no-silent-caps column pair: how many doubly-saturated cascade
    // buckets the near-dup banding would refuse over THIS index's value
    // universe, and the values they strand (byH already holds the
    // distinct sketches — reuse it as the census input)
    val refusals = bandRefusalCensus(byH.select(col("h").as("v")), Nil,
      maxBandVals)
    volume.crossJoin(broadcast(sketchStats)).crossJoin(broadcast(parity))
      .crossJoin(broadcast(refusals))
      .select(
        lit(Bucketing.tableBuckets(spark, table).getOrElse(0)).cast("long")
          .as("n_buckets"),
        col("n_assets"), col("n_distinct_sketches"), col("max_copies"),
        col("dup_assets"),
        expr("(10000 * dup_assets) DIV n_assets").as("dup_share_e4"),
        col("n_serve_matches"), col("refused_buckets"),
        col("refused_vals"))
  }

  /** FORGET — remove library members from a persisted sketch index: the
    * compliance step takedown LEAVES OPEN. [[mediaTakedownStatus]] says
    * which assets must go and the corpus store deletes their rows, but
    * the serving index still carries the removed docs' sketches — every
    * later probe keeps matching ghosts, and for RTBF the sketch itself
    * is derived data that must go. One anti-join rewrite of the index
    * against the tombstone ids through [[Bucketing.rewrite]], bucket
    * layout read from the catalogue (same key, same count — serves stay
    * co-located). Shared by the image, audio, AND video tables (all
    * bucketed by `h`; extra columns ride along).
    *
    * Cost is index-sized, not corpus-sized — no media bytes are ever
    * re-read — and it batches: collect a day's removals, forget once
    * (the compaction cadence). The kept rows are written to a sibling
    * table and swapped in by rename, so nothing is pinned and a failed
    * forget leaves the index whole. Round-trip contract, spec-pinned:
    * build(A ∪ B) then forget(B) holds exactly build(A)'s rows, and a
    * request identical to a forgotten asset matches nothing. */
  def mediaIndexForget(spark: org.apache.spark.sql.SparkSession,
                       table: String, tombstoneIds: DataFrame): Unit =
    Bucketing.rewrite(spark, table)(
      _.join(tombstoneIds.select("doc_id"), Seq("doc_id"), "left_anti"))

  /** Persist the video keyframe-sketch table (doc_id, slot, h)
    * bucketed by `h` — 24 bytes per video, hashed once at ingest. */
  def videoWriteIndex(withPayload: DataFrame, table: String,
                      buckets: Int = 16): Unit =
    Bucketing.writeBucketed(videoFingerprintBase(withPayload), table,
      "h", buckets)

  /** Index MAINTENANCE: sample + hash a new batch's keyframes and
    * append, bucket layout preserved — O(batch). */
  def videoIndexAppend(newPayload: DataFrame, table: String): Unit =
    Bucketing.append(videoFingerprintBase(newPayload), table)

  /** VIDEO takedown served off the persisted index — the
    * [[mediaTakedownStatus]] serve at video semantics: per timeline
    * slot, request keyframe hashes band value-level against the
    * index's distinct (slot, h) sketches, popcount confirms per slot,
    * the bucketed index maps matched values back to holders, and the
    * VOTE gate keeps (req, doc) pairs matching on ≥`minVotes` of the 3
    * slots — "remove every re-encode of THIS clip", one box walk over
    * the request payloads and zero media bytes re-read for the
    * library. Output: (req_id, doc_id, n_votes, ham_sum); a request
    * that is itself in the library votes 3/3 at ham_sum 0. */
  def videoTakedownStatus(spark: org.apache.spark.sql.SparkSession,
                          table: String, requests: DataFrame,
                          maxHamming: Int = 3, minVotes: Int = 2)
      : DataFrame = {
    import spark.implicits._
    videoSketchTakedown(spark, table,
      videoFingerprintRaw(requests).filter(_.valid)
        .map(h => (h.doc_id, h.slot, h.ahash))
        .toDF("req_id", "slot", "rh")
        .localCheckpoint(eager = false), // request box walk runs once
      maxHamming, minVotes)
  }

  /** [[videoTakedownStatus]] for requests that are LIBRARY doc_ids: the
    * request keyframe sketches are LOOKED UP in the index — zero codec
    * work anywhere (the [[graft.operators.Dedup.takedownStatusIndexed]]
    * discipline at video width). An id absent from the library simply
    * matches nothing. */
  def videoTakedownStatusByIds(spark: org.apache.spark.sql.SparkSession,
                               table: String, tombstoneIds: DataFrame,
                               maxHamming: Int = 3, minVotes: Int = 2)
      : DataFrame = {
    spark.catalog.refreshTable(table)
    videoSketchTakedown(spark, table,
      spark.table(table).join(tombstoneIds.select("doc_id"), "doc_id")
        .select(col("doc_id").as("req_id"), col("slot"),
          col("h").as("rh")),
      maxHamming, minVotes)
  }

  /** The slot-aware serve core shared by the payload and by-ids request
    * forms: per-slot banded value match + popcount + the vote gate. */
  private def videoSketchTakedown(
      spark: org.apache.spark.sql.SparkSession, table: String,
      req: DataFrame, maxHamming: Int, minVotes: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4x16 banding is complete only for maxHamming<=3, got $maxHamming")
    require(minVotes >= 1 && minVotes <= 3,
      s"3 sampled slots: minVotes must be 1..3, got $minVotes")
    spark.catalog.refreshTable(table) // see mediaTakedownStatus
    val idx = spark.table(table)
    def bandsOf(c: Column) = posexplode(array((0 to 3).map(b =>
      shiftrightunsigned(c, b * 16).bitwiseAND(lit(0xffffL))): _*))
    val corpusBands = idx.select(col("slot"), col("h").as("v")).distinct()
      .select(col("slot"), col("v"),
        bandsOf(col("v")).as(Seq("band_idx", "band_val")))
    val reqBands = req.select(col("req_id"), col("slot"), col("rh"),
      bandsOf(col("rh")).as(Seq("band_idx", "band_val")))
    val matched = corpusBands
      .join(broadcast(reqBands), Seq("slot", "band_idx", "band_val"))
      .select(col("req_id"), col("slot"), col("rh"), col("v"))
      .distinct() // several agreeing bands in one slot = one candidate
      .withColumn("hamming",
        bit_count(col("rh").bitwiseXOR(col("v"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    idx.join(matched.withColumnRenamed("v", "h"), Seq("slot", "h"))
      .groupBy("req_id", "doc_id")
      .agg(count(lit(1)).as("n_votes"), sum("hamming").as("ham_sum"))
      .filter(col("n_votes") >= minVotes)
  }

  /** [[mediaTakedownStatus]] for requests that are LIBRARY doc_ids:
    * request sketches looked up in the index, no codec work. Shared by
    * the image and audio tables (both are (doc_id, h) sketch indexes). */
  def mediaTakedownStatusByIds(spark: org.apache.spark.sql.SparkSession,
                               table: String, tombstoneIds: DataFrame,
                               maxHamming: Int = 3): DataFrame = {
    spark.catalog.refreshTable(table)
    sketchTakedown(spark, table,
      spark.table(table).join(tombstoneIds.select("doc_id"), "doc_id")
        .select(col("doc_id").as("req_id"), col("h").as("rh")),
      maxHamming)
  }

  /** UNIFIED takedown — one request, EVERYTHING: a real compliance
    * request is one doc_id list, not four per-modality tickets. Fans the
    * tombstone list across the text band/sets index
    * ([[graft.operators.Dedup.takedownStatusIndexed]]) and the image /
    * audio / video sketch indexes (the by-ids serves — request content
    * is looked up, never re-decoded), and returns one
    * (doc_id, modality, status) row per library member per modality,
    * status ∈ removed_direct | removed_copy | kept. Each modality's
    * library is its own index's doc set (a doc too short to carry an
    * audio fingerprint has no audio row — absence is the honest
    * answer); `removed_copy` means THAT modality's content near-matches
    * a tombstoned doc's, so a repost that reuses the image but rewrites
    * the caption reads removed_copy/image + kept/text — exactly what a
    * reviewer needs to see.
    *
    * Scale shape: four index-probe-bounded serves (each the proven
    * per-modality core), one distinct-id frame per library, statuses by
    * two left joins against request-sized frames; the media bytes and
    * the corpus text are never rescanned. */
  def takedownUnified(spark: org.apache.spark.sql.SparkSession,
                      docs: DataFrame, tombstoneIds: DataFrame,
                      bandsTable: String, setsTable: String,
                      imageTable: String, audioTable: String,
                      videoTable: String, jaccardThreshold: Double = 0.8,
                      maxHamming: Int = 3, minVotes: Int = 2)
      : DataFrame = {
    val ids = tombstoneIds.select("doc_id")
      .localCheckpoint(eager = false) // request-sized, read 8 ways
    val text = graft.operators.Dedup.takedownStatusIndexed(spark, docs,
        ids, bandsTable, setsTable, jaccardThreshold)
      .select(col("doc_id"), lit("text").as("modality"), col("status"))
    def mediaStatus(table: String, modality: String,
                    matches: DataFrame): DataFrame = {
      val lib = spark.table(table).select("doc_id").distinct()
      val copies = matches.select(col("doc_id").as("copy_id")).distinct()
      lib
        .join(ids.select(col("doc_id").as("tomb_id")),
          col("doc_id") === col("tomb_id"), "left")
        .join(copies, col("doc_id") === col("copy_id"), "left")
        .select(col("doc_id"), lit(modality).as("modality"),
          when(col("tomb_id").isNotNull, lit("removed_direct"))
            .when(col("copy_id").isNotNull, lit("removed_copy"))
            .otherwise(lit("kept")).as("status"))
    }
    text
      .unionByName(mediaStatus(imageTable, "image",
        mediaTakedownStatusByIds(spark, imageTable, ids, maxHamming)))
      .unionByName(mediaStatus(audioTable, "audio",
        mediaTakedownStatusByIds(spark, audioTable, ids, maxHamming)))
      .unionByName(mediaStatus(videoTable, "video",
        videoTakedownStatusByIds(spark, videoTable, ids, maxHamming,
          minVotes)))
  }

  /** CONTENT-ADDRESSED unified takedown — [[takedownUnified]] for the
    * request a compliance team actually receives: quoted TEXT plus media
    * BYTES, possibly absent from the library under any id. Each modality's
    * request content is sketched ONCE (the only codec/shingle work in the
    * whole query — requests are ticket-sized) and served through the
    * existing content-request cores: text via
    * [[graft.operators.Dedup.takedownStatusContent]] (re-shingle → band
    * probe of the persisted index → exact-Jaccard confirm + exact-fp leg),
    * image/audio via [[mediaTakedownStatus]]/[[audioTakedownStatus]]
    * (sketch → banded value match → popcount), video via
    * [[videoTakedownStatus]] (per-slot sketches + the ≥`minVotes` gate).
    * One (doc_id, modality, status) row per library member per modality,
    * status ∈ removed_copy | kept — no removed_direct, because content
    * names no ids; a library asset the request was copied FROM matches
    * itself at hamming 0 / Jaccard 1 and reads removed_copy. An
    * off-library near-copy request still scrubs every library holder
    * within the match radius (spec-pinned in MultimodalSpec).
    *
    * Request frames: `textReq` = (req_id, text); `imageReq`/`audioReq`/
    * `videoReq` = payload frames in the ingest shape (doc_id = request id,
    * payload bytes) — exactly what the per-modality serves accept.
    * Scale shape: four index-probe-bounded serves; request sketches ride
    * broadcasts; library media bytes and corpus text are never rescanned
    * (the text exact-fp leg is one column-pruned scan — persist the fp
    * column next to the index at 100 TB and that leg is index-only too). */
  def takedownUnifiedContent(spark: org.apache.spark.sql.SparkSession,
                             docs: DataFrame, textReq: DataFrame,
                             imageReq: DataFrame, audioReq: DataFrame,
                             videoReq: DataFrame, bandsTable: String,
                             setsTable: String, imageTable: String,
                             audioTable: String, videoTable: String,
                             jaccardThreshold: Double = 0.8,
                             maxHamming: Int = 3, minVotes: Int = 2)
      : DataFrame = {
    val text = graft.operators.Dedup.takedownStatusContent(spark, docs,
        textReq, bandsTable, setsTable, jaccardThreshold)
      .select(col("doc_id"), lit("text").as("modality"), col("status"))
    def mediaStatus(table: String, modality: String,
                    matches: DataFrame): DataFrame = {
      val lib = spark.table(table).select("doc_id").distinct()
      val copies = matches.select(col("doc_id").as("copy_id")).distinct()
      lib
        .join(copies, col("doc_id") === col("copy_id"), "left")
        .select(col("doc_id"), lit(modality).as("modality"),
          when(col("copy_id").isNotNull, lit("removed_copy"))
            .otherwise(lit("kept")).as("status"))
    }
    text
      .unionByName(mediaStatus(imageTable, "image",
        mediaTakedownStatus(spark, imageTable, imageReq, maxHamming)))
      .unionByName(mediaStatus(audioTable, "audio",
        audioTakedownStatus(spark, audioTable, audioReq, maxHamming)))
      .unionByName(mediaStatus(videoTable, "video",
        videoTakedownStatus(spark, videoTable, videoReq, maxHamming,
          minVotes)))
  }

  /** AUDIT of the persisted video keyframe index — the
    * [[phashIndexAudit]] treatment at video semantics: one row PER
    * TIMELINE SLOT (the index's banding group — a slot-0 copy census
    * says nothing about slot 2) with the slot's asset/sketch/copy
    * census, plus the global columns repeated on every row: the
    * catalogue's bucket geometry, the vote-gated serve-parity match
    * count for the caller's request slice ([[videoTakedownStatus]],
    * inherently cross-slot), and the cascade refusal pair counted over the
    * PER-SLOT value universes (the same grouping [[videoDupPairs]]
    * bands with — the no-silent-caps columns). Every column
    * integer-exact.
    *
    * Scale shape: one bucketed-scan census per slot group (the table is
    * hash-bucketed by `h`), the serve probe, the values-sized refusal
    * census; globals ride broadcast crossJoins onto the ≤3 slot rows. */
  def videoIndexAudit(spark: org.apache.spark.sql.SparkSession,
                      table: String, requests: DataFrame,
                      maxBandVals: Int = 2048): DataFrame = {
    spark.catalog.refreshTable(table)
    val idx = spark.table(table)
    val byH = idx.groupBy("slot", "h").agg(count(lit(1)).as("n_docs_h"))
      .localCheckpoint(eager = false) // slot census AND refusal input
    val perSlot = byH.groupBy("slot").agg(
        count(lit(1)).as("n_distinct_sketches"),
        max(col("n_docs_h")).as("max_copies"),
        sum(when(col("n_docs_h") > 1, col("n_docs_h")).otherwise(0L))
          .as("dup_assets"),
        sum(col("n_docs_h")).as("n_assets"))
    val parity = videoTakedownStatus(spark, table, requests)
      .agg(count(lit(1)).as("n_serve_matches"))
    val refusals = bandRefusalCensus(
      byH.select(col("slot"), col("h").as("v")), Seq("slot"),
      maxBandVals)
    perSlot.crossJoin(broadcast(parity)).crossJoin(broadcast(refusals))
      .select(col("slot").cast("long").as("slot"),
        lit(Bucketing.tableBuckets(spark, table).getOrElse(0)).cast("long")
          .as("n_buckets"),
        col("n_assets"), col("n_distinct_sketches"), col("max_copies"),
        col("dup_assets"),
        expr("(10000 * dup_assets) DIV n_assets").as("dup_share_e4"),
        col("n_serve_matches"), col("refused_buckets"),
        col("refused_vals"))
  }

  /** Per-doc dup INCIDENCE without pair enumeration — the r13 verdict
    * item 2 scale shape for [[modalityDupProfile]]: a doc is incident
    * to a ≤maxHamming edge iff the TOTAL number of docs holding its
    * sketch value or a near value is ≥ 2 (own value's count included —
    * a second holder of the same value is a hamming-0 partner).
    * Computed entirely value-side: per-value doc counts + the
    * [[nearValuePairs]] graph, so a million-copy motif costs one count
    * row where the pair frame would cost ~10^12 rows. Expects one row
    * per doc_id; returns the incident doc_ids. */
  private def sketchDupIncidence(docs: DataFrame, maxHamming: Int = 3,
                                 maxBandVals: Int = 2048): DataFrame = {
    val counts = docs.groupBy("h").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val vp = nearValuePairs(counts.select(col("h").as("v")), Nil,
      maxHamming, maxBandVals)
    val sym = vp.select(col("va").as("v"), col("vb").as("v2"))
      .unionByName(vp.select(col("vb").as("v"), col("va").as("v2")))
    val nbr = sym.join(counts.select(col("h").as("v2"), col("n")), "v2")
      .groupBy("v").agg(sum("n").as("n_nbr"))
    val incident = counts
      .join(nbr.withColumnRenamed("v", "h"), Seq("h"), "left")
      .filter(col("n") + coalesce(col("n_nbr"), lit(0L)) >= 2)
      .select("h")
    docs.join(incident, "h").select("doc_id")
  }

  /** Vote-gated VIDEO dup incidence without doc pairs. With 3 sampled
    * slots and the profile's minVotes=2 gate, a qualifying partner
    * must match on BOTH slots of at least one slot PAIR (pigeonhole:
    * 2 matches over 3 slots always cover one of the 3 pairs). Per slot
    * pair (s,t): group docs into (h_s, h_t) combos with counts; a
    * combo is incident iff the summed doc count over all MATCHING
    * combos (per-slot value within maxHamming OR equal; own combo
    * always self-matches) is ≥ 2. Work is combos × per-slot
    * neighbor-degree², never doc-pair-sized — row-identical to
    * "incident to a [[videoDupPairs]] (minVotes=2) edge" by the
    * pigeonhole argument, spec-pinned. */
  private def videoDupIncidence(hashes: DataFrame,
                                maxHamming: Int = 3,
                                maxBandVals: Int = 2048): DataFrame =
    videoDupIncidenceTri(
      hashes.groupBy("doc_id")
        .pivot("slot", Seq(0, 1, 2)).agg(first("h"))
        .toDF("doc_id", "h0", "h1", "h2"),
      maxHamming, maxBandVals)

  /** [[videoDupIncidence]] on an already-pivoted (doc_id, h0, h1, h2)
    * frame — the one-scan profile produces the slot columns directly,
    * so the pivot shuffle is skipped there (r18). */
  private def videoDupIncidenceTri(triIn: DataFrame,
                                   maxHamming: Int = 3,
                                   maxBandVals: Int = 2048): DataFrame = {
    val tri = triIn.localCheckpoint(eager = false)
    def matchMap(sCol: String): DataFrame = {
      val vals = tri.select(col(sCol).as("v")).where(col("v").isNotNull)
        .distinct()
      val vp = nearValuePairs(vals, Nil, maxHamming, maxBandVals)
      vp.select(col("va").as("v"), col("vb").as("v2"))
        .unionByName(vp.select(col("vb").as("v"), col("va").as("v2")))
        .unionByName(vals.select(col("v"), col("v").as("v2")))
    }
    val slotPairs = Seq(("h0", "h1"), ("h0", "h2"), ("h1", "h2"))
    slotPairs.map { case (s, t) =>
      val combos = tri.groupBy(s, t).agg(count(lit(1)).as("n"))
        .withColumnRenamed(s, "vs").withColumnRenamed(t, "vt")
        .localCheckpoint(eager = false)
      val ms = matchMap(s).toDF("vs", "vs2")
      val mt = matchMap(t).toDF("vt", "vt2")
      val incident = combos.join(ms, "vs").join(mt, "vt")
        .join(combos.select(col("vs").as("vs2"), col("vt").as("vt2"),
          col("n").as("n2")), Seq("vs2", "vt2"))
        .groupBy("vs", "vt").agg(sum("n2").as("n_matched"))
        .filter(col("n_matched") >= 2)
        .select("vs", "vt")
      tri.join(incident,
          tri(s) === incident("vs") && tri(t) === incident("vt"))
        .select("doc_id")
    }.reduce(_ unionByName _).distinct()
  }

  /** CROSS-MODAL duplication profile — the rollup a takedown/dedup
    * owner reads when assets carry several modalities: per combination
    * of (text exact-dup, image perceptual-dup, audio fingerprint-dup)
    * membership, how many assets sit there and the first-ingested
    * example. The off-diagonal cells are the operational finding — an
    * asset whose image is a known near-dup while its text is unique is
    * a re-captioned repost that TEXT dedup alone ships into training.
    *
    * Membership: text = shares an exact content fingerprint with
    * another doc; image = incident to a confirmed [[phashDupPairs]]
    * edge; audio = incident to a confirmed [[audioDupPairs]] edge;
    * video = incident to a vote-gated [[videoDupPairs]] edge.
    *
    * Scale shape (r14 — the item that re-entered the scale bench): the
    * text flag is a window count over the content fingerprint; the
    * perceptual flags come from [[sketchDupIncidence]] /
    * [[videoDupIncidence]] — value-side counting, NEVER a doc-pair
    * frame, so a duplicate-heavy corpus (where incidence is a
    * double-digit share of all docs — the regime that previously grew
    * ×f² and then hit the band guard's recall cliff) costs one count
    * row per distinct sketch. No flag set is broadcast-hinted: on dup-
    * heavy universes every one of them can be corpus-share-sized; AQE
    * picks the strategy. The corpus is shuffled once (on fp) and
    * scanned once per perceptual modality. Output is ≤ 32 rows. */
  def modalityDupProfile(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // ONE corpus scan + ONE codec boundary (r18; guide §2.3 project-early,
    // §2.4 remove passes). Before: text + three separate synth+decode
    // scans, each re-reading the corpus (and each paying its own scan
    // fan-out exchange) into its own checkpoint. Now all three payloads
    // ride one projection, one mapPartitions decodes them with the SAME
    // [[phashOne]]/[[audioFpOne]]/[[videoFpOne]] walks over the same
    // bytes, and the narrow per-doc sketch row (md5 fp + 5 hashes) is
    // checkpointed once; every incidence branch reads that. The video
    // slots land pivoted for free, skipping videoDupIncidence's pivot
    // shuffle.
    val withP = synthVideoPayload(
      synthWavPayload(
        synthBmpPayload(docs).withColumnRenamed("payload", "p_img"))
        .withColumnRenamed("payload", "p_aud"))
      .withColumnRenamed("payload", "p_vid")
    val sk = withP
      .select(col("doc_id"), md5(col("text")).as("fp"),
        col("p_img"), col("p_aud"), col("p_vid"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val ph = phashOne(id, r.getAs[Array[Byte]](2))
          val af = audioFpOne(id, r.getAs[Array[Byte]](3))
          val vf = videoFpOne(id, r.getAs[Array[Byte]](4))
          val vOk = vf.head.valid
          (id, r.getString(1), ph.valid, ph.ahash, af.valid, af.fp, vOk,
            if (vOk) vf(0).ahash else 0L,
            if (vOk) vf(1).ahash else 0L,
            if (vOk) vf(2).ahash else 0L)
        }
      }
      .toDF("doc_id", "fp", "img_ok", "img_h", "aud_ok", "aud_h",
        "vid_ok", "h0", "h1", "h2")
      .localCheckpoint(eager = false)
    val fpWin = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val textFlag = sk
      .select(col("doc_id"), col("fp"))
      .withColumn("text_dup",
        (count(lit(1)).over(fpWin) > 1).cast("int"))
      .select("doc_id", "text_dup")
    val imgIds = sketchDupIncidence(
      sk.filter(col("img_ok")).select(col("doc_id"), col("img_h").as("h")))
    val audIds = sketchDupIncidence(
      sk.filter(col("aud_ok")).select(col("doc_id"), col("aud_h").as("h")))
    val vidIds = videoDupIncidenceTri(
      sk.filter(col("vid_ok")).select("doc_id", "h0", "h1", "h2"))
    def flag(ids: DataFrame, name: String): DataFrame =
      ids.withColumn(name, lit(1))
    textFlag
      .join(flag(imgIds, "image_dup"), Seq("doc_id"), "left")
      .join(flag(audIds, "audio_dup"), Seq("doc_id"), "left")
      .join(flag(vidIds, "video_dup"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("text_dup"),
        coalesce(col("image_dup"), lit(0)).as("image_dup"),
        coalesce(col("audio_dup"), lit(0)).as("audio_dup"),
        coalesce(col("video_dup"), lit(0)).as("video_dup"))
      .groupBy("text_dup", "image_dup", "audio_dup", "video_dup")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
  }
}
