package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, plus decode / feature-extract operators.
 *
 * The actual codec step is STUBBED (no image/audio libraries in this
 * environment — see `StubDecoder`): it produces a deterministic fake
 * decode from the byte content. Everything around it — schema, Arrow-free
 * per-partition batch iteration, partitioning, feature schema — is real
 * Spark plumbing: swap `StubDecoder.decode` for a JNI/ImageIO call and the
 * pipeline is production-shaped. Per-partition iteration means the decoder
 * initializes once per task, not once per row — the property that matters
 * when the real decoder has heavyweight init (model weights, codec
 * contexts) on a 1000-executor cluster.
 */
object Multimodal {

  /** Typed metadata carried next to every blob. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("blob", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = true)))

  /** Wrap a text table as a fake media table: utf-8 bytes as the blob.
   * Stands in for `spark.read.format("binaryFile")` in this harness. */
  def asMediaTable(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"), // mediaSchema says LongType
      encode(col(textCol), "utf-8").as("blob"),
      lit("application/octet-stream").as("mime"),
      length(encode(col(textCol), "utf-8")).cast("long").as("n_bytes"))

  /**
   * ??? in spirit — deterministic fake decoder for blobs that are NOT a
   * recognized image (text blobs in this harness). A real build replaces
   * `decode`'s fallback with the actual pixel codec (e.g. ImageIO /
   * ffmpeg JNI); signature and batch shape stay identical. Recognized
   * PNG/JPEG/GIF blobs take the REAL header path ([[HeaderDecoder]])
   * even here, so image dimensions are never faked.
   */
  object StubDecoder {
    final case class Decoded(width: Int, height: Int, channels: Int,
                             meanByte: Double)
    /** Decode: real header dims for recognized image formats; for
     * anything else, dimensions and brightness derived deterministically
     * from the byte content (the fake stands in for the pixel codec). */
    def decode(blob: Array[Byte]): Decoded = {
      val n = blob.length
      val mean = if (n == 0) 0.0 else blob.iterator.map(b => (b & 0xFF).toDouble).sum / n
      val m = math.rint(mean * 10000) / 10000
      HeaderDecoder.parse(blob) match {
        case Some(h) => Decoded(h.width, h.height, h.channels, m)
        case None => Decoded(width = 16 + n % 64, height = 16 + (n / 64) % 64,
          channels = 3, meanByte = m)
      }
    }
  }

  /**
   * REAL header-level image decode — no external libraries, just the
   * published byte layouts:
   *  - PNG (ISO 15948 §5.2/§11.2.2): 8-byte signature, then the IHDR
   *    chunk — width/height as 4-byte big-endian at offsets 16/20, bit
   *    depth and colour type at 24/25 (channels: 0→1, 2→3, 3→1, 4→2,
   *    6→4).
   *  - JPEG (ITU T.81 §B.2.2): SOI then marker segments, each
   *    FF xx + 2-byte big-endian length; the frame header SOF0/1/2
   *    (C0/C1/C2) carries precision, height, width, component count.
   *    Segment SKIPPING is the real work — APP0/COM/quant tables of
   *    arbitrary length sit before the SOF.
   *  - GIF (87a/89a): 6-byte signature then logical-screen width/height
   *    as 2-byte LITTLE-endian at offsets 6/8.
   * Returns None for anything unrecognized or truncated (never throws —
   * a corrupt blob in a 100 TB crawl must not fail the stage).
   */
  object HeaderDecoder {
    final case class Header(format: String, width: Int, height: Int,
                            channels: Int)

    private def be32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    private def le16(b: Array[Byte], i: Int): Int =
      ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)

    private val pngSig =
      Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    def parse(b: Array[Byte]): Option[Header] = {
      if (b == null) None
      else if (b.length >= 26 && b.take(8).sameElements(pngSig) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
        val channels = b(25) match {
          case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
          case _ => -1
        }
        if (channels < 0) None
        else Some(Header("png", be32(b, 16).toInt, be32(b, 20).toInt, channels))
      } else if (b.length >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
        // walk marker segments to the first SOF0/1/2
        var i = 2
        var out: Option[Header] = None
        var done = false
        while (!done && i + 3 < b.length) {
          if ((b(i) & 0xFF) != 0xFF) { done = true } // desynced — bail
          else {
            val marker = b(i + 1) & 0xFF
            // ITU T.81 B.1.1.2: any number of 0xFF fill bytes may pad
            // before a marker — consume one byte and re-read, rather than
            // treating 0xFF as a length-prefixed segment (which desyncs)
            if (marker == 0xFF) i += 1
            else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD9)) i += 2
            else if (marker == 0xC0 || marker == 0xC1 || marker == 0xC2) {
              if (i + 9 < b.length)
                out = Some(Header("jpeg", be16(b, i + 7), be16(b, i + 5),
                  b(i + 9) & 0xFF))
              done = true
            } else { i += 2 + be16(b, i + 2) } // skip APPn/COM/DQT/…
          }
        }
        out
      } else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
        Some(Header("gif", le16(b, 6), le16(b, 8), 3))
      } else None
    }
  }

  /**
   * REAL header-level WAV audio decode — the audio analogue of
   * [[HeaderDecoder]], straight from the published RIFF layout
   * (Microsoft/IBM WAVE spec, RIFF 1991; also RFC 2361 registry):
   * 'RIFF' + le32 size + 'WAVE', then word-aligned chunks of
   * id(4) + le32 size + payload. The 'fmt ' chunk carries
   * format/channels le16, sample rate + byte rate le32, block align +
   * bits-per-sample le16; the 'data' chunk's SIZE field alone gives
   * duration = dataBytes · 1000 / byteRate — no sample decoding needed,
   * which is exactly what a crawl pipeline reads before deciding what
   * to transcode. Chunk SKIPPING is the real work (LIST/INFO/fact
   * chunks of arbitrary length sit before fmt/data); odd-sized chunks
   * pad to even per the spec. Returns None for anything unrecognized
   * or truncated (a corrupt blob in a 100 TB crawl must not fail the
   * stage).
   */
  object WavHeader {
    final case class Wav(channels: Int, sampleRate: Int, bitsPerSample: Int,
                         durationMs: Long)

    private def le16(b: Array[Byte], i: Int): Int =
      ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)
    private def le32(b: Array[Byte], i: Int): Long =
      ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
        ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)
    private def tag(b: Array[Byte], i: Int): String =
      new String(b, i, 4, "US-ASCII")

    def parse(b: Array[Byte]): Option[Wav] = {
      if (b == null || b.length < 12 || tag(b, 0) != "RIFF" ||
        tag(b, 8) != "WAVE") return None
      var i = 12
      var ch = -1; var sr = -1; var bits = -1; var byteRate = -1L
      var dataBytes = -1L
      while ((ch < 0 || dataBytes < 0) && i + 8 <= b.length) {
        val id = tag(b, i)
        val size = le32(b, i + 4)
        if (id == "fmt " && size >= 16 && i + 8 + 16 <= b.length) {
          // audioFormat le16 at i+8 is read but not gated: PCM=1 and
          // extensible formats both carry the same first 16 bytes
          ch = le16(b, i + 10)
          sr = le32(b, i + 12).toInt
          byteRate = le32(b, i + 16)
          bits = le16(b, i + 22)
        } else if (id == "data") {
          // size field alone — the samples themselves need not be present
          dataBytes = size
        }
        // word alignment: odd chunk sizes pad one byte (RIFF spec)
        i += 8 + size.toInt + (size.toInt & 1)
      }
      if (ch <= 0 || sr <= 0 || bits <= 0 || byteRate <= 0 || dataBytes < 0) None
      else Some(Wav(ch, sr, bits, dataBytes * 1000L / byteRate))
    }
  }

  /** Output schema of [[decodeWavHeaders]]. */
  val wavSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("bits", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Audio-header stage: same per-partition batch contract as
    * [[decodeHeaders]] — every media_id survives, nulls for
    * unrecognized blobs. */
  def decodeWavHeaders(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "blob")
      .rdd.mapPartitions { it =>
        it.map { r =>
          WavHeader.parse(r.getAs[Array[Byte]]("blob")) match {
            case Some(w) =>
              Row(r.getLong(0), w.channels, w.sampleRate, w.bitsPerSample,
                w.durationMs)
            case None => Row(r.getLong(0), null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, wavSchema)
  }

  /**
   * Planted WAV fixtures — the audio twin of [[imageFixtures]], pure
   * binary column arithmetic (hex/unhex/concat, codegen'd, no UDF).
   * Each blob is a REAL RIFF/WAVE byte stream: a LIST/INFO junk chunk
   * deliberately sits before 'fmt ' so the parser's chunk-skipping
   * walk is exercised, and the 'data' chunk carries only its size
   * field (header-only blob — the parse needs no samples). byteRate
   * is derived sampleRate·channels·bits/8 as the encoder would write.
   */
  def wavFixtures(rows: DataFrame, idCol: Column, sampleRate: Column,
                  channels: Column, bits: Column,
                  dataBytes: Column): DataFrame = {
    def hexPad(c: Column, n: Int) = lpad(hex(c), n, "0")
    def le16(c: Column) = {
      val hx = hexPad(c, 4)
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le32(c: Column) = {
      val hx = hexPad(c, 8)
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    // Spark `/` on integers is DOUBLE division — cast back (exact: the
    // products are multiples of 8 by construction)
    val byteRate = (sampleRate * channels * bits / lit(8)).cast("int")
    val blockAlign = (channels * bits / lit(8)).cast("int")
    val blob = concat(
      lit("RIFF".getBytes("US-ASCII")),
      le32(lit(4 + 16 + 24 + 8)), // WAVE + LIST(8+7+1 pad) + fmt(8+16) + data hdr
      lit("WAVE".getBytes("US-ASCII")),
      // junk chunk BEFORE fmt: odd size 7 → pad byte (alignment path)
      lit("LIST".getBytes("US-ASCII")), le32(lit(7)),
      lit("INFOjnk ".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")), le32(lit(16)),
      le16(lit(1)), le16(channels), le32(sampleRate), le32(byteRate),
      le16(blockAlign), le16(bits),
      lit("data".getBytes("US-ASCII")), le32(dataBytes))
    rows.select(idCol.cast("long").as("media_id"), blob.as("blob"),
      lit("audio/wav").as("mime"), length(blob).cast("long").as("n_bytes"))
  }

  /**
   * REAL header-level MP4/ISO-BMFF decode — the video leg of the
   * image (q259) / audio (q281) / video triad, from the published box
   * layout (ISO/IEC 14496-12 §4.2/§8.2.2): a file is a sequence of
   * boxes `size(u32be) + type(4)`; `moov` is a pure container whose
   * children include `mvhd` (movie header: version/flags, then for
   * version 0 two u32 timestamps, then timescale u32be and duration
   * u32be). Duration in ms = duration·1000/timescale — the field a
   * crawl pipeline reads before deciding whether to transcode. The
   * walk skips arbitrary leading boxes (`ftyp`, `free`, `skip`) and
   * arbitrary non-mvhd children inside `moov`; truncated or
   * unrecognized blobs return None, never throw.
   */
  object Mp4Header {
    final case class Mp4(timescale: Long, durationTicks: Long,
                         durationMs: Long)

    private def be32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    private def tag(b: Array[Byte], i: Int): String =
      new String(b, i, 4, "US-ASCII")

    def parse(b: Array[Byte]): Option[Mp4] = {
      if (b == null || b.length < 16) return None
      // ISO-BMFF sanity gate: the first box must be well-formed, and a
      // real MP4 leads with ftyp (14496-12 §4.3: "shall be placed as
      // early as possible")
      if (be32(b, 0) < 8 || tag(b, 4) != "ftyp") return None
      var i = 0
      var out: Option[Mp4] = None
      while (out.isEmpty && i + 8 <= b.length) {
        val size = be32(b, 0 + i)
        if (size < 8) return None // malformed box — bail, don't loop
        if (tag(b, i + 4) == "moov") {
          // walk the container's children for mvhd
          var j = i + 8
          val end = math.min(i + size, b.length.toLong).toInt
          while (out.isEmpty && j + 8 <= end) {
            val csize = be32(b, j)
            if (csize < 8) return None
            if (tag(b, j + 4) == "mvhd" && b(j + 8) == 0 && j + 28 <= end) {
              // version 0: ver/flags(4) ctime(4) mtime(4) timescale(4) duration(4)
              val ts = be32(b, j + 20)
              val dur = be32(b, j + 24)
              if (ts > 0) out = Some(Mp4(ts, dur, dur * 1000L / ts))
            }
            j += csize.toInt
          }
          i = end
        } else i += size.toInt
      }
      out
    }
  }

  /** Output schema of [[decodeMp4Headers]]. */
  val mp4Schema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("timescale", LongType, nullable = true),
    StructField("duration_ticks", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Video-header stage: same per-partition batch contract as the
    * image/audio walks — every media_id survives, nulls for
    * unrecognized blobs. */
  def decodeMp4Headers(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "blob")
      .rdd.mapPartitions { it =>
        it.map { r =>
          Mp4Header.parse(r.getAs[Array[Byte]]("blob")) match {
            case Some(m) =>
              Row(r.getLong(0), m.timescale, m.durationTicks, m.durationMs)
            case None => Row(r.getLong(0), null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, mp4Schema)
  }

  /** Planted MP4 fixtures — pure binary column arithmetic like
    * [[imageFixtures]]/[[wavFixtures]]: `ftyp` then a `free` junk box
    * BEFORE `moov` (top-level skip path), and inside `moov` an `iods`
    * junk child BEFORE `mvhd` (container-walk path). timescale and
    * duration come from table columns so the oracle predicts the
    * parse closed-form. */
  def mp4Fixtures(rows: DataFrame, idCol: Column, timescale: Column,
                  durationTicks: Column): DataFrame = {
    def be32(c: Column) = unhex(lpad(hex(c), 8, "0"))
    // mvhd v0 body: ver/flags + ctime + mtime + timescale + duration +
    // rate/volume/reserved tail (truncated tail is legal for the walk:
    // the box SIZE still accounts for it) — we emit the full 100-byte
    // mvhd + 8-byte header = 108
    val mvhd = concat(be32(lit(108)), lit("mvhd".getBytes("US-ASCII")),
      unhex(lit("00000000")), be32(lit(0)), be32(lit(0)),
      be32(timescale), be32(durationTicks),
      unhex(lit("00010000FF000000")), // rate 1.0, volume, reserved bits
      unhex(lit(Seq.fill(72)("00").mkString)))
    val iods = concat(be32(lit(12)), lit("iods".getBytes("US-ASCII")),
      unhex(lit("00000000")))
    val moov = concat(be32(lit(8 + 12 + 108)),
      lit("moov".getBytes("US-ASCII")), iods, mvhd)
    val ftyp = concat(be32(lit(16)), lit("ftyp".getBytes("US-ASCII")),
      lit("isom".getBytes("US-ASCII")), be32(lit(512)))
    val free = concat(be32(lit(11)), lit("free".getBytes("US-ASCII")),
      lit("pad".getBytes("US-ASCII")))
    val blob = concat(ftyp, free, moov)
    rows.select(idCol.cast("long").as("media_id"), blob.as("blob"),
      lit("video/mp4").as("mime"), length(blob).cast("long").as("n_bytes"))
  }

  /** Output schema of [[pcmStats]]. */
  val pcmSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = true),
    StructField("peak", IntegerType, nullable = true),
    StructField("clip_ppm", LongType, nullable = true),
    StructField("zero_crossings", LongType, nullable = true),
    StructField("mean_abs_milli", LongType, nullable = true)))

  /**
   * 8-bit PCM sample statistics — the feature-extract stage an audio
   * curation pipeline runs after the header gate: peak amplitude
   * (max |s−128| over unsigned samples), clipping rate (samples at
   * ≥ 250 or ≤ 5, in ppm), zero crossings (adjacent-sample sign
   * changes around the 128 midline — the classic cheap
   * speech/music/silence discriminator), and mean |amplitude| in
   * milli-units. One pass over the data chunk located by the same
   * RIFF walk as [[WavHeader]]; REAL byte math on REAL samples —
   * nothing stubbed. Non-WAV, non-8-bit, or truncated-payload blobs
   * yield an all-null metadata row (the [[decodeHeaders]] contract).
   */
  def pcm8Stats(b: Array[Byte]): Option[(Long, Int, Long, Long, Long)] = {
    if (b == null || b.length < 12 ||
      new String(b, 0, 4, "US-ASCII") != "RIFF" ||
      new String(b, 8, 4, "US-ASCII") != "WAVE") return None
    def le16(i: Int): Int = ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)
    def le32(i: Int): Long =
      ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
        ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)
    var i = 12
    var bits = -1; var off = -1; var len = -1
    while ((bits < 0 || off < 0) && i + 8 <= b.length) {
      val id = new String(b, i, 4, "US-ASCII")
      val size = le32(i + 4).toInt
      if (id == "fmt " && size >= 16 && i + 24 <= b.length) bits = le16(i + 22)
      else if (id == "data") { off = i + 8; len = size }
      i += 8 + size + (size & 1)
    }
    if (bits != 8 || off < 0 || len <= 0 || off + len > b.length) return None
    var k = off
    var peak = 0; var clipped = 0L; var cross = 0L; var sumAbs = 0L
    var prevHigh = (b(off) & 0xFF) >= 128
    while (k < off + len) {
      val s = b(k) & 0xFF
      val amp = math.abs(s - 128)
      if (amp > peak) peak = amp
      if (s >= 250 || s <= 5) clipped += 1
      sumAbs += amp
      val high = s >= 128
      if (k > off && high != prevHigh) cross += 1
      prevHigh = high
      k += 1
    }
    val n = len.toLong
    Some((n, peak, clipped * 1000000L / n, cross, sumAbs * 1000L / n))
  }

  /** Per-partition batch stage over [[pcm8Stats]] — every media_id
    * survives; unrecognized blobs emit all-null metadata. */
  def pcmStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "blob")
      .rdd.mapPartitions { it =>
        it.map { r =>
          pcm8Stats(r.getAs[Array[Byte]]("blob")) match {
            case Some((n, peak, clip, cross, mean)) =>
              Row(r.getLong(0), n, peak, clip, cross, mean)
            case None => Row(r.getLong(0), null, null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, pcmSchema)
  }

  /** WAV fixture WITH a real PCM payload: same header layout as
    * [[wavFixtures]] (including the odd-sized LIST junk chunk), the
    * data chunk carrying `payload` bytes verbatim. Pure column
    * arithmetic — the caller synthesizes the waveform as a binary
    * column (hex repeat/unhex), so an oracle can predict every sample
    * statistic closed-form. */
  def wavFixturesPcm(rows: DataFrame, idCol: Column, sampleRate: Column,
                     channels: Column, bits: Column,
                     payload: Column): DataFrame = {
    def hexPad(c: Column, n: Int) = lpad(hex(c), n, "0")
    def le16(c: Column) = {
      val hx = hexPad(c, 4)
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le32(c: Column) = {
      val hx = hexPad(c, 8)
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val byteRate = (sampleRate * channels * bits / lit(8)).cast("int")
    val blockAlign = (channels * bits / lit(8)).cast("int")
    val dataBytes = length(payload).cast("int")
    val blob = concat(
      lit("RIFF".getBytes("US-ASCII")),
      le32(lit(4 + 16 + 24 + 8) + dataBytes),
      lit("WAVE".getBytes("US-ASCII")),
      lit("LIST".getBytes("US-ASCII")), le32(lit(7)),
      lit("INFOjnk ".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")), le32(lit(16)),
      le16(lit(1)), le16(channels), le32(sampleRate), le32(byteRate),
      le16(blockAlign), le16(bits),
      lit("data".getBytes("US-ASCII")), le32(dataBytes), payload)
    rows.select(idCol.cast("long").as("media_id"), blob.as("blob"),
      lit("audio/wav").as("mime"), length(blob).cast("long").as("n_bytes"))
  }

  /** Output schema of [[decodeHeaders]]. */
  val headerSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true)))

  /**
   * Header-parse stage: the same per-partition batch iteration as
   * [[decodeFeatures]], emitting the REAL parsed (format, width, height,
   * channels) — nulls for unrecognized blobs. This is metadata
   * extraction a crawl pipeline runs on every image before deciding
   * what to decode fully; it reads ≤ a few hundred bytes per blob.
   */
  def decodeHeaders(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    // null blobs are KEPT (all-null metadata row) — the scaladoc contract
    // is "nulls for unrecognized blobs", and a pipeline joining back on
    // media_id must not silently lose null-blob media
    val rdd = media.select("media_id", "blob")
      .rdd.mapPartitions { it =>
        it.map { r =>
          HeaderDecoder.parse(r.getAs[Array[Byte]]("blob")) match {
            case Some(h) =>
              Row(r.getLong(0), h.format, h.width, h.height, h.channels)
            case None => Row(r.getLong(0), null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, headerSchema)
  }

  /** Output schema of the decode stage. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false)))

  /**
   * Decode stage: per-partition batch iteration (decoder init happens once
   * per partition — the Scala analogue of a `mapInPandas` batch UDF).
   */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    // a null blob (mediaSchema allows it — absent/unreadable media) has
    // nothing to decode; drop it rather than NPE the whole stage
    val rdd = media.select("media_id", "blob")
      .filter(col("blob").isNotNull)
      .rdd.mapPartitions { it =>
        // real decoder would initialize its codec context HERE, once
        it.map { r =>
          val d = StubDecoder.decode(r.getAs[Array[Byte]]("blob"))
          Row(r.getLong(0), d.width, d.height, d.channels, d.meanByte)
        }
      }
    spark.createDataFrame(rdd, decodedSchema)
  }

  /**
   * Planted image fixtures built with PURE column arithmetic (hex/
   * unhex/concat over binary — codegen'd, no UDF, no extra
   * mapPartitions): REAL minimal PNG / JPEG / GIF byte streams whose
   * header dimensions come from table columns (format cycles by
   * id % 3), so a SQL oracle can predict exactly what
   * [[decodeHeaders]] must parse back. The JPEG deliberately carries a
   * full APP0 segment before its SOF0 so the parser's marker-skipping
   * walk is exercised, not just a fixed offset.
   */
  def imageFixtures(rows: DataFrame, idCol: Column, w: Column,
                    h: Column): DataFrame = {
    def hexPad(c: Column, n: Int) = lpad(hex(c), n, "0")
    def be32(c: Column) = unhex(hexPad(c, 8))
    def be16(c: Column) = unhex(hexPad(c, 4))
    def le16(c: Column) = {
      val hx = hexPad(c, 4)
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    // sig + IHDR(len,name) + w + h + depth8/colour6(RGBA)/comp/filter/
    // interlace + CRC placeholder
    val png = concat(unhex(lit("89504E470D0A1A0A0000000D49484452")),
      be32(w), be32(h), unhex(lit("080600000000AABBCCDD")))
    // SOI + APP0(len 16, JFIF payload) + SOF0(len 17, precision 8,
    // h, w, 3 components) + EOI
    val jpeg = concat(
      unhex(lit("FFD8FFE000104A46494600000000000000000000FFC0001108")),
      be16(h), be16(w), unhex(lit("03011100021100031100FFD9")))
    // GIF89a + little-endian screen w/h + packed/bg/aspect
    val gif = concat(unhex(lit("474946383961")), le16(w), le16(h),
      unhex(lit("000000")))
    val blob = when(idCol % 3 === 0, png)
      .when(idCol % 3 === 1, jpeg)
      .otherwise(gif)
    rows.select(idCol.cast("long").as("media_id"), blob.as("blob"),
      when(idCol % 3 === 0, "image/png")
        .when(idCol % 3 === 1, "image/jpeg")
        .otherwise("image/gif").as("mime"),
      length(blob).cast("long").as("n_bytes"))
  }

  // ---------------------------------------------------- perceptual hash

  /**
   * dHash (difference hash) over the decoded luminance grid — the
   * perceptual near-dup fingerprint for the image column, the
   * multimodal analogue of SimHash on text: a 9×7 luminance grid
   * sampled from the blob, one bit per horizontal gradient
   * (lum(x+1,y) > lum(x,y)), 56 bits total. Small local edits move few
   * grid samples, so near-identical images land within a small Hamming
   * radius; [[phashCandidates]] then blocks on 4 14-bit chunks (the
   * SimHash pigeonhole — complete for dist ≤ 3) and equi-joins, never
   * all-pairs.
   *
   * The GRID SAMPLER stands behind the stub-decoder boundary: a real
   * build replaces "sample bytes at 63 spread offsets" with
   * "decode pixels, grayscale, area-average to 9×7" — the hash/bucket
   * plumbing downstream is unchanged. Sampling is pure byte arithmetic
   * (cell c of a n-byte blob reads offset c·(n−1) div 62), so an oracle
   * can replay every bit from the same bytes.
   */
  def dHash56(blob: Array[Byte]): Long = {
    val n = blob.length
    if (n == 0) return 0L
    var h = 0L
    var k = 0
    while (k < 56) {
      val y = k / 8; val x = k % 8
      val c1 = y * 9 + x
      val l1 = blob((c1.toLong * (n - 1) / 62).toInt) & 0xFF
      val l2 = blob(((c1 + 1).toLong * (n - 1) / 62).toInt) & 0xFF
      if (l2 > l1) h |= 1L << k
      k += 1
    }
    h
  }

  /** Output schema of [[withDhash]]. */
  val dhashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("dhash", LongType, nullable = true)))

  /** Fingerprint stage: the per-partition batch decode pattern of
    * [[decodeFeatures]], emitting (media_id, dhash) — null for null
    * blobs (the [[decodeHeaders]] keep-the-row contract). */
  def withDhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "blob")
      .rdd.mapPartitions { it =>
        it.map { r =>
          val b = r.getAs[Array[Byte]]("blob")
          if (b == null) Row(r.getLong(0), null)
          else Row(r.getLong(0), dHash56(b))
        }
      }
    spark.createDataFrame(rdd, dhashSchema)
  }

  /**
   * Perceptual near-dup pairs: block on 4 14-bit chunks of the 56-bit
   * dHash (two hashes within Hamming distance ≤ 3 must agree on ≥ 1
   * chunk — pigeonhole, the [[graft.dedup.Dedup.simhashCandidates]]
   * machinery), equi-join on (chunk index, value), verify
   * bit_count(xor) ≤ maxDist. Recall is complete for maxDist ≤ 3.
   */
  def phashCandidates(hashed: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"phashCandidates pigeonhole (4 chunks) is complete only for " +
        s"maxDist in [0,3]; got $maxDist")
    val fp = hashed.filter(col("dhash").isNotNull)
    val chunked = fp.select(col("media_id"), col("dhash"), posexplode(
      array((0 until 4).map(c =>
        shiftright(col("dhash"), c * 14).bitwiseAND(0x3FFF)): _*)).as(Seq("ci", "cv")))
    val a = chunked.select(col("media_id").as("i"), col("dhash").as("ha"),
      col("ci"), col("cv"))
    val b = chunked.select(col("media_id").as("j"), col("dhash").as("hb"),
      col("ci"), col("cv"))
    a.join(b, Seq("ci", "cv")).filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("ha"), col("hb"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** SQL replay of [[dHash56]] for an ASCII text column `txt` (chars =
    * bytes, so DuckDB's character `ascii(substring(...))` reads the
    * exact blob byte): Σ_k (lum(c+1) > lum(c)) << k over the same
    * integer-division offsets. */
  def dhashSql(txt: String): String = {
    def lum(cell: Int) =
      s"ascii(substring($txt, CAST($cell * (length($txt) - 1) // 62 AS BIGINT) + 1, 1))"
    (0 until 56).map { k =>
      val c1 = (k / 8) * 9 + (k % 8)
      s"(CASE WHEN ${lum(c1 + 1)} > ${lum(c1)} THEN 1::BIGINT << $k ELSE 0 END)"
    }.mkString("(", " +\n ", ")")
  }

  /** "Resize" planner: target dims as pure column arithmetic over decoded
   * metadata (the byte-level resample lives behind the stub boundary). */
  def planResize(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide) / greatest(col("width"), col("height")).cast("double"))
    // emit the UNROUNDED scale: out_w/out_h derive from it, and a
    // consumer recomputing floor(width * scale) from the emitted columns
    // must land on the same value (a rounded display scale made rows
    // self-inconsistent, e.g. floor(79 * 0.3291) = 25 vs out_w = 26)
    decoded
      .withColumn("scale", scale)
      .withColumn("out_w", floor(col("width") * scale).cast("int"))
      .withColumn("out_h", floor(col("height") * scale).cast("int"))
  }

  /** Frame-sample planner for video-like media: every k-th frame index up
   * to nFrames, exploded — the downstream decode fans out per frame. */
  def planFrameSample(media: DataFrame, nFrames: Int, everyK: Int): DataFrame =
    media.select(col("media_id"),
      explode(sequence(lit(0), lit(nFrames - 1), lit(everyK))).as("frame_idx"))
}
