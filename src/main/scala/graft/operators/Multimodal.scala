package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media travel as opaque `binary`
  * columns with typed metadata structs; decode / feature-extraction
  * runs as a batched partition-local transform (the Scala analogue of
  * a vectorized `mapInPandas` — the iterator is consumed in fixed
  * batches so a real decoder could amortize model/codec setup per
  * batch instead of per row).
  *
  * The decode is a REAL pure-JVM header parse: PNG IHDR and JPEG SOFn
  * are fixed byte layouts, so width / height / bit depth / channels
  * come off the actual container bytes — no codec library needed.
  * Full pixel decode (the codec call proper) is the one thing this
  * sandbox can't run; swap `decodeOne`'s tail for it and nothing
  * else changes. Fixtures come from `documentsAsImages`, which wraps
  * each document in a structurally valid container (PNG with correct
  * per-chunk CRC32s, JPEG SOI/SOF0/EOI) so the parser is exercised
  * against real header bytes, not a format it invented.
  */
object Multimodal {

  val batchSize = 64

  final case class MediaRecord(media_id: Long, payload: Array[Byte])
  final case class MediaMeta(
      media_id: Long, n_bytes: Long, width: Int, height: Int,
      channels: Int, bit_depth: Int, format: String)

  // ---- container construction (deterministic test fixtures) ---------

  private val pngSignature =
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

  /** length + tag + body + CRC32(tag ++ body) — the PNG chunk frame. */
  private def pngChunk(tag: String, body: Array[Byte]): Array[Byte] = {
    val tagBytes = tag.getBytes("US-ASCII")
    val bb = java.nio.ByteBuffer.allocate(12 + body.length)
    bb.putInt(body.length).put(tagBytes).put(body)
    val crc = new java.util.zip.CRC32
    crc.update(tagBytes); crc.update(body)
    bb.putInt(crc.getValue.toInt)
    bb.array()
  }

  /** Valid PNG structure: signature, IHDR (8-bit RGB), the payload in
    * a tEXt chunk, IEND. 57 bytes of container around the payload. */
  def pngContainer(w: Int, h: Int, data: Array[Byte]): Array[Byte] = {
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type 2 = truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    pngSignature ++ pngChunk("IHDR", ihdr) ++
      pngChunk("tEXt", data) ++ pngChunk("IEND", Array.emptyByteArray)
  }

  /** Minimal JPEG: SOI, a complete SOF0 (baseline, 8-bit precision,
    * 3 components), payload bytes, EOI. 23 bytes of container. */
  def jpegContainer(w: Int, h: Int, data: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(23 + data.length)
    bb.put(0xff.toByte).put(0xd8.toByte)  // SOI
    bb.put(0xff.toByte).put(0xc0.toByte)  // SOF0
    bb.putShort(17)                        // segment length (incl. itself)
    bb.put(8.toByte)                       // sample precision
    bb.putShort(h.toShort).putShort(w.toShort)
    bb.put(3.toByte)                       // component count
    (1 to 3).foreach { c =>
      bb.put(c.toByte).put(0x11.toByte).put(0.toByte)
    }
    bb.put(data).put(0xff.toByte).put(0xd9.toByte)  // EOI
    bb.array()
  }

  // ---- audio containers (RIFF/WAVE) ----------------------------------

  final case class AudioMeta(
      media_id: Long, n_bytes: Long, channels: Int, sample_rate: Int,
      bits_per_sample: Int, n_samples: Long, duration_ms: Long)

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Valid RIFF/WAVE structure: RIFF header, a LIST chunk (so parsers
    * must genuinely WALK chunks — data is never at a fixed offset), a
    * PCM `fmt ` chunk, and the payload as the `data` chunk, padded to
    * a whole number of sample frames. 56 container bytes around the
    * padded payload. */
  def wavContainer(channels: Int, sampleRate: Int, bitsPerSample: Int,
                   data: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * (bitsPerSample / 8)
    val padded = data ++ Array.fill(
      (blockAlign - data.length % blockAlign) % blockAlign)(0.toByte)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(channels) ++ le32(sampleRate) ++
      le32(sampleRate * blockAlign) ++ le16(blockAlign) ++ le16(bitsPerSample)
    val list = "LIST".getBytes("US-ASCII") ++ le32(4) ++
      "INFO".getBytes("US-ASCII")
    val dataCk = "data".getBytes("US-ASCII") ++ le32(padded.length) ++ padded
    val body = "WAVE".getBytes("US-ASCII") ++ list ++ fmt ++ dataCk
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** Text → real WAV containers with format parameters derived
    * deterministically from (doc_id, payload length) — the DuckDB
    * oracle replays the arithmetic while the engine parses the actual
    * bytes. */
  def documentsAsAudio(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
      .map { r =>
        val channels = 1 + (r.media_id % 2).toInt
        val rate = Seq(8000, 16000, 44100)((r.media_id % 3).toInt)
        MediaRecord(r.media_id, wavContainer(channels, rate, 16, r.payload))
      }
  }

  private def leU32(p: Array[Byte], off: Int): Long =
    (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
      ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)

  private def leU16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)

  /** Pure byte-read WAV parse: verify RIFF/WAVE, then walk the chunk
    * list (8-byte headers, word-aligned bodies) collecting `fmt ` and
    * `data`. n_samples = data bytes / block align; duration from the
    * sample rate. Malformed input degrades to a zeroed row, never a
    * throw — at corpus scale a decode failure is a data point. */
  private def decodeWavOne(r: MediaRecord): AudioMeta = {
    val p = r.payload
    val n = p.length.toLong
    def tag(off: Int) = new String(p, off, 4, "US-ASCII")
    if (p.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return AudioMeta(r.media_id, n, 0, 0, 0, 0L, 0L)
    var off = 12
    var channels = 0; var rate = 0; var bits = 0; var blockAlign = 0
    var dataLen = -1L
    var walking = true
    while (walking && off + 8 <= p.length) {
      val ckLen = leU32(p, off + 4) // unsigned 32-bit, as a Long
      val body = off + 8
      // Untrusted-bytes guard: a declared length past the buffer (which
      // includes every value >= 2^31 — the .toInt of those is negative,
      // the loop-stall / walk-backwards class) means the container is
      // malformed from here on; stop the walk and let the zeroed-row
      // degradation below apply. ckLen <= remaining also makes the
      // Int advance overflow-free.
      if (ckLen > p.length - body) walking = false
      else {
        tag(off) match {
          case "fmt " if body + 16 <= p.length =>
            channels = leU16(p, body + 2)
            rate = leU32(p, body + 4).toInt
            blockAlign = leU16(p, body + 12)
            bits = leU16(p, body + 14)
          case "data" => dataLen = ckLen
          case _ => ()
        }
        off = body + ckLen.toInt + (ckLen.toInt & 1) // chunks are word-aligned
      }
    }
    if (dataLen < 0 || blockAlign == 0 || rate == 0)
      AudioMeta(r.media_id, n, channels, rate, bits, 0L, 0L)
    else {
      val samples = dataLen / blockAlign
      AudioMeta(r.media_id, n, channels, rate, bits, samples,
        samples * 1000L / rate)
    }
  }

  /** Batched partition-local audio decode — same vectorized-UDF batch
    * shape as image decode; no shuffle. */
  def decodeAudio(media: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.map(decodeWavOne)))
  }

  final case class AudioFeatures(
      media_id: Long, n_samples: Long, rms_milli: Long, peak: Long,
      mean_crossings: Long)

  /** PCM feature extraction over the real `data` chunk: RMS energy
    * (milli-units — the one non-integer step is a sqrt of exact
    * integers, IEEE-identical in any engine), peak amplitude, and the
    * MEAN-crossing rate (the offset-robust form of zero-crossing
    * rate — this corpus's synthetic samples are ASCII-derived and
    * never negative, so crossings around zero would be degenerate;
    * crossings around the mean measure the same oscillation). Sample
    * stream = little-endian s16 values of the data chunk, the format
    * the containers declare. Per-record work is linear in the
    * payload; batched mapPartitions, no shuffle — the stand-in slot
    * for a real feature extractor (MFCC, embedding model) with the
    * same batch shape. */
  private def audioFeaturesOne(r: MediaRecord): AudioFeatures = {
    val m = decodeWavOne(r)
    val p = r.payload
    // locate the data chunk again (cheap second walk, keeps the
    // feature pass independent of decode ordering)
    var off = 12
    var start = -1; var len = 0
    if (m.sample_rate > 0) {
      var walking = true
      while (walking && start < 0 && off + 8 <= p.length) {
        val ckLen = leU32(p, off + 4) // same untrusted-length guard as decodeWavOne
        if (ckLen > p.length - (off + 8)) walking = false
        else if (new String(p, off, 4, "US-ASCII") == "data") {
          start = off + 8; len = ckLen.toInt
        } else off = off + 8 + ckLen.toInt + (ckLen.toInt & 1)
      }
    }
    if (start < 0 || len < 2)
      return AudioFeatures(r.media_id, 0L, 0L, 0L, 0L)
    val n = len / 2
    var i = 0
    var sum = 0L; var sumSq = 0L; var peak = 0L
    val samples = new Array[Long](n)
    while (i < n) {
      val v = (leU16(p, start + 2 * i).toShort).toLong // sign-extend s16
      samples(i) = v
      sum += v; sumSq += v * v
      val a = math.abs(v); if (a > peak) peak = a
      i += 1
    }
    // crossings around the integer-exact milli mean: (1000·s − μₘ)
    // sign flips between consecutive samples
    val meanMilli = math.round(1000.0 * sum / n)
    var crossings = 0L
    i = 1
    while (i < n) {
      val a = 1000L * samples(i - 1) - meanMilli
      val b = 1000L * samples(i) - meanMilli
      if (a * b < 0) crossings += 1
      i += 1
    }
    AudioFeatures(r.media_id, n.toLong,
      math.round(1000.0 * math.sqrt(sumSq.toDouble / n)), peak, crossings)
  }

  /** Batched partition-local PCM features — binary in, typed features
    * out, no shuffle. */
  def audioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.map(audioFeaturesOne)))
  }

  // ---- header parsing (the decode) -----------------------------------

  private def be32(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
      ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)

  private def be16(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xff) << 8) | (p(off + 1) & 0xff)

  /** PNG color type → sample count per pixel (PNG spec, 11.2.2). */
  private def pngChannels(colorType: Int): Int = colorType match {
    case 0 => 1 // grayscale
    case 2 => 3 // truecolor
    case 3 => 1 // palette index
    case 4 => 2 // gray + alpha
    case 6 => 4 // truecolor + alpha
    case _ => 0
  }

  /** Pure byte-read header parse. PNG: the IHDR chunk is mandatory and
    * first, at a fixed offset behind the 8-byte signature. JPEG: walk
    * the marker segments from SOI to the first SOFn frame header
    * (0xC0–0xCF minus the non-frame C4/C8/CC), which carries
    * precision, dimensions, and component count at fixed offsets. */
  private def decodeOne(r: MediaRecord): MediaMeta = {
    val p = r.payload
    val n = p.length.toLong
    val isPng = p.length >= 33 &&
      pngSignature.indices.forall(i => p(i) == pngSignature(i)) &&
      new String(p, 12, 4, "US-ASCII") == "IHDR"
    if (isPng)
      MediaMeta(r.media_id, n, be32(p, 16), be32(p, 20),
        pngChannels(p(25) & 0xff), p(24) & 0xff, "png")
    else if (p.length >= 4 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) {
      var off = 2
      var found: MediaMeta = null
      while (found == null && off + 10 <= p.length && (p(off) & 0xff) == 0xff) {
        val marker = p(off + 1) & 0xff
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
          found = MediaMeta(r.media_id, n, be16(p, off + 7), be16(p, off + 5),
            p(off + 9) & 0xff, p(off + 4) & 0xff, "jpeg")
        else off += 2 + be16(p, off + 2)
      }
      if (found != null) found
      else MediaMeta(r.media_id, n, 0, 0, 0, 0, "jpeg-no-sof")
    } else MediaMeta(r.media_id, n, 0, 0, 0, 0, "unknown")
  }

  /** Batch decode: where a real codec would amortize its setup across
    * the `batchSize` records (the vectorized-UDF contract). */
  private def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaMeta] =
    batch.map(decodeOne)

  /** Batched partition-local decode: binary in, typed metadata out.
    * No shuffle — decode cost scales linearly with partitions. */
  def decode(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(decodeBatch))
  }

  /** Text → raw binary payload: documents become opaque byte columns
    * (the input shape for the frame/feature operators; no container). */
  def documentsAsMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  /** Text → real image containers: even ids wrap as PNG, odd as JPEG,
    * with dimensions derived deterministically from the payload length
    * (so the DuckDB oracle replays width/height/n_bytes exactly). */
  def documentsAsImages(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
      .map { r =>
        val w = r.payload.length % 640 + 1
        val h = (r.payload.length.toLong * 7 % 480).toInt + 1
        val wrapped =
          if (r.media_id % 2 == 0) pngContainer(w, h, r.payload)
          else jpegContainer(w, h, r.payload)
        MediaRecord(r.media_id, wrapped)
      }
  }

  /** Largest payload [[gunzip]] inflates: 64 MiB, above the sitemap
    * protocol's 50 MB uncompressed limit. */
  val maxInflatedBytes: Int = 64 << 20

  final case class InflateResult(media_id: Long, payload: Array[Byte],
      was_gzip: Boolean, ok: Boolean)

  /** Gzip decompression at the fetch boundary (r20) — the unpack step
    * [[sniffMime]]'s `application/gzip` verdict routes to: sitemaps
    * ship as `.xml.gz`, WARC payloads and API exports arrive gzipped,
    * and every downstream text operator needs the plain bytes. Same
    * batched partition-local shape as the other byte walks; non-gzip
    * payloads pass through untouched (`was_gzip=false`), a corrupt
    * member degrades to a flagged null row instead of killing the job
    * (`ok=false` — at corpus scale a decode failure is a data point,
    * the [[decodeWavOne]] discipline). A member that inflates past
    * [[maxInflatedBytes]] is flagged the same way, so a gzip bomb
    * (a few KB of deflated zeros can claim gigabytes) fills a buffer
    * bounded by the cap, not the executor's heap. */
  def gunzip(media: Dataset[MediaRecord]): Dataset[InflateResult] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.map { r =>
      val p = r.payload
      if (p.length < 2 || (p(0) & 0xff) != 0x1f || (p(1) & 0xff) != 0x8b)
        InflateResult(r.media_id, p, was_gzip = false, ok = true)
      else try {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(p))
        val out = new java.io.ByteArrayOutputStream(
          math.min(p.length.toLong * 4, maxInflatedBytes.toLong).toInt)
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0 && out.size + n <= maxInflatedBytes) {
          out.write(buf, 0, n); n = in.read(buf)
        }
        in.close()
        if (n >= 0) InflateResult(r.media_id, null, was_gzip = true, ok = false)
        else InflateResult(r.media_id, out.toByteArray, was_gzip = true, ok = true)
      } catch {
        case _: java.io.IOException =>
          InflateResult(r.media_id, null, was_gzip = true, ok = false)
      }
    }))
  }

  /** MIME sniffing at the fetch boundary (r20) — the router that
    * dispatches a raw payload to the right pipeline (html extraction,
    * charset decode, image/audio metadata, archive unpack) BEFORE any
    * of them runs: magic-byte checks as ONE codegen'd CaseWhen over
    * binary slices — no mapPartitions, no UDF, whole-stage-compiled
    * next to whatever projection consumes the verdict. Order matters:
    * every container check is a fixed-offset byte compare; the HTML
    * heuristic (optionally-whitespace-led '<') and the printable-
    * ASCII text check run only after every magic fails; anything else
    * is opaque bytes. Conservative by construction — a sniffer that
    * guesses wrong routes a payload into a decoder that rejects it
    * loudly; `application/octet-stream` never does. */
  def sniffMime(payload: Column): Column = {
    def magic(bs: Int*): Column =
      substring(payload, 1, bs.length) === lit(bs.map(_.toByte).toArray)
    // qualified: this object's own decode(media) shadows functions.decode
    val asLatin1 =
      org.apache.spark.sql.functions.decode(payload, "ISO-8859-1")
    when(magic(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a), "image/png")
      .when(magic(0xff, 0xd8, 0xff), "image/jpeg")
      .when(substring(payload, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
        substring(payload, 9, 4) === lit("WAVE".getBytes("US-ASCII")),
        "audio/wav")
      .when(magic(0x1f, 0x8b), "application/gzip")
      .when(substring(payload, 1, 5) === lit("%PDF-".getBytes("US-ASCII")),
        "application/pdf")
      .when(asLatin1.rlike("^\\s*<"), "text/html")
      .when(asLatin1.rlike("^[\\x09\\x0a\\x0d\\x20-\\x7e]*$"), "text/plain")
      .otherwise(lit("application/octet-stream"))
  }

  /** The seven payload postures a fetch boundary routes (doc_id % 7):
    * PNG / JPEG / WAV containers (the real builders above), an HTML
    * page, plain text, a gzip member, a PDF header — deterministic,
    * so the oracle replays the variant arithmetic while [[sniffMime]]
    * reads the actual bytes. */
  def documentsAsMixedPayloads(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
      .map { r =>
        val data = r.payload
        val w = data.length % 640 + 1
        val h = (data.length.toLong * 7 % 480).toInt + 1
        val p = (r.media_id % 7).toInt match {
          case 0 => pngContainer(w, h, data)
          case 1 => jpegContainer(w, h, data)
          case 2 => wavContainer(1, 8000, 16, data)
          case 3 => ("<!doctype html><html><body><p>" +
            new String(data, "UTF-8") + "</p></body></html>").getBytes("UTF-8")
          case 4 => data
          case 5 =>
            val bo = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bo)
            gz.write(data); gz.close()
            bo.toByteArray
          case _ => ("%PDF-1.4\n" +
            new String(data, "UTF-8")).getBytes("UTF-8")
        }
        MediaRecord(r.media_id, p)
      }
  }

  /** Batched feature extraction: payload bytes → fixed-dim histogram
    * (byte % 8 bucket counts). The histogram stands where an image
    * feature model would run; the batch shape is the part that
    * matters — a real encoder amortizes weights-loading per batch of
    * `batchSize` records, exactly like a vectorized Python UDF. */
  def extractFeatures(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.map { r =>
      val h = new Array[Long](8)
      r.payload.foreach(b => h((b & 0xff) % 8) += 1)
      (r.media_id, h(0), h(1), h(2), h(3), h(4), h(5), h(6), h(7))
    })).toDF("media_id", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
  }

  /** Frame sampling plumbing: explode a payload into every `stride`-th
    * byte-offset "frame" (stand-in for video frame extraction; shows
    * the row-multiplying decode shape + metadata propagation). */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      Iterator.range(0, r.payload.length, stride).map { off =>
        (r.media_id, off, r.payload.length.toLong)
      }
    }.toDF("media_id", "frame_offset", "n_bytes")
  }

  // ---- raw-pixel resize ----------------------------------------------

  /** A decoded image: interleaved row-major samples,
    * pixels((y·width + x)·channels + c). */
  final case class PixelBuffer(media_id: Long, width: Int, height: Int,
                               channels: Int, pixels: Array[Byte])

  /** Deterministic raw-pixel fixtures: document text bytes tile the
    * buffer (the corpus is pure ASCII, so byte value == char code —
    * the same replay convention the feature-histogram oracle uses). */
  def documentsAsPixels(docs: DataFrame, w: Int = 16, h: Int = 12,
                        channels: Int = 3): Dataset[PixelBuffer] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        val src = text.getBytes("UTF-8")
        val px = Array.tabulate[Byte](w * h * channels)(i => src(i % src.length))
        PixelBuffer(id, w, h, channels, px)
    }
  }

  /** REAL nearest-neighbor resample over raw pixel buffers — the
    * resize step of an image-preprocessing pipeline, batched
    * partition-local like `decode`. The kernel is the actual gather
    * (floor source-index mapping per output sample), not a stub: only
    * the compressed-codec step needs a library; resampling is pure
    * index arithmetic over the decoded buffer. No shuffle; output
    * bytes are outW·outH·channels regardless of input size, which is
    * the property that makes resize the data-VOLUME normalizer of a
    * multimodal ingest (downstream stages see fixed-size records). */
  def resizeNearest(media: Dataset[PixelBuffer], outW: Int, outH: Int): Dataset[PixelBuffer] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.map { b =>
      val out = new Array[Byte](outW * outH * b.channels)
      var y = 0
      while (y < outH) {
        val sy = y * b.height / outH
        var x = 0
        while (x < outW) {
          val sx = x * b.width / outW
          var c = 0
          while (c < b.channels) {
            out((y * outW + x) * b.channels + c) =
              b.pixels((sy * b.width + sx) * b.channels + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      PixelBuffer(b.media_id, outW, outH, b.channels, out)
    }))
  }

  // ---- perceptual hashing (image near-dup dedup) ---------------------

  /** dHash grid: 9 columns × 8 rows of grayscale samples → 64
    * horizontal-gradient bits (row y, columns x vs x+1 → bit y·8+x). */
  val dhashCols = 9
  val dhashRows = 8

  /** Difference hash (dHash) over decoded pixel buffers — the
    * perceptual fingerprint of image dedup (the LAION-style pipeline's
    * near-dup key): nearest-neighbor sample onto a 9×8 grayscale grid
    * (same floor gather as [[resizeNearest]], gray = integer mean of
    * the channels), then bit (y,x) = 1 iff gray(y,x) < gray(y,x+1).
    * Comparing ADJACENT samples makes the hash a function of local
    * gradients, not absolute intensity — brightness shifts and
    * re-encodes keep the bits, which is why Hamming distance over
    * dHashes is a near-duplicate signal where an exact byte hash sees
    * nothing. Pure integer math (no codec), so the DuckDB oracle
    * replays every bit; partition-local and batched like [[decode]] —
    * fingerprinting never shuffles the corpus. */
  def dHash(media: Dataset[PixelBuffer]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.map { b =>
      def gray(y: Int, x: Int): Int = {
        val sy = y * b.height / dhashRows
        val sx = x * b.width / dhashCols
        val base = (sy * b.width + sx) * b.channels
        var s = 0
        var c = 0
        while (c < b.channels) { s += b.pixels(base + c) & 0xff; c += 1 }
        s / b.channels
      }
      var hash = 0L
      var y = 0
      while (y < dhashRows) {
        var x = 0
        while (x < dhashCols - 1) {
          if (gray(y, x) < gray(y, x + 1)) hash |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      (b.media_id, hash)
    })).toDF("media_id", "dhash")
  }

  /** Image near-dup pairs: banded Hamming-ball join over the dHashes
    * via [[Dedup.hammingPairs]] (64-bit / 16-bit bands — 4 bands,
    * pigeonhole-lossless at the Hamming-3 cutoff, 65 536 buckets per
    * band). The fingerprint frame shuffles 4×; never N². */
  def imageNearDups(hashes: DataFrame): DataFrame =
    Dedup.hammingPairs(
      hashes.select(col("media_id").as("doc_id"), col("dhash").as("simhash")),
      bits = 64, bandBits = 16)
}
