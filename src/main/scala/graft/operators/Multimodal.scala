package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal columns for training-data pipelines: media as opaque
  * `binary` payloads + typed metadata, with decode / feature-extract /
  * frame-sample stages.
  *
  * The fixture media lake carries REAL container formats the engine
  * genuinely decodes: BMP images (54-byte BITMAPINFOHEADER) and WAV/PCM
  * audio (44-byte canonical RIFF header), with the document text bytes
  * standing in for the pixel/sample payload. [[MediaCodec]] writes and
  * parses the actual little-endian header fields — magic check, width/
  * height/bpp for BMP, channels/sample-rate/data-length for WAV — so
  * the decode stage ([[decode]]) is a real byte-level parser, not a
  * stub, and its output is oracle-checkable (every header field is a
  * deterministic function of the fixture columns). The Spark-side
  * plumbing is the `mapInPandas`-style batch pattern: typed
  * `mapPartitions` over partition iterators, per-partition codec init,
  * no driver-side collection. A richer codec (JPEG/FLAC/MP4) swaps into
  * the same `mapPartitions` body without touching any boundary.
  */
object Multimodal {

  /** One media row: payload + metadata, the schema a 100 TB media lake
    * would carry per object (binary column + struct of typed metadata).
    */
  case class MediaRow(media_id: Long, format: String, width: Int, height: Int,
                      n_frames: Int, payload: Array[Byte])

  /** Header fields recovered by [[decode]] — image fields null for
    * audio and vice versa (the decode output contract). */
  case class MediaDecoded(media_id: Long, container: String,
                          width_px: Option[Long], height_px: Option[Long],
                          bits_per_px: Option[Long], channels: Option[Long],
                          sample_rate: Option[Long], duration_ms: Option[Long],
                          data_bytes: Long, byte_len: Long)

  private val Formats = Seq("bmp", "wav")

  /** WAV channel count for a media id (encoded into the RIFF header,
    * recovered by the decoder — never read from metadata). */
  private[operators] def channelsOf(id: Long): Int = ((id / 2) % 2 + 1).toInt

  /** WAV sample rate for a media id. */
  private[operators] def rateOf(id: Long): Int = (8000 + (id % 4) * 4000).toInt

  /** Synthesize the media table from `documents`: payload = a REAL
    * BMP or WAV container (header + the raw text bytes as pixel/sample
    * data), metadata derived deterministically from doc_id. Downstream
    * decode reads ONLY the payload bytes — swapping in real camera/
    * microphone blobs changes nothing structurally. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] =
    mediaTableFrom(Tables.documents(spark, sfDir))

  /** [[mediaTable]] over an arbitrary `(doc_id, text)` frame —
    * spec-visible so the null-payload guard is testable on planted
    * rows (a lake row with a null blob must frame as an empty
    * container, not NPE the codec). */
  private[graft] def mediaTableFrom(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(
        array(Formats.map(lit): _*), (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
        .as("format"),
      (pmod(col("doc_id"), lit(8)) * 160 + 320).cast("int").as("width"),
      (pmod(col("doc_id"), lit(8)) * 90 + 180).cast("int").as("height"),
      (pmod(col("doc_id"), lit(30)) + 1).cast("int").as("n_frames"),
      col("text").cast("binary").as("payload")).as[MediaRow]
      .map { r =>
        // null-payload guard: a null text column decodes to a null
        // binary, which the codec's header math would NPE on — frame
        // it as an EMPTY container instead (header present, zero data
        // bytes), the contract a real lake uses for zero-length blobs
        val data = if (r.payload == null) Array.emptyByteArray else r.payload
        val framed =
          if (r.format == "bmp") MediaCodec.bmp(r.width, r.height, data)
          else MediaCodec.wav(channelsOf(r.media_id), rateOf(r.media_id), data)
        r.copy(payload = framed)
      }
  }

  /** Metadata projection (no decode) — pure relational face of the media
    * table, oracle-checkable. */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).toDF().select(
      col("media_id"), col("format"), col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      col("n_frames").cast("long").as("n_frames"),
      length(col("payload")).cast("long").as("byte_len"))

  /** REAL decode: parse each payload's container header (BMP magic +
    * LE dimension fields, or RIFF/WAVE + fmt/data chunks) into typed
    * fields. Partition-batched typed iteration — the `mapInPandas`
    * batch pattern: a real codec library would init once per task here
    * and consume the same iterator. */
  def decode(media: Dataset[MediaRow]): Dataset[MediaDecoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition codec context init happens here (once per task)
      rows.map(r => MediaCodec.decode(r.media_id, r.payload))
    }
  }

  /** q38 query surface: decoded header fields, flat longs for the
    * DuckDB oracle (every field reconstructs from the fixture columns:
    * dimensions/rates are functions of doc_id, data length is the text
    * byte length). */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame =
    decode(mediaTable(spark, sfDir)).toDF()

  /** Resize stage: recompute target dimensions (fit inside 640×360,
    * aspect preserved, integer arithmetic) and pass the payload through
    * untouched — a real pipeline would transcode inside [[decode]]'s
    * mapPartitions. The metadata math is real and oracle-checkable. */
  def resizeMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val (maxW, maxH) = (640, 360)
    val m = mediaTable(spark, sfDir).toDF()
    // scale = min(maxW/w, maxH/h, 1) as exact rational arithmetic:
    // out_w = floor(w * min-scale) via integer compare of cross products
    val fitW = col("width") * maxH <= col("height") * maxW // height binds?
    m.select(
      col("media_id"),
      col("width").cast("long").as("src_w"),
      col("height").cast("long").as("src_h"),
      when(col("width") <= maxW && col("height") <= maxH, col("width").cast("long"))
        .when(fitW, call_function("div", col("width").cast("long") * maxH, col("height")))
        .otherwise(maxW.toLong).as("out_w"),
      when(col("width") <= maxW && col("height") <= maxH, col("height").cast("long"))
        .when(fitW, lit(maxH.toLong))
        .otherwise(call_function("div", col("height").cast("long") * maxW, col("width")))
        .as("out_h"))
  }

  /** Frame sampling: fan one video row out to ceil(n_frames/8) frame
    * rows, every 8th frame — generator fan-out
    * (`explode(sequence(...))`), the UDTF analog (SURVEY §2.10),
    * oracle-checkable. */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).toDF()
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(8))).as("frame_no"))
      .select(col("media_id"), col("frame_no").cast("long").as("frame_no"))
}

/** Byte-level BMP/WAV container codec — the real encode/parse pair
  * behind [[Multimodal.mediaTable]] and [[Multimodal.decode]]. Headers
  * follow the public formats exactly (BITMAPFILEHEADER+BITMAPINFOHEADER
  * little-endian; canonical 44-byte RIFF/WAVE PCM), so any external
  * tool can read the fixtures and any real blob with these containers
  * decodes here. */
object MediaCodec {

  private def le32(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v & 0xff).toByte
    out(off + 1) = ((v >>> 8) & 0xff).toByte
    out(off + 2) = ((v >>> 16) & 0xff).toByte
    out(off + 3) = ((v >>> 24) & 0xff).toByte
  }
  private def le16(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v & 0xff).toByte
    out(off + 1) = ((v >>> 8) & 0xff).toByte
  }
  private def rd32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def rd16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  final val BmpHeaderLen = 54
  final val WavHeaderLen = 44

  /** 54-byte BMP: 'BM' + file size + 40-byte BITMAPINFOHEADER (width,
    * height, planes=1, bpp=24, biSizeImage=|data|), then `data` as the
    * pixel array. */
  def bmp(width: Int, height: Int, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](BmpHeaderLen + data.length)
    out(0) = 'B'; out(1) = 'M'
    le32(out, 2, BmpHeaderLen + data.length) // file size
    le32(out, 10, BmpHeaderLen)              // pixel data offset
    le32(out, 14, 40)                        // info header size
    le32(out, 18, width)
    le32(out, 22, height)
    le16(out, 26, 1)                         // planes
    le16(out, 28, 24)                        // bits per pixel
    le32(out, 34, data.length)               // biSizeImage
    System.arraycopy(data, 0, out, BmpHeaderLen, data.length)
    out
  }

  /** Canonical 44-byte RIFF/WAVE PCM header (16-bit samples), then
    * `data` as the sample stream. */
  def wav(channels: Int, sampleRate: Int, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](WavHeaderLen + data.length)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    le32(out, 4, 36 + data.length)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    le32(out, 16, 16)                        // fmt chunk size
    le16(out, 20, 1)                         // PCM
    le16(out, 22, channels)
    le32(out, 24, sampleRate)
    le32(out, 28, sampleRate * channels * 2) // byte rate
    le16(out, 32, channels * 2)              // block align
    le16(out, 34, 16)                        // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    le32(out, 40, data.length)
    System.arraycopy(data, 0, out, WavHeaderLen, data.length)
    out
  }

  /** Parse a BMP or WAV container into its header fields. Unknown magic
    * → container "unknown" with only byte lengths (a real lake always
    * carries stragglers; the row survives for quarantine, it does not
    * kill the task). */
  def decode(mediaId: Long, bytes: Array[Byte]): Multimodal.MediaDecoded = {
    if (bytes.length >= BmpHeaderLen && bytes(0) == 'B' && bytes(1) == 'M') {
      val dataLen = rd32(bytes, 34).toLong
      Multimodal.MediaDecoded(mediaId, "bmp",
        width_px = Some(rd32(bytes, 18).toLong),
        height_px = Some(rd32(bytes, 22).toLong),
        bits_per_px = Some(rd16(bytes, 28).toLong),
        channels = None, sample_rate = None, duration_ms = None,
        data_bytes = dataLen, byte_len = bytes.length.toLong)
    } else if (bytes.length >= WavHeaderLen &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E') {
      val channels = rd16(bytes, 22)
      val rate = rd32(bytes, 24)
      val dataLen = rd32(bytes, 40).toLong
      // 16-bit PCM: duration = samples / rate, integer ms (exact — the
      // oracle reproduces it with integer division). A corrupt fmt
      // chunk (rate or channels 0/negative) must NOT divide by zero —
      // the quarantine contract says stragglers survive as rows, they
      // do not kill the task; duration is simply unknown for them.
      val denom = rate.toLong * channels.toLong * 2L
      Multimodal.MediaDecoded(mediaId, "wav",
        width_px = None, height_px = None, bits_per_px = None,
        channels = Some(channels.toLong),
        sample_rate = Some(rate.toLong),
        duration_ms = if (denom > 0) Some(dataLen * 1000L / denom) else None,
        data_bytes = dataLen, byte_len = bytes.length.toLong)
    } else {
      Multimodal.MediaDecoded(mediaId, "unknown",
        None, None, None, None, None, None,
        data_bytes = bytes.length.toLong, byte_len = bytes.length.toLong)
    }
  }
}
