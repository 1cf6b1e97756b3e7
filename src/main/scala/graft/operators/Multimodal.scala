package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.11): media as opaque binary
  * columns with typed metadata, decoded/feature-extracted per partition.
  *
  * The Spark-side shape is real and tested — schema, partitioning, batch
  * iteration (mapPartitions ≈ the JVM analogue of mapInPandas batches),
  * feature schema. The codec itself is a STUB: this container has no
  * image/audio libraries, so `decodePayload` derives deterministic fake
  * features from the bytes where a real JNI/library decode would run.
  * Swapping in a real decoder changes only that one function; the
  * distributed plumbing is unchanged.
  *
  * Scale notes: payloads stay opaque binary end-to-end (no driver
  * materialization); decode is a narrow per-partition transform (no
  * shuffle); feature aggregation downstream is a normal hash agg.
  */
object Multimodal {

  case class MediaItem(
      media_id: Long,
      media_type: String,      // "image" | "audio" | "video" | "text"
      payload: Array[Byte],
      source: String,
      n_bytes: Long)

  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      source: String,
      n_bytes: Long,
      width: Int,              // stub-decoded "dimensions"
      height: Int,
      duration_ms: Long,
      checksum: Long)

  /** Ingest a directory of media blobs via Spark's binaryFile source —
    * the real multimodal intake path (each file → one opaque-binary row;
    * executors read files in parallel, nothing passes through the
    * driver). media_id = hash of the path (stable across runs), type from
    * the file extension, pruned columns and pushed path filters come free
    * from the source. `pathGlob` is a directory or glob, e.g.
    * "/data/images" or a star-suffixed pattern. */
  def fromBinaryFiles(spark: SparkSession, pathGlob: String): Dataset[MediaItem] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(
        xxhash64(col("path")).as("media_id"),
        when(lower(col("path")).rlike("\\.(jpe?g|png|gif|bmp)$"), "image")
          .when(lower(col("path")).rlike("\\.(wav|mp3|flac|ogg)$"), "audio")
          .when(lower(col("path")).rlike("\\.(mp4|mkv|webm|avi)$"), "video")
          .otherwise("text").as("media_type"),
        col("content").as("payload"),
        col("path").as("source"),
        col("length").as("n_bytes"))
      .as[MediaItem]
  }

  /** Build a media frame from the documents table: payload = utf-8 bytes
    * (stands in for image/audio blobs with the same column shape). */
  def fromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaItem] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        // deterministic type assignment for test coverage of all branches
        element_at(
          array(lit("image"), lit("audio"), lit("video"), lit("text")),
          (col("doc_id") % 4 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source"),
        col("n_chars").as("n_bytes"))
      .as[MediaItem]
  }

  /** STUB decode: where a real codec (libjpeg/ffmpeg/...) would parse the
    * payload, derive deterministic pseudo-features from the md5 of the
    * bytes. The signature and per-partition batch shape are the real
    * contract — and md5-derived features are exactly replayable by the
    * DuckDB oracle (hex-digit arithmetic, same trick as simhash), so the
    * whole mapPartitions pipeline is hash-checked, not rows-only.
    * `md` is the per-partition "codec" instance. */
  private[operators] def decodePayload(md: java.security.MessageDigest,
      item: MediaItem): MediaFeatures = {
    md.reset()
    val hex = md.digest(item.payload).map(b => f"$b%02x").mkString
    // ??? real decode goes here — stubbed deterministically from md5:
    def hx(from: Int, len: Int): Long =
      java.lang.Long.parseLong(hex.substring(from, from + len), 16)
    val width = (hx(0, 6) % 1920 + 1).toInt
    val height = (hx(6, 6) % 1080 + 1).toInt
    val durationMs = if (item.media_type == "video" || item.media_type == "audio")
      hx(12, 12) % 600000 else 0L
    MediaFeatures(item.media_id, item.media_type, item.source,
      item.n_bytes, width, height, durationMs, hx(24, 8))
  }

  /** REAL container-header parsers — the honest counterpoint to the
    * stubbed codec: a PNG's dimensions and a WAV's format fields live at
    * fixed offsets in the leading bytes, so they parse as pure codegen'd
    * column expressions (substring on binary → hex → integer), no media
    * library needed. Non-matching magic bytes ⇒ null struct. At 100 TB
    * this is how blob METADATA is mined: a scan-side projection over the
    * first bytes, never a decode. */
  def pngDims(content: Column): Column = {
    // magic: 89 50 4E 47 0D 0A 1A 0A; IHDR width/height: big-endian u32
    // at byte offsets 16/20 (1-based substring offsets 17/21)
    def be32(off: Int) =
      conv(hex(substring(content, off, 4)), 16, 10).cast("long")
    when(length(content) >= 24 &&
        hex(substring(content, 1, 8)) === "89504E470D0A1A0A",
      struct(be32(17).as("width"), be32(21).as("height")))
  }

  /** Unsigned little-endian integer of `len` bytes at 1-based byte
    * offset `off`: a place-value sum over single bytes (reverse() does
    * not take binary). */
  private def le(content: Column, off: Int, len: Int): Column =
    (0 until len).map(i =>
      conv(hex(substring(content, off + i, 1)), 16, 10).cast("long") *
        lit(1L << (8 * i))).reduce(_ + _)

  def wavInfo(content: Column): Column = {
    // RIFF....WAVE; fmt chunk: channels u16 LE at offset 22, sample rate
    // u32 LE at offset 24 (1-based 23/25).
    // 'fmt ' chunk id at offset 12 must ALSO match: RIFF permits other
    // chunks (LIST/JUNK) before fmt, and for those layouts the fixed
    // offsets would read garbage — null out instead. (PNG needs no such
    // guard: the spec mandates IHDR first.)
    when(length(content) >= 28 &&
        hex(substring(content, 1, 4)) === "52494646" &&
        hex(substring(content, 9, 4)) === "57415645" &&
        hex(substring(content, 13, 4)) === "666D7420",
      struct(le(content, 23, 2).as("channels"),
        le(content, 25, 4).as("sample_rate")))
  }

  /** Canonical-layout WAV duration in ms: byte rate (u32 LE at byte
    * offset 29, 1-based) and the `data` chunk length (u32 LE at 41)
    * of the 44-byte canonical header — duration = data_bytes * 1000 /
    * byte_rate, floored. Guards on all four magics (RIFF/WAVE/fmt /data):
    * a non-canonical chunk layout (LIST/JUNK before data) or corrupt
    * header nulls out rather than reading garbage. The division runs in
    * double but both operands stay far below 2^53 and the true quotient
    * is never within an ulp of an integer (denominator ≤ ~2M), so the
    * floor is exact and engine-portable. */
  def wavDurationMs(content: Column): Column = {
    when(length(content) >= 44 &&
        hex(substring(content, 1, 4)) === "52494646" &&
        hex(substring(content, 9, 4)) === "57415645" &&
        hex(substring(content, 13, 4)) === "666D7420" &&
        hex(substring(content, 37, 4)) === "64617461" &&
        le(content, 29, 4) > 0,
      floor((le(content, 41, 4) * lit(1000L)).cast("double") /
        le(content, 29, 4).cast("double")).cast("long"))
  }

  /** BMP dimensions + orientation: 'BM' magic, BITMAPINFOHEADER width
    * i32 LE at byte offset 19 (1-based) and height i32 LE at 23 — the
    * height is SIGNED: negative means a top-down pixel order, which the
    * parser must surface (reported as abs(height) + a topdown flag)
    * rather than hand a consumer a negative dimension. Pure codegen'd
    * column expression, same scan-side metadata-mining contract as
    * pngDims. */
  def bmpDims(content: Column): Column = {
    val rawH = le(content, 23, 4)
    // two's-complement i32: values above 2^31 are negative heights
    val signedH = when(rawH >= lit(2147483648L), rawH - lit(4294967296L))
      .otherwise(rawH)
    when(length(content) >= 30 &&
        hex(substring(content, 1, 2)) === "424D",
      struct(le(content, 19, 4).as("width"),
        abs(signedH).as("height"),
        when(signedH < 0, 1L).otherwise(0L).as("topdown")))
  }

  /** GIF logical-screen dimensions: 'GIF87a'/'GIF89a' magic, width and
    * height u16 LE at byte offsets 7/9 (1-based). Null struct for
    * non-GIF/corrupt payloads. */
  def gifDims(content: Column): Column = {
    when(length(content) >= 13 &&
        (hex(substring(content, 1, 6)) === "474946383761" ||
          hex(substring(content, 1, 6)) === "474946383961"),
      struct(le(content, 7, 2).as("width"), le(content, 9, 2).as("height")))
  }

  /** JPEG dimensions via a real SOF marker-segment walk (unlike PNG/WAV,
    * the frame header sits behind a variable-length segment list — see
    * functions/JpegSofDims). Null struct for non-JPEG/corrupt payloads. */
  def jpegDims(content: Column): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(graft.functions.JpegSofDims(b.expression(content)))
  }

  /** TIFF dimensions via a real dual-endian IFD walk (see
    * functions/TiffDims). Null struct for non-TIFF/corrupt payloads. */
  def tiffDims(content: Column): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(graft.functions.TiffDims(b.expression(content)))
  }

  /** Full PNG IHDR via a real chunk walk (see functions/PngDims) — the
    * native big sibling of the fixed-offset `pngDims` above: tolerates
    * ancillary chunks ahead of IHDR and also surfaces bit depth, color
    * type, and the interlace flag. Null struct for non-PNG/corrupt
    * payloads. */
  def pngInfo(content: Column): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(graft.functions.PngDims(b.expression(content)))
  }

  def zipInfo(content: Column): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(graft.functions.ZipInfo(b.expression(content)))
  }

  def mp3Info(content: Column): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(graft.functions.Mp3Info(b.expression(content)))
  }

  /** WEBP dimensions via a real RIFF chunk walk — lossy (VP8 sync +
    * 14-bit LE dims) and lossless (VP8L packed u32) bitstreams (see
    * functions/WebpDims). Null struct for non-WEBP/corrupt payloads. */
  def webpDims(content: Column): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(graft.functions.WebpDims(b.expression(content)))
  }

  /** Per-partition feature extraction — one decoder init per partition
    * (the expensive-codec pattern), then streaming batch iteration. */
  def extractFeatures(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // a real implementation initializes the codec once per partition here
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map(decodePayload(md, _))
    }
  }

  case class ResizedMedia(
      media_id: Long,
      media_type: String,
      payload: Array[Byte],
      n_bytes: Long,
      target_w: Int,
      target_h: Int)

  /** STUB resize: where a real image/video scaler would run, produce a
    * deterministic byte-stride downsample of the payload toward a target
    * byte budget (`targetW*targetH/8`, floor stride 1) — the payload
    * SHRINKS like a real resize output and stays opaque binary. The
    * distributed shape is the contract: narrow per-partition transform,
    * one "codec" per partition, no shuffle, binary in/binary out. */
  def resize(items: Dataset[MediaItem], targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    import items.sparkSession.implicits._
    val budget = math.max(1, targetW * targetH / 8)
    items.mapPartitions { it =>
      // real implementation: initialize the scaler once per partition here
      it.map { m =>
        val stride = math.max(1, m.payload.length / budget)
        val out = new Array[Byte]((m.payload.length + stride - 1) / stride)
        var i = 0
        while (i < out.length) { out(i) = m.payload(i * stride); i += 1 }
        ResizedMedia(m.media_id, m.media_type, out, out.length.toLong,
          targetW, targetH)
      }
    }
  }

  /** Frame sampling for video payloads: k deterministic offsets per item —
    * explode stays a narrow transform (no shuffle). */
  def sampleFrames(items: Dataset[MediaItem], k: Int): DataFrame = {
    items.toDF()
      .filter(col("media_type") === "video")
      .select(col("media_id"), col("n_bytes"),
        posexplode(sequence(lit(0), lit(k - 1))).as(Seq("frame_idx", "off")))
      .select(col("media_id"), col("frame_idx"),
        (col("off") * (col("n_bytes") / k)).cast("long").as("byte_offset"))
  }
}
