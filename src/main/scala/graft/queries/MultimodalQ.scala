package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal

/** Multimodal catalog entries: the oracle-checkable binary-column analytics
  * (blob sizes/byte stats per source) plus the rows-only feature-extraction
  * pipeline (stub codec, real plumbing — see operators/Multimodal.scala). */
object MultimodalQ {

  /** Opaque-binary column analytics: byte lengths and lead-byte stats per
    * source, computed on the binary payload itself. */
  val q42_multimodal_blob = Q(
    "q42_multimodal_blob",
    Some("""SELECT source, count(*) AS n_items,
            |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
            |  CAST(min(ascii(substr(text, 1, 1))) AS BIGINT) AS min_lead_byte,
            |  CAST(max(ascii(substr(text, 1, 1))) AS BIGINT) AS max_lead_byte
            |FROM documents
            |GROUP BY source
            |ORDER BY source""".stripMargin),
    (s, d) => Tables.documents(s, d)
      .select(col("source"),
        encode(col("text"), "UTF-8").as("payload"),
        ascii(substring(col("text"), 1, 1)).as("lead"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_items"),
        sum(length(col("payload")).cast("long")).as("total_bytes"),
        min(col("lead")).cast("long").as("min_lead_byte"),
        max(col("lead")).cast("long").as("max_lead_byte"))
      .orderBy("source"))

  /** Mirrors Multimodal.decodePayload's Long.parseLong(hex.substring(...),
    * 16) with the shared place-value-sum SQL (same hex-digit arithmetic
    * as the simhash oracle). */
  private def hexValSql(h: String, from: Int, len: Int): String =
    graft.functions.TextFunctions.hexSpanValSql(h, from, len)

  /** Full stub-decode feature pipeline over the media frame — the codec is
    * the documented md5-derived stub, so the oracle replays it exactly and
    * the mapPartitions plumbing (schema, batch shape, per-partition init)
    * is hash-checked end-to-end. */
  val q43_multimodal_features = Q(
    "q43_multimodal_features",
    Some(s"""WITH f AS (
            |  SELECT doc_id AS media_id,
            |    (['image', 'audio', 'video', 'text'])[CAST(doc_id % 4 AS INT) + 1]
            |      AS media_type,
            |    source, n_chars AS n_bytes, md5(text) AS h
            |  FROM documents)
            |SELECT media_id, media_type, source, n_bytes,
            |  CAST(${hexValSql("h", 0, 6)} % 1920 + 1 AS INT) AS width,
            |  CAST(${hexValSql("h", 6, 6)} % 1080 + 1 AS INT) AS height,
            |  CASE WHEN media_type IN ('video', 'audio')
            |       THEN ${hexValSql("h", 12, 12)} % 600000 ELSE 0
            |  END AS duration_ms,
            |  ${hexValSql("h", 24, 8)} AS checksum
            |FROM f
            |ORDER BY media_id""".stripMargin),
    (s, d) => Multimodal.extractFeatures(Multimodal.fromDocuments(s, d))
      .toDF()
      .orderBy("media_id"))

  /** JPEG header mining, proven by construction-inversion: each document
    * deterministically BUILDS a structurally-valid JPEG byte stream — SOI,
    * 1–3 APPn segments of varying lengths whose payloads are stuffed with
    * decoy FFC0 bytes (a pattern-scan parser would false-positive), then
    * the real SOF0 carrying formula-derived dimensions, EOI; every 17th
    * document is truncated mid-segment. Spark PARSES the bytes back with
    * the native segment walker (functions/JpegSofDims); the oracle states
    * the construction formulas (NULL for the truncated ones). A hash
    * match proves the walker inverts arbitrary segment layouts and
    * rejects corruption — same spirit as q43's replayable stub, but here
    * the parser is real. Scan-side end to end: construct and parse are
    * one projection, no shuffle. */
  val q111_jpeg_dims = Q(
    "q111_jpeg_dims",
    Some("""SELECT doc_id,
            |  CASE WHEN doc_id % 17 = 0 THEN NULL
            |       ELSE CAST((doc_id * 7) % 3000 + 1 AS INT) END AS width,
            |  CASE WHEN doc_id % 17 = 0 THEN NULL
            |       ELSE CAST(doc_id % 4000 + 1 AS INT) END AS height
            |FROM documents
            |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      def beU16Hex(v: org.apache.spark.sql.Column) =
        lpad(hex(v), 4, "0")
      def appSeg(i: Int) = {
        val reps = (col("doc_id") + lit(13 * i)) % 64 + 1
        // decoy payload: repeated FFC0 bytes a naive scanner would match
        when(col("doc_id") % 3 >= i,
          concat(lit(s"FFE$i"), beU16Hex(reps * 2 + 2), repeat(lit("FFC0"), reps.cast("int"))))
          .otherwise("")
      }
      val sof = concat(lit("FFC0"), lit("0011"), lit("08"),
        beU16Hex(col("doc_id") % 4000 + 1),          // height
        beU16Hex((col("doc_id") * 7) % 3000 + 1),    // width
        lit("03"), lit("011100"), lit("021101"), lit("031101"))
      val fullHex = concat(lit("FFD8"), appSeg(0), appSeg(1), appSeg(2),
        sof, lit("FFD9"))
      val payloadHex = when(col("doc_id") % 17 === 0,
        substring(fullHex, 1, 12)).otherwise(fullHex)
      Tables.documents(s, d)
        .select(col("doc_id"),
          Multimodal.jpegDims(unhex(payloadHex)).as("dims"))
        .select(col("doc_id"),
          col("dims.width").as("width"), col("dims.height").as("height"))
        .orderBy("doc_id")
    })

  /** WAV header mining, q111's audio twin (construction-inversion): each
    * document BUILDS a canonical 44-byte WAV header with formula-derived
    * channels / sample rate / bit depth / data length (every 13th doc
    * gets a corrupt RIFF magic — all fields null out; every 29th a LIST
    * chunk where `data` should be — the fmt fields still parse but the
    * duration must null out, proving each guard separately), then
    * Spark parses the bytes back with the REAL fixed-offset parsers
    * (Multimodal.wavInfo + wavDurationMs) and the oracle states the
    * construction formulas. Scan-side end to end: construct and parse are
    * one projection over the leading bytes — the 100 TB blob-metadata
    * pattern, never a decode. */
  val q173_wav_info = Q(
    "q173_wav_info",
    Some("""WITH f AS (
            |  SELECT doc_id,
            |    doc_id % 2 + 1 AS ch,
            |    ([8000, 16000, 22050, 44100])[CAST(doc_id % 4 AS INT) + 1] AS sr,
            |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS bps,
            |    (doc_id * 997) % 100000 + 1 AS data_len
            |  FROM documents)
            |SELECT doc_id,
            |  CASE WHEN doc_id % 13 = 0 THEN NULL
            |       ELSE CAST(ch AS BIGINT) END AS channels,
            |  CASE WHEN doc_id % 13 = 0 THEN NULL
            |       ELSE CAST(sr AS BIGINT) END AS sample_rate,
            |  CASE WHEN doc_id % 13 = 0 OR doc_id % 29 = 0 THEN NULL
            |       ELSE (data_len * 1000) // (sr * ch * bps) END
            |    AS duration_ms
            |FROM f
            |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      // little-endian hex of an n-byte integer column: per-byte place
      // values, low byte first
      def leHex(v: org.apache.spark.sql.Column, n: Int) =
        concat((0 until n).map(i =>
          lpad(hex(shiftright(v, 8 * i) % 256), 2, "0")): _*)
      val ch = col("doc_id") % 2 + 1
      val sr = element_at(
        array(lit(8000L), lit(16000L), lit(22050L), lit(44100L)),
        (col("doc_id") % 4).cast("int") + 1)
      val bytesPerSample = when(col("doc_id") % 3 === 0, 2L).otherwise(1L)
      val bits = bytesPerSample * 8
      val byteRate = sr * ch * bytesPerSample
      val blockAlign = ch * bytesPerSample
      val dataLen = (col("doc_id") * 997) % 100000 + 1
      val riffMagic = when(col("doc_id") % 13 === 0, "52494658") // "RIFX"
        .otherwise("52494646")                                   // "RIFF"
      val dataMagic = when(col("doc_id") % 29 === 0, "4C495354") // "LIST"
        .otherwise("64617461")                                   // "data"
      val hdrHex = concat(
        riffMagic, leHex(dataLen + 36, 4), lit("57415645"), // WAVE
        lit("666D7420"), leHex(lit(16L), 4),                // "fmt ", size 16
        leHex(lit(1L), 2), leHex(ch, 2), leHex(sr, 4),      // PCM, ch, rate
        leHex(byteRate, 4), leHex(blockAlign, 2), leHex(bits, 2),
        dataMagic, leHex(dataLen, 4))
      Tables.documents(s, d)
        .select(col("doc_id"), unhex(hdrHex).as("payload"))
        .select(col("doc_id"),
          Multimodal.wavInfo(col("payload")).as("info"),
          Multimodal.wavDurationMs(col("payload")).as("duration_ms"))
        .select(col("doc_id"),
          col("info.channels").as("channels"),
          col("info.sample_rate").as("sample_rate"),
          col("duration_ms"))
        .orderBy("doc_id")
    })

  /** BMP + GIF header mining (construction-inversion, the q111/q173
    * device): even docs BUILD a BITMAPINFOHEADER BMP whose width/height
    * are formula-derived — every 23rd doc stores the height NEGATIVE
    * (two's-complement i32, the real-world top-down pixel-order flag a
    * naive parser hands through as a negative dimension); odd docs build
    * a GIF89a logical screen descriptor (u16 LE fields). Every 17th doc
    * gets a corrupt magic and must null out. Spark parses the bytes back
    * with the REAL fixed-offset little-endian parsers
    * (`Multimodal.bmpDims`/`gifDims`, codegen'd column expressions);
    * the oracle knows every answer in closed form from doc_id.
    *
    * The payload gets its own projection and the parsers read
    * `col("payload")` (q173's device). Passed inline, the deep
    * `unhex(concat(leHex …))` tree was copied into each of the ~37
    * `content` sites of the two parsers, and the final select's 7 field
    * reads copied both whole `when(struct)` trees again: the analyzed
    * plan held 43,423 expression nodes, and building the frame (eager
    * analysis, no job) took ~2 s warm. The three narrow projections
    * hold 879 nodes and build in ~0.15 s. */
  val q294_bmp_gif_dims = Q(
    "q294_bmp_gif_dims",
    Some("""SELECT doc_id,
            |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'gif' END AS fmt,
            |  CASE WHEN doc_id % 17 = 0 THEN NULL
            |       WHEN doc_id % 2 = 0 THEN CAST(doc_id % 2000 + 1 AS BIGINT)
            |       ELSE CAST(doc_id % 900 + 1 AS BIGINT) END AS width,
            |  CASE WHEN doc_id % 17 = 0 THEN NULL
            |       WHEN doc_id % 2 = 0 THEN CAST((doc_id * 3) % 1500 + 1 AS BIGINT)
            |       ELSE CAST((doc_id * 11) % 700 + 1 AS BIGINT) END AS height,
            |  CASE WHEN doc_id % 17 = 0 THEN NULL
            |       WHEN doc_id % 2 = 0 AND doc_id % 23 = 0 THEN CAST(1 AS BIGINT)
            |       ELSE CAST(0 AS BIGINT) END AS topdown
            |FROM documents
            |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      // little-endian hex: byte i = ⌊v / 256^i⌋ % 256 — the divisor is a
      // power of two, so the double division is exact for v < 2^53
      def leHex(v: org.apache.spark.sql.Column, bytes: Int) =
        concat((0 until bytes).map(i =>
          lpad(hex(floor(v / lit(1L << (8 * i))).cast("long") % 256),
            2, "0")): _*)
      val bmpW = col("doc_id") % 2000 + 1
      val bmpHmag = (col("doc_id") * 3) % 1500 + 1
      // top-down BMPs store the height as a NEGATIVE i32 (two's complement)
      val bmpHraw = when(col("doc_id") % 23 === 0, lit(4294967296L) - bmpHmag)
        .otherwise(bmpHmag)
      val bmpMagic = when(col("doc_id") % 17 === 0, "4242").otherwise("424D")
      val bmpHex = concat(bmpMagic,
        lit("00000000"), lit("00000000"), lit("36000000"), // size/resv/offset
        lit("28000000"),                                   // DIB header size
        leHex(bmpW, 4), leHex(bmpHraw, 4),
        lit("0100"), lit("1800"))                          // planes, 24 bpp
      val gifW = col("doc_id") % 900 + 1
      val gifH = (col("doc_id") * 11) % 700 + 1
      val gifMagic = when(col("doc_id") % 17 === 0, "584946383961")
        .otherwise("474946383961")
      val gifHex = concat(gifMagic, leHex(gifW, 2), leHex(gifH, 2),
        lit("F70000"))
      Tables.documents(s, d)
        .select(col("doc_id"), unhex(when(col("doc_id") % 2 === 0, bmpHex)
          .otherwise(gifHex)).as("payload"))
        .select(col("doc_id"),
          Multimodal.bmpDims(col("payload")).as("bmp"),
          Multimodal.gifDims(col("payload")).as("gif"))
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, "bmp").otherwise("gif").as("fmt"),
          when(col("doc_id") % 2 === 0, col("bmp.width"))
            .otherwise(col("gif.width")).as("width"),
          when(col("doc_id") % 2 === 0, col("bmp.height"))
            .otherwise(col("gif.height")).as("height"),
          when(col("doc_id") % 2 === 0, col("bmp.topdown"))
            .otherwise(when(col("gif.width").isNotNull, 0L)).as("topdown"))
        .orderBy("doc_id")
    })

  /** TIFF header mining by construction-inversion (the q294 device, now
    * for the family's only DUAL-ENDIAN format): per doc a minimal TIFF
    * is formula-built — even ids little-endian ("II", LONG-typed
    * dimension tags), odd ids big-endian ("MM", SHORT-typed, exercising
    * the left-justified inline value rule) — and every 17th doc gets a
    * corrupt magic that must null out. Spark parses the bytes back with
    * the REAL IFD walker (`Multimodal.tiffDims`); the oracle knows every
    * answer in closed form from doc_id, so any parser drift (endianness,
    * offsets, type widths) breaks the hash. */
  val q321_tiff_dims = Q(
    "q321_tiff_dims",
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(doc_id % 4000 + 1 AS BIGINT) END AS width,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST((doc_id * 7) % 3000 + 1 AS BIGINT) END AS height,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       WHEN doc_id % 2 = 0 THEN CAST(0 AS BIGINT)
           |       ELSE CAST(1 AS BIGINT) END AS bigendian
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      def leHex(v: org.apache.spark.sql.Column, bytes: Int) =
        concat((0 until bytes).map(i =>
          lpad(hex(floor(v / lit(1L << (8 * i))).cast("long") % 256),
            2, "0")): _*)
      def beHex(v: org.apache.spark.sql.Column, bytes: Int) =
        lpad(hex(v.cast("long")), 2 * bytes, "0")
      val w = col("doc_id") % 4000 + 1
      val h = (col("doc_id") * 7) % 3000 + 1
      val leMagic = when(col("doc_id") % 17 === 0, "58582A00")
        .otherwise("49492A00")
      val leHdr = concat(leMagic, lit("08000000"), lit("0200"),
        lit("0001"), lit("0400"), lit("01000000"), leHex(w, 4),
        lit("0101"), lit("0400"), lit("01000000"), leHex(h, 4),
        lit("00000000"))
      val beMagic = when(col("doc_id") % 17 === 0, "5858002A")
        .otherwise("4D4D002A")
      val beHdr = concat(beMagic, lit("00000008"), lit("0002"),
        lit("0100"), lit("0003"), lit("00000001"),
        concat(beHex(w, 2), lit("0000")),
        lit("0101"), lit("0003"), lit("00000001"),
        concat(beHex(h, 2), lit("0000")),
        lit("00000000"))
      val payload = unhex(when(col("doc_id") % 2 === 0, leHdr)
        .otherwise(beHdr))
      val t = Multimodal.tiffDims(payload)
      Tables.documents(s, d)
        .select(col("doc_id"), t("width").as("width"),
          t("height").as("height"), t("bigendian").as("bigendian"))
        .orderBy("doc_id")
    })

  /** PNG IHDR mining by construction-inversion (the q294/q321 device,
    * now for the family's only CHUNKED format): per doc a minimal PNG
    * is formula-built — signature, an optional leading `tEXt` ancillary
    * chunk on every 11th doc (forcing the chunk WALK, not a fixed
    * offset), the IHDR with formula-derived width/height (u32 BE),
    * bit depth, color type, and interlace flag, then IEND — and every
    * 17th doc gets a corrupt signature byte that must null out. Spark
    * parses the bytes back with the REAL chunk walker
    * (`Multimodal.pngDims`); the oracle knows every answer in closed
    * form from doc_id, so any walker drift (chunk skip arithmetic, BE
    * field order, signature check) breaks the hash. */
  val q371_png_dims = Q(
    "q371_png_dims",
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(doc_id % 3000 + 1 AS BIGINT) END AS width,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST((doc_id * 13) % 2200 + 1 AS BIGINT) END AS height,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(list_extract([1, 2, 4, 8, 16],
           |         CAST(doc_id % 5 AS INT) + 1) AS BIGINT) END AS bit_depth,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(list_extract([0, 2, 3, 4, 6],
           |         CAST((doc_id * 7) % 5 AS INT) + 1) AS BIGINT)
           |       END AS color_type,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       WHEN doc_id % 19 = 0 THEN CAST(1 AS BIGINT)
           |       ELSE CAST(0 AS BIGINT) END AS interlace
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      def beHex(v: org.apache.spark.sql.Column, bytes: Int) =
        lpad(hex(v.cast("long")), 2 * bytes, "0")
      val w = col("doc_id") % 3000 + 1
      val h = (col("doc_id") * 13) % 2200 + 1
      val bd = element_at(
        array(lit(1L), lit(2L), lit(4L), lit(8L), lit(16L)),
        (col("doc_id") % 5).cast("int") + 1)
      val ct = element_at(
        array(lit(0L), lit(2L), lit(3L), lit(4L), lit(6L)),
        ((col("doc_id") * 7) % 5).cast("int") + 1)
      val il = when(col("doc_id") % 19 === 0, 1L).otherwise(0L)
      val sig = when(col("doc_id") % 17 === 0, "89504E480D0A1A0A")
        .otherwise("89504E470D0A1A0A")
      // 4-byte tEXt chunk ahead of IHDR: len=4, type, payload, CRC
      val junk = when(col("doc_id") % 11 === 0,
        concat(lit("00000004"), lit("74455874"), lit("41414141"),
          lit("00000000"))).otherwise(lit(""))
      val ihdr = concat(lit("0000000D"), lit("49484452"),
        beHex(w, 4), beHex(h, 4), beHex(bd, 1), beHex(ct, 1),
        lit("0000"), beHex(il, 1), lit("00000000"))
      val iend = lit("0000000049454E4400000000")
      val payload = unhex(concat(sig, junk, ihdr, iend))
      val p = Multimodal.pngInfo(payload)
      Tables.documents(s, d)
        .select(col("doc_id"), p("width").as("width"),
          p("height").as("height"), p("bit_depth").as("bit_depth"),
          p("color_type").as("color_type"), p("interlace").as("interlace"))
        .orderBy("doc_id")
    })

  /** ZIP central-directory mining, proven by construction-inversion:
    * each document BUILDS a structurally-valid archive tail — k = 1..3
    * central-directory records (46 bytes + name each) followed by the
    * End-Of-Central-Directory record, every 11th doc carrying an EOCD
    * comment so the record is NOT at a fixed tail offset (the backward
    * signature scan every real unzipper needs), every 17th doc given a
    * corrupt EOCD signature. Spark parses the bytes back with the
    * native walker (functions/ZipInfo); the oracle states the
    * construction formulas directly. */
  val q395_zip_central_dir = Q(
    "q395_zip_central_dir",
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(doc_id % 3 + 1 AS BIGINT) END AS n_entries,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(list_sum(list_transform(
           |         range(0, doc_id % 3 + 1),
           |         i -> (doc_id * 31 + i * 7) % 1000)) AS BIGINT)
           |       END AS comp_bytes,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 'F0' END AS first_name
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      def leHex(v: org.apache.spark.sql.Column, n: Int) =
        concat((0 until n).map(i =>
          lpad(hex(shiftright(v, 8 * i) % 256), 2, "0")): _*)
      val k = col("doc_id") % 3 + 1
      def compOf(i: Int) = (col("doc_id") * 31 + lit(i * 7)) % 1000
      def cdEntry(i: Int) = concat(
        lit("504B0102"), lit("14001400"), lit("00000800"),
        lit("00000000"), lit("00000000"), // time+date, crc
        leHex(compOf(i), 4), leHex(compOf(i), 4),
        lit("020000000000"),       // nlen=2, elen=0, clen=0
        lit("00000000"),            // disk, internal attrs
        lit("00000000"),            // external attrs
        lit("00000000"),            // local-header offset
        lit(f"46${0x30 + i}%02X")) // name "F<i>"
      val cd = concat(cdEntry(0),
        when(k >= 2, cdEntry(1)).otherwise(lit("")),
        when(k >= 3, cdEntry(2)).otherwise(lit("")))
      val clen = when(col("doc_id") % 11 === 0, 4L).otherwise(0L)
      val comment = when(col("doc_id") % 11 === 0, lit("41414141"))
        .otherwise(lit(""))
      val sig = when(col("doc_id") % 17 === 0, "504B0500")
        .otherwise("504B0506")
      val eocd = concat(sig, lit("00000000"),
        leHex(k, 2), leHex(k, 2), leHex(k * 48, 4), lit("00000000"),
        leHex(clen, 2), comment)
      val z = Multimodal.zipInfo(unhex(concat(cd, eocd)))
      Tables.documents(s, d)
        .select(col("doc_id"), z("n_entries").as("n_entries"),
          z("comp_bytes").as("comp_bytes"), z("first_name").as("first_name"))
        .orderBy("doc_id")
    })

  private val FooterFixture =
    "/root/reference/lndcdcadsrtcrd_ratecard_1630613001.008183_local_test.parquet"

  /** Parquet physical-layout audit on a REAL file (the reference's own
    * golden fixture, not synthesized bytes): the container contract a
    * reader trusts before any thrift parsing — "PAR1" magic at both
    * ends and the little-endian u32 footer length stored in the 8 tail
    * bytes, which must leave the footer inside the file. Spark reads
    * the raw bytes through the binaryFile source; the oracle reads the
    * SAME file independently with read_blob and re-derives every field
    * from the bytes (no construction inversion possible — neither
    * engine knows the answer except by parsing). */
  val q405_parquet_footer = Q(
    "q405_parquet_footer", {
      def leU32(hexExpr: String) =
        (0 until 4).map { i =>
          graft.functions.TextFunctions
            .hexSpanValSql(hexExpr, 2 * i, 2) + s" * ${1L << (8 * i)}"
        }.mkString("(", " + ", ")")
      Some(s"""WITH f AS (
              |  SELECT lower(hex(content)) AS h,
              |    CAST(octet_length(content) AS BIGINT) AS sz
              |  FROM read_blob('$FooterFixture')),
              |p AS (
              |  SELECT sz,
              |    upper(substring(h, 1, 8)) AS head,
              |    upper(substring(h, CAST(2 * sz - 7 AS INT), 8)) AS tail,
              |    substring(h, CAST(2 * sz - 15 AS INT), 8) AS flen_hex
              |  FROM f)
              |SELECT sz AS file_size,
              |  CAST(${leU32("flen_hex")} AS BIGINT) AS footer_len,
              |  CAST(CASE WHEN head = '50415231' THEN 1 ELSE 0 END AS BIGINT)
              |    AS head_ok,
              |  CAST(CASE WHEN tail = '50415231' THEN 1 ELSE 0 END AS BIGINT)
              |    AS tail_ok,
              |  CAST(CASE WHEN ${leU32("flen_hex")} + 8 <= sz
              |    THEN 1 ELSE 0 END AS BIGINT) AS footer_fits
              |FROM p""".stripMargin)
    },
    (s, d) => {
      // slice on the HEX string, not the binary: Spark's substring on
      // a binary child routes through a string cast, mangling non-UTF-8
      // bytes (measured: footer_len read 8082 instead of 10898), and
      // DuckDB has no blob substring at all -- hex() first on both sides;
      // lower() because hexSpanValSql's digit table is lowercase-only
      // ('A' would silently read as -1)
      val f = s.read.format("binaryFile").load(FooterFixture)
        .select(lower(hex(col("content"))).as("h"), col("length").as("sz"))
      val p = f.select(col("sz"),
        expr("upper(substring(h, 1, 8))").as("head"),
        expr("upper(substring(h, CAST(2 * sz - 7 AS INT), 8))").as("tail"),
        expr("substring(h, CAST(2 * sz - 15 AS INT), 8)").as("flen_hex"))
      val flen = (0 until 4).map { i =>
        expr(graft.functions.TextFunctions.hexSpanValSql("flen_hex", 2 * i, 2))
          .*(lit(1L << (8 * i)))
      }.reduce(_ + _)
      p.select(col("sz").as("file_size"),
        flen.cast("long").as("footer_len"),
        when(col("head") === "50415231", 1L).otherwise(0L).as("head_ok"),
        when(col("tail") === "50415231", 1L).otherwise(0L).as("tail_ok"),
        when(flen + 8 <= col("sz"), 1L).otherwise(0L).as("footer_fits"))
    })

  /** MP3 frame mining, proven by construction-inversion: each document
    * BUILDS a CBR MPEG-1 Layer III stream — every 5th doc behind an
    * ID3v2 tag with a MULTI-BYTE syncsafe size (200 → 0x00 0x00 0x01
    * 0x48; reading it as plain u32 desyncs the walk), 2–5 frames whose
    * length the parser must recompute from the header's bitrate/
    * samplerate indices and padding bit, every 17th doc sync-corrupted.
    * Spark parses back with the native walker (functions/Mp3Info); the
    * oracle states the construction formulas. Scan-side end to end. */
  val q418_mp3_frames = Q(
    "q418_mp3_frames",
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(doc_id % 4 + 2 AS BIGINT) END AS n_frames,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(list_extract([32,40,48,56,64,80,96,112,128,
           |         160,192,224,256,320], CAST(doc_id % 14 AS INT) + 1)
           |         AS BIGINT) END AS bitrate_kbps,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(list_extract([44100, 48000, 32000],
           |         CAST(doc_id % 3 AS INT) + 1) AS BIGINT)
           |       END AS sample_rate,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE (doc_id % 4 + 2) * 1152 * 1000
           |         // list_extract([44100, 48000, 32000],
           |              CAST(doc_id % 3 AS INT) + 1)
           |       END AS duration_ms
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val rates = array(Seq(32, 40, 48, 56, 64, 80, 96, 112, 128,
        160, 192, 224, 256, 320).map(v => lit(v.toLong)): _*)
      val bidx = (col("doc_id") % 14).cast("int")
      val sidx = (col("doc_id") % 3).cast("int")
      val sync = when(col("doc_id") % 17 === 0, "FEFB").otherwise("FFFB")
      val base = Tables.documents(s, d)
        .withColumn("__rate", element_at(rates, bidx + 1))
        .withColumn("__hz", element_at(
          array(lit(44100L), lit(48000L), lit(32000L)), sidx + 1))
        .withColumn("__pad", col("doc_id") % 2)
        .withColumn("__k", (col("doc_id") % 4 + 2).cast("int"))
        .withColumn("__flen",
          expr("(144 * __rate * 1000) div __hz") + col("__pad"))
        .withColumn("__b3", (bidx + 1) * 16 + sidx * 4 + col("doc_id") % 2 * 2)
        .withColumn("__fh", concat(sync, lpad(hex(col("__b3")), 2, "0"),
          lit("00"), expr("repeat('00', CAST(__flen - 4 AS INT))")))
        // ID3v2 tag, syncsafe size 200 = [0,0,1,0x48], zero body
        .withColumn("__id3", when(col("doc_id") % 5 === 0,
          concat(lit("494433"), lit("030000"), lit("00000148"),
            expr("repeat('00', 200)"))).otherwise(lit("")))
      val m = Multimodal.mp3Info(
        unhex(concat(col("__id3"), expr("repeat(__fh, __k)"))))
      base.select(col("doc_id"), m("n_frames").as("n_frames"),
          m("bitrate_kbps").as("bitrate_kbps"),
          m("sample_rate").as("sample_rate"),
          m("duration_ms").as("duration_ms"))
        .orderBy("doc_id")
    })

  /** WEBP dimension mining, proven by construction-inversion: each doc
    * BUILDS a structurally-valid RIFF/WEBP container — every 3rd doc a
    * VP8L lossless bitstream (signature byte + the packed 14-bit LE
    * dims, payload 5 bytes so the chunk needs the RIFF even-offset PAD
    * byte), the rest a VP8 lossy keyframe header (frame tag + 9D012A
    * sync + 14-bit LE dims), every 11th doc with an odd-length EXIF
    * chunk ahead of the bitstream (the walker must skip payload+pad),
    * every 17th doc with a corrupt container fourcc. Spark parses the
    * bytes back with the native walker (functions/WebpDims, also
    * SQL-registered as webp_dims); the oracle states the construction
    * formulas directly. Scan-side expression; no joins, no shuffle. */
  val q437_webp_dims = Q(
    "q437_webp_dims",
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       WHEN doc_id % 3 = 0 THEN 'lossless'
           |       ELSE 'lossy' END AS format,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST(doc_id % 3000 + 1 AS BIGINT) END AS width,
           |  CASE WHEN doc_id % 17 = 0 THEN NULL
           |       ELSE CAST((doc_id * 13) % 2200 + 1 AS BIGINT) END AS height
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      def leHex(v: org.apache.spark.sql.Column, n: Int) =
        concat((0 until n).map(i =>
          lpad(hex(shiftright(v, 8 * i) % 256), 2, "0")): _*)
      val w = col("doc_id") % 3000 + 1
      val h = (col("doc_id") * 13) % 2200 + 1
      // VP8 lossy: tag(3) + sync 9D012A + u16le w + u16le h = 10 bytes
      val lossyChunk = concat(lit("56503820"), lit("0A000000"),
        lit("000000"), lit("9D012A"), leHex(w, 2), leHex(h, 2))
      // VP8L lossless: 0x2F + packed LE ((w-1) | (h-1)<<14) = 5 bytes,
      // odd payload => one pad byte
      val packed = (w - 1) + (h - 1) * 16384
      val losslessChunk = concat(lit("5650384C"), lit("05000000"),
        lit("2F"), leHex(packed, 4), lit("00"))
      // odd-length EXIF chunk ahead of the bitstream (pad-skip path)
      val junk = when(col("doc_id") % 11 === 0,
        concat(lit("45584946"), lit("03000000"), lit("414141"), lit("00")))
        .otherwise(lit(""))
      val inner = concat(junk,
        when(col("doc_id") % 3 === 0, losslessChunk).otherwise(lossyChunk))
      val riffSize = (length(inner) / 2 + 4).cast("long")
      val magic = when(col("doc_id") % 17 === 0, lit("57454251"))
        .otherwise(lit("57454250"))
      val payload = unhex(concat(lit("52494646"), leHex(riffSize, 4),
        magic, inner))
      val m = graft.operators.Multimodal.webpDims(payload)
      Tables.documents(s, d)
        .select(col("doc_id"), m("format").as("format"),
          m("width").as("width"), m("height").as("height"))
        .orderBy("doc_id")
    })

  val all: Seq[Q] = Seq(q42_multimodal_blob, q43_multimodal_features,
    q111_jpeg_dims, q173_wav_info, q294_bmp_gif_dims, q321_tiff_dims,
    q371_png_dims, q395_zip_central_dir, q405_parquet_footer,
    q418_mp3_frames, q437_webp_dims)
}
