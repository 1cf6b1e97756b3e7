package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Unhex
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal
import graft.queries.MultimodalQ

/** Multimodal plumbing: schema, batch shape, deterministic stub decode,
  * frame sampling (SURVEY.md §2.11). */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  test("media frame carries opaque binary payloads with typed metadata") {
    val items = Multimodal.fromDocuments(spark, sfDir)
    val schema = items.schema
    assert(schema("payload").dataType.typeName == "binary")
    val first = items.head()
    assert(first.payload.length == first.n_bytes)
    assert(Set("image", "audio", "video", "text").contains(first.media_type))
  }

  test("feature extraction is deterministic and preserves row count") {
    val items = Multimodal.fromDocuments(spark, sfDir)
    val f1 = Multimodal.extractFeatures(items).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(items).collect().sortBy(_.media_id)
    assert(f1.length == items.count())
    assert(f1.map(_.checksum).toSeq == f2.map(_.checksum).toSeq)
    assert(f1.forall(f => f.width >= 1 && f.width <= 1920))
    assert(f1.forall(f => f.media_type != "image" || f.duration_ms == 0))
  }

  test("binaryFile ingest maps blob files to the media frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blobs")
    java.nio.file.Files.write(dir.resolve("a.jpg"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.wav"), Array[Byte](4, 5))
    java.nio.file.Files.write(dir.resolve("c.txt"), "hi".getBytes)
    val items = Multimodal.fromBinaryFiles(spark, dir.toString + "/*")
      .collect().sortBy(_.source)
    assert(items.length == 3)
    assert(items.map(_.media_type).toSeq == Seq("image", "audio", "text"))
    assert(items.forall(m => m.payload.length.toLong == m.n_bytes))
    assert(items.map(_.media_id).distinct.length == 3)
    // the frame feeds the same feature pipeline as any other source
    import spark.implicits._
    val feats = Multimodal.extractFeatures(
      Multimodal.fromBinaryFiles(spark, dir.toString + "/*")).collect()
    assert(feats.length == 3 && feats.forall(_.width >= 1))
  }

  test("stub resize shrinks payloads deterministically, no shuffle") {
    val items = Multimodal.fromDocuments(spark, sfDir)
    val r1 = Multimodal.resize(items, 64, 64).collect().sortBy(_.media_id)
    val r2 = Multimodal.resize(items, 64, 64).collect().sortBy(_.media_id)
    assert(r1.length == items.count())
    assert(r1.map(_.payload.toSeq).toSeq == r2.map(_.payload.toSeq).toSeq)
    val orig = items.collect().map(m => m.media_id -> m.payload.length).toMap
    assert(r1.forall(r => r.n_bytes <= orig(r.media_id) && r.n_bytes > 0))
    assert(r1.forall(r => r.target_w == 64 && r.target_h == 64))
    // narrow plan: no Exchange
    val plan = Multimodal.resize(items, 64, 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("PNG and WAV header parsers read real container bytes, reject others") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a real 33-byte PNG prefix: magic + IHDR with 640×480
    val png: Array[Byte] = (Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x02, 0x80, // width 640
      0x00, 0x00, 0x01, 0xE0, // height 480
      0x08, 0x06, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte))
    // a real 28-byte WAV prefix: RIFF/WAVE + fmt with 2ch, 44100 Hz
    val wav: Array[Byte] = (Array(0x52, 0x49, 0x46, 0x46, 0x24, 0x00, 0x00, 0x00,
      0x57, 0x41, 0x56, 0x45, 0x66, 0x6D, 0x74, 0x20,
      0x10, 0x00, 0x00, 0x00, 0x01, 0x00,
      0x02, 0x00,             // channels 2 (LE)
      0x44, 0xAC, 0x00, 0x00).map(_.toByte)) // 44100 (LE)
    val junk: Array[Byte] = Array.fill(64)(0x42.toByte)
    val df = Seq((1L, png), (2L, wav), (3L, junk)).toDF("id", "content")
      .select(col("id"),
        Multimodal.pngDims(col("content")).as("png"),
        Multimodal.wavInfo(col("content")).as("wav"))
      .orderBy("id").collect()
    assert(df(0).getStruct(1).getLong(0) == 640L)
    assert(df(0).getStruct(1).getLong(1) == 480L)
    assert(df(0).isNullAt(2))
    assert(df(1).isNullAt(1))
    assert(df(1).getStruct(2).getLong(0) == 2L)
    assert(df(1).getStruct(2).getLong(1) == 44100L)
    assert(df(2).isNullAt(1) && df(2).isNullAt(2))
    // truncated header (magic only): fields would read past the payload →
    // must null out, not fabricate values
    val short = Seq((1L, png.take(12))).toDF("id", "content")
      .select(Multimodal.pngDims(col("content")).as("png")).head()
    assert(short.isNullAt(0))
    // non-canonical chunk order: a JUNK chunk before fmt shifts every
    // field — the fixed-offset parser must null out, not read garbage
    val junkFirst: Array[Byte] = (Array(0x52, 0x49, 0x46, 0x46, 0x24, 0x00, 0x00, 0x00,
      0x57, 0x41, 0x56, 0x45, 0x4A, 0x55, 0x4E, 0x4B, // 'JUNK'
      0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x66, 0x6D, 0x74, 0x20).map(_.toByte))
    val nc = Seq((1L, junkFirst)).toDF("id", "content")
      .select(Multimodal.wavInfo(col("content")).as("wav")).head()
    assert(nc.isNullAt(0))
  }

  test("PNG chunk walker: ancillary chunks, IHDR fields, IEND stop, corruption") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val sig = "89504E470D0A1A0A"
    val ihdr = "0000000D" + "49484452" +
      "00000280" + "000001E0" + // 640 x 480
      "10" + "06" + "0000" + "01" + // depth 16, type 6, interlace 1
      "00000000"
    val iend = "0000000049454E4400000000"
    def info(h: String) = Seq(Tuple1(hexBytes(h))).toDF("c")
      .select(Multimodal.pngInfo(col("c")).as("p")).head() match {
        case r if r.isNullAt(0) => None
        case r =>
          val s = r.getStruct(0)
          Some((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3),
            s.getLong(4)))
      }
    // canonical: IHDR first
    assert(info(sig + ihdr + iend) == Some((640L, 480L, 16L, 6L, 1L)))
    // two ancillary chunks ahead of IHDR: the walker must SKIP by
    // declared length (different lengths each) and still find IHDR
    val junk1 = "00000004" + "74455874" + "41414141" + "00000000"
    val junk2 = "00000002" + "7A545874" + "4242" + "00000000"
    assert(info(sig + junk1 + junk2 + ihdr + iend) ==
      Some((640L, 480L, 16L, 6L, 1L)))
    // corrupt signature byte, truncated mid-chunk, IEND before IHDR,
    // and a declared length past the buffer -> null, never garbage
    assert(info("89504E480D0A1A0A" + ihdr + iend) == None)
    assert(info(sig + "0000000D" + "49484452" + "000002") == None)
    assert(info(sig + iend + ihdr) == None)
    assert(info(sig + "0FFFFFFF" + "74455874") == None)
  }

  test("BMP/GIF header parsers: LE fields, signed top-down height, corruption, truncation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 30-byte BMP prefix: 'BM' + BITMAPINFOHEADER, 800×600 bottom-up
    def bmpBytes(w: Int, h: Long): Array[Byte] = {
      def le(v: Long, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte)
      (Seq(0x42, 0x4D).map(_.toByte) ++ le(0, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(w.toLong, 4) ++ le(h & 0xFFFFFFFFL, 4) ++
        le(1, 2) ++ le(24, 2)).toArray
    }
    // 13-byte GIF prefix: GIF89a + 320×200 logical screen
    val gif: Array[Byte] = ("GIF89a".getBytes("US-ASCII") ++
      Array(0x40, 0x01, 0xC8, 0x00, 0xF7, 0x00, 0x00).map(_.toByte))
    val rows = Seq(
      (1L, bmpBytes(800, 600L)),
      (2L, bmpBytes(1024, -768L)), // top-down: height stored negative
      (3L, gif),
      (4L, Array.fill(30)(0x51.toByte)))
      .toDF("id", "content")
      .select(col("id"),
        Multimodal.bmpDims(col("content")).as("bmp"),
        Multimodal.gifDims(col("content")).as("gif"))
      .orderBy("id").collect()
    assert(rows(0).getStruct(1).getLong(0) == 800L)
    assert(rows(0).getStruct(1).getLong(1) == 600L)
    assert(rows(0).getStruct(1).getLong(2) == 0L)
    assert(rows(1).getStruct(1).getLong(0) == 1024L)
    assert(rows(1).getStruct(1).getLong(1) == 768L) // abs of the i32
    assert(rows(1).getStruct(1).getLong(2) == 1L)   // topdown flagged
    assert(rows(2).isNullAt(1))
    assert(rows(2).getStruct(2).getLong(0) == 320L)
    assert(rows(2).getStruct(2).getLong(1) == 200L)
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    // truncation: magic alone must not fabricate dimensions
    val short = Seq((1L, bmpBytes(800, 600L).take(10)), (2L, gif.take(8)))
      .toDF("id", "content")
      .select(Multimodal.bmpDims(col("content")).as("bmp"),
        Multimodal.gifDims(col("content")).as("gif"))
      .orderBy(col("bmp").isNull).collect()
    assert(short.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  /** Expression nodes in `df`'s analyzed plan, summed over its operators. */
  private def analyzedNodes(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.analyzed.foreach(_.expressions.foreach(_.foreach(_ => n += 1)))
    n
  }

  test("every multimodal entry's analyzed plan stays under 5,000 expression nodes") {
    // A header parser passed a deep payload expression inline copies it
    // into every byte read; eager analysis of such a frame takes seconds.
    assume(Files.isDirectory(Paths.get(sfDir)))
    val sizes = MultimodalQ.all.flatMap { q =>
      // an entry over an absent fixture file cannot build its frame
      try Some(q.name -> analyzedNodes(q.run(spark, sfDir)))
      catch { case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => None }
    }
    assert(sizes.map(_._1).contains(MultimodalQ.q294_bmp_gif_dims.name))
    val big = sizes.filter(_._2 >= 5000)
    assert(big.isEmpty, s"analyzed plans over 5,000 expression nodes: ${big.mkString(", ")}")
  }

  test("q294 projects its payload once: no analyzed Project holds two unhex") {
    assume(Files.isDirectory(Paths.get(sfDir)))
    val plan = MultimodalQ.q294_bmp_gif_dims.run(spark, sfDir).queryExecution.analyzed
    val perProject = plan.collect { case p: Project =>
      p.projectList.map(_.collect { case u: Unhex => u }.size).sum }
    assert(perProject.nonEmpty && perProject.forall(_ <= 1), perProject)
  }

  test("jpeg SOF walker: segment skip, decoys, standalone markers, corruption") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def jpg(hex: String): Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // APP0 whose payload contains a decoy FFC0; real SOF0 320x240 after it
    val sofHex = "FFC0001108" + "00F0" + "0140" + "03" + "011100021101031101"
    val good = jpg("FFD8" + "FFE00006FFC0AABB" + sofHex + "FFD9")
    // RSTn standalone marker (no length) between segments must be stepped over
    val withRst = jpg("FFD8" + "FFD0" + sofHex + "FFD9")
    // SOS before any SOF: dims unavailable
    val sosFirst = jpg("FFD8" + "FFDA0002" + sofHex)
    // truncated mid-segment
    val trunc = jpg("FFD8" + "FFE00010AABB")
    val notJpeg = jpg("89504E47")
    // fill bytes running into the tail: the padding run consumes the
    // bounds headroom and the length read would go past the array
    val fillTail = jpg("FFD8" + "FFFFFFE0")
    val rows = Seq((1L, good), (2L, withRst), (3L, sosFirst), (4L, trunc),
        (5L, notJpeg), (6L, fillTail))
      .toDF("id", "content")
      .select(col("id"), Multimodal.jpegDims(col("content")).as("d"))
      .orderBy("id").collect()
    assert(rows(0).getStruct(1).getInt(0) == 320)
    assert(rows(0).getStruct(1).getInt(1) == 240)
    assert(rows(1).getStruct(1).getInt(0) == 320)
    assert(rows(2).isNullAt(1))
    assert(rows(3).isNullAt(1))
    assert(rows(4).isNullAt(1))
    assert(rows(5).isNullAt(1))
  }

  test("frame sampling emits k deterministic offsets per video item") {
    val items = Multimodal.fromDocuments(spark, sfDir)
    val frames = Multimodal.sampleFrames(items, 4)
    val nVideos = items.filter(_.media_type == "video").count()
    assert(frames.count() == nVideos * 4)
    import org.apache.spark.sql.functions._
    val bad = frames.groupBy("media_id")
      .agg(countDistinct("frame_idx").as("n"))
      .filter(col("n") =!= 4).count()
    assert(bad == 0)
  }

  test("TIFF IFD walker: dual endian, inline value rule, extra tags, truncation") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    def dims(hexStr: String) = {
      val df = spark.sql(s"SELECT unhex('$hexStr') AS b")
      val r = df.select(Multimodal.tiffDims(col("b")).as("t"))
        .select("t.width", "t.height", "t.bigendian").collect()(0)
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    // LE, LONG-typed 640x480
    val le = "49492A00" + "08000000" + "0200" +
      "0001" + "0400" + "01000000" + "80020000" +
      "0101" + "0400" + "01000000" + "E0010000" + "00000000"
    assert(dims(le) == Some((640L, 480L, 0L)))
    // BE, SHORT-typed 17x9 — left-justified inline u16 values
    val be = "4D4D002A" + "00000008" + "0002" +
      "0100" + "0003" + "00000001" + "00110000" +
      "0101" + "0003" + "00000001" + "00090000" + "00000000"
    assert(dims(be) == Some((17L, 9L, 1L)))
    // extra unknown tag (315 Artist, skipped) before the dimension tags
    val extra = "49492A00" + "08000000" + "0300" +
      "3B01" + "0200" + "04000000" + "61626300" +
      "0001" + "0300" + "01000000" + "0500" + "0000" +
      "0101" + "0300" + "01000000" + "0700" + "0000" + "00000000"
    assert(dims(extra) == Some((5L, 7L, 0L)))
    // corrupt magic, wrong 42, truncated IFD, missing height tag -> null
    assert(dims("58582A00" + "08000000" + "0000") == None)
    assert(dims("49492B00" + "08000000" + "0000") == None)
    assert(dims("49492A00" + "08000000" + "0500" + "0001") == None)
    val noH = "49492A00" + "08000000" + "0100" +
      "0001" + "0400" + "01000000" + "80020000" + "00000000"
    assert(dims(noH) == None)
    // non-inline dimension (count != 1) is corrupt, not a guess
    val badCount = "49492A00" + "08000000" + "0200" +
      "0001" + "0400" + "02000000" + "80020000" +
      "0101" + "0400" + "01000000" + "E0010000" + "00000000"
    assert(dims(badCount) == None)
  }
}
