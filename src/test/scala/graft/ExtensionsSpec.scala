package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the custom expressions must be reachable from pure
  * SQL, matching the Column-API results; KafkaSource.options must build
  * the live-source config the runStream contract expects. The shared test
  * session predates the extensions, so registration goes through the same
  * injectFunction entries via GraftBridge (builder().withExtensions is
  * the production path — same tuples either way). */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    org.apache.spark.sql.GraftBridge.applyFunctionExtensions(s, new GraftExtensions)
    s
  }

  test("vec_dot / vec_cosine are callable from SQL and match the Column API") {
    val row = spark.sql(
      """SELECT vec_dot(a, b) AS d, vec_cosine(a, b) AS c FROM (
        |  SELECT array(1.0d, 2.0d, 3.0d) AS a, array(4.0d, 5.0d, 6.0d) AS b)""".stripMargin)
      .head()
    assert(row.getDouble(0) == (4.0 + 10.0 + 18.0))
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(row.getDouble(1) == expected)
  }

  test("confluent_avro is callable from SQL with a literal schema") {
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"x","type":"long"}]}"""
    // Avro long 7 zig-zags to 0x0e; prepend the 5-byte Confluent header
    // (magic 0x00 + schema id 0x00000001).
    val df = spark.sql(
      s"""SELECT confluent_avro(X'00000000010e', '$schema').x AS x""")
    assert(df.head().getLong(0) == 7L)
  }

  test("nfc_normalize is callable from SQL and folds decomposed input") {
    // 'e' + combining acute (U+0301) must compose to U+00E9
    val row = spark.sql(
      "SELECT nfc_normalize('e' || '\u0301') AS n, length(nfc_normalize('e' || '\u0301')) AS l")
      .head()
    assert(row.getString(0) == "\u00e9")
    assert(row.getInt(1) == 1)
  }

  test("try_confluent_avro maps corrupt records to NULL; strict mode fails") {
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"x","type":"string"}]}"""
    // body claims a 100-byte string (varint 0xc8 0x01) but provides none
    val corrupt = "X'0000000001c801'"
    val out = spark.sql(
      s"SELECT try_confluent_avro($corrupt, '$schema') AS r").head()
    assert(out.isNullAt(0))
    intercept[Exception] {
      spark.sql(s"SELECT confluent_avro($corrupt, '$schema') AS r").head()
    }
    // and a valid record still decodes in permissive mode ("hi" = 0x04 6869)
    val ok = spark.sql(
      s"SELECT try_confluent_avro(X'0000000001046869', '$schema').x AS x").head()
    assert(ok.getString(0) == "hi")

    // A literal input folds the decode at optimization. Read from
    // `range(1)`, the same cases run in a task: under whole-stage codegen,
    // in a generated per-operator projection, and interpreted.
    def decode(fn: String, hex: String): org.apache.spark.sql.Row = spark.sql(
      s"SELECT $fn(CASE WHEN id = 0 THEN X'$hex' END, '$schema') AS r FROM range(1)")
      .head()
    for (confs <- Seq(Nil, Seq("spark.sql.codegen.wholeStage" -> "false"),
        Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        assert(decode("try_confluent_avro", "0000000001c801").isNullAt(0), confs)
        intercept[Exception](decode("confluent_avro", "0000000001c801"))
        Seq("try_confluent_avro", "confluent_avro").foreach { fn =>
          assert(decode(fn, "0000000001046869").getStruct(0).getString(0) == "hi",
            s"$fn $confs")
        }
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("text expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  md5_shingles(array('a','b','c','b'), 2) AS sh,
        |  char_grams_md5('abcd', 3) AS cg,
        |  simhash_bits(array('a','b'), 16) AS sv,
        |  sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS ic,
        |  sliding_mins(array('c','a','b','d'), 2) AS sm
        |""".stripMargin).head()
    assert(r.getSeq[String](0).length == 3)   // "a b","b c","c b"
    assert(r.getSeq[String](1).length == 2)   // "abc","bcd"
    assert(r.getLong(3) == 2L)
    assert(r.getSeq[String](4) == Seq("a", "a", "b"))
    // simhash value matches the Column API
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split}
    val viaColumn = Seq("a b").toDF("text")
      .select(graft.functions.TextFunctions.simhashOf(split(col("text"), " "), 16))
      .head().getLong(0)
    assert(r.getLong(2) == viaColumn)
    // winnowed_token_fingerprints from SQL ≡ Column API, and a corpus
    // of k+w-1 equal tokens on both sides shares a fingerprint
    val wtf = spark.sql(
      """SELECT winnowed_token_fingerprints(
        |  array('a','b','c','d','e','f'), 3, 2) AS f""".stripMargin)
      .head().getSeq[Long](0)
    val viaCol = Seq(Seq("a", "b", "c", "d", "e", "f")).toDF("ts")
      .select(graft.functions.TextFunctions
        .winnowedTokenFingerprints(col("ts"), 3, 2))
      .head().getSeq[Long](0)
    assert(wtf == viaCol && wtf.nonEmpty, s"$wtf vs $viaCol")
    // jpeg_sof_dims from SQL: minimal SOI + SOF0 stream parses 2x1
    val j = spark.sql(
      """SELECT jpeg_sof_dims(
        |  unhex('FFD8FFC0000908000100020111FFD9')) AS d""".stripMargin).head()
    assert(j.getStruct(0).getInt(0) == 2, j.toString)
    assert(j.getStruct(0).getInt(1) == 1, j.toString)
  }

  test("KafkaSource.options builds the live-source contract") {
    val o = graft.sources.KafkaSource.options("b1:9092,b2:9092", "t",
      extra = Map("kafka.security.protocol" -> "SASL_SSL"))
    assert(o("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(o("subscribe") == "t")
    assert(o("startingOffsets") == "earliest")
    assert(o("failOnDataLoss") == "true")
    assert(o("maxOffsetsPerTrigger") == "100000")
    assert(o("kafka.security.protocol") == "SASL_SSL")
  }

  test("pos_char_grams is callable as a SQL generator (LATERAL VIEW)") {
    import spark.implicits._
    Seq(("d1", "abcd")).toDF("id", "text").createOrReplaceTempView("pcg_in")
    val rows = spark.sql(
      "SELECT id, pos, gram FROM pcg_in LATERAL VIEW pos_char_grams(text, 2) t AS pos, gram")
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((1, "ab"), (2, "bc"), (3, "cd")))
  }

  test("jaro_winkler and tiff_dims are callable from SQL") {
    val r = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw, " +
        s"tiff_dims(unhex('49492A000800000002000001040001000000800200000101040001000000E001000000000000')).width AS w")
      .collect()(0)
    assert(r.getDouble(0) == 0.9611111111111111)
    assert(r.getLong(1) == 640L)
  }

  test("hilbert_xy and zip_info are callable from SQL") {
    // hilbert order-2: s=2 quadrant (rx=0,ry=1) adds 4, no rotation;
    // s=1 cell (rx=1,ry=0) adds 3 -> (1,2) sits at curve position 7
    // zip blob: one 46+2-byte central-dir record ("F0", comp=7) + EOCD
    val cd = "504B0102" + "1400" + "1400" + "0000" + "0800" +
      "0000" + "0000" + "00000000" +      // time, date, crc
      "07000000" + "07000000" +           // comp, uncomp (LE)
      "0200" + "0000" + "0000" +          // nlen=2, elen, clen
      "0000" + "0000" + "00000000" +      // disk, iattr, eattr
      "00000000" + "4630"                 // offset, name "F0"
    val eocd = "504B0506" + "0000" + "0000" + "0100" + "0100" +
      "30000000" + "00000000" + "0000"    // cdsize=0x30, cdoff=0, clen=0
    // one 417-byte CBR frame: 128 kbps (idx 9) @ 44100, no padding
    val mp3 = "FFFB9000" + "00" * 413
    val r = spark.sql(
      s"SELECT hilbert_xy(1L, 2L, 2) AS h, " +
        s"zip_info(unhex('$cd$eocd')).n_entries AS n, " +
        s"zip_info(unhex('$cd$eocd')).comp_bytes AS c, " +
        s"mp3_info(unhex('$mp3')).bitrate_kbps AS kbps")
      .collect()(0)
    assert(r.getLong(0) == 7L, s"hilbert_xy(1,2,2) = ${r.getLong(0)}")
    assert(r.getLong(1) == 1L)
    assert(r.getLong(2) == 7L)
    assert(r.getLong(3) == 128L)
  }

  test("FunctionCatalog: bits_jaccard resolves, magic invoke is codegen'd") {
    spark.conf.set("spark.sql.catalog.graftfns",
      "graft.functions.GraftFunctionCatalog")
    // 12=1100b, 10=1010b: and=1000b (1 bit), or=1110b (3 bits) → 1/3
    val v = spark.sql("SELECT graftfns.fns.bits_jaccard(12L, 10L) AS j")
      .collect()(0).getDouble(0)
    assert(math.abs(v - 1.0 / 3.0) < 1e-15, v.toString)
    // the MAGIC method path: the plan must call invoke() directly inside
    // WholeStageCodegen, never the produceResult row-boxing fallback
    val p = spark.sql(
      "SELECT graftfns.fns.bits_jaccard(id, id * 3) AS j FROM range(10)")
      .queryExecution.executedPlan.toString
    assert(p.contains(".invoke("), p)
    assert(p.contains("*(1) Project"), p)
    // discoverable in its namespace
    val fns = spark.sql("SHOW FUNCTIONS IN graftfns.fns")
      .collect().map(_.getString(0))
    assert(fns.contains("graftfns.fns.bits_jaccard"),
      fns.filterNot(_.length <= 3).mkString(","))
    // the aggregate twin distributes AND its sum matches the exact form
    val r = spark.sql(
      """SELECT graftfns.fns.sumsq_cents(CAST(id AS DOUBLE) / 100) AS ssq
        |FROM range(1000)""".stripMargin).collect()(0).getLong(0)
    assert(r == (0L until 1000L).map(i => i * i).sum, r.toString)
    // bad bindings fail at ANALYSIS with the bind message, not at runtime
    val err = intercept[Exception] {
      spark.sql("SELECT graftfns.fns.bits_jaccard('a', 'b')").collect()
    }
    assert(err.getMessage.contains("bits_jaccard takes (BIGINT, BIGINT)"),
      err.getMessage.take(200))
    val err2 = intercept[Exception] {
      spark.sql("SELECT graftfns.fns.no_such_fn(1)").collect()
    }
    assert(err2.getMessage.toLowerCase.contains("no_such_fn"),
      err2.getMessage.take(200))
  }
}
