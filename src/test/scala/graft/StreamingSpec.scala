package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Envelope, RatecardSchema}
import graft.pipeline.KafkaToParquet

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Structured Streaming wrapper over the same pipeline: micro-batches from a
  * MemoryStream with the Kafka-source column shape, foreachBatch applying
  * the per-batch write contract (SURVEY.md §2.6: Lambda batch ≡ micro-batch;
  * checkpointing ⇒ the reference's at-least-once retry semantics). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  case class KRec(topic: String, partition: Int, offset: Long,
      timestamp: java.sql.Timestamp, timestampType: String,
      key: Array[Byte], value: Array[Byte])

  test("streaming micro-batch lands a count-bearing parquet file per batch") {
    assume(Files.exists(java.nio.file.Paths.get(
      "/root/reference/sample_kafka_event.json")))
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val sample = Envelope
      .readEventJson(spark, "/root/reference/sample_kafka_event.json")
      .collect()
      .map(r => KRec(r.getString(0), r.getInt(1), r.getLong(2),
        r.getTimestamp(3), r.getString(4),
        r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6)))

    val stream = MemoryStream[KRec]
    val out = Files.createTempDirectory("graft_stream").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    stream.addData(sample.take(10).toSeq)
    val q = KafkaToParquet.runStream(
      stream.toDF(), RatecardSchema.topic, RatecardSchema.provider,
      out, ckpt, "SRC_KEY_VAL",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      stream.addData(sample.drop(10).toSeq)   // second micro-batch
      q.processAllAvailable()
    } finally q.stop()

    val files = {
      val dir = new java.io.File(out)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).filter(_.getName.endsWith(".parquet"))
    }
    assert(files.size == 2, s"expected 2 batch files, got $files")
    assert(files.exists(_.getName.matches(
      raw"lndcdcadsrtcrd_ratecard_\d+\.\d{6}_10_10\.parquet")))
    assert(files.exists(_.getName.matches(
      raw"lndcdcadsrtcrd_ratecard_\d+\.\d{6}_6_6\.parquet")))
    val back = spark.read.parquet(files.map(_.getPath): _*)
    assert(back.count() == 16)
  }

  test("restart from checkpoint does not reprocess delivered batches") {
    // generated records on any host; the reference fixture where it exists
    val tiny = new graft.ingest.FixtureSchemaProvider(Map("tiny" -> TinySchema))
    restartLandsOnce("tiny", tiny, tinyRecs("tiny", 6), tinyRecs("tiny", 4),
      raw"tiny_\d+\.\d{6}_4_3\.parquet")
    val haveFixture = (Files.exists(java.nio.file.Paths.get(
      "/root/reference/sample_kafka_event.json")))
    lazy val sample = Envelope
      .readEventJson(spark, "/root/reference/sample_kafka_event.json")
      .collect()
      .map(r => KRec(r.getString(0), r.getInt(1), r.getLong(2),
        r.getTimestamp(3), r.getString(4),
        r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6)))
    if (haveFixture) restartLandsOnce(RatecardSchema.topic, RatecardSchema.provider,
      sample.take(10).toSeq, sample.drop(10).toSeq,
      raw"lndcdcadsrtcrd_ratecard_\d+\.\d{6}_6_6\.parquet")
  }

  /** Lands `first` through `runStream`, restarts against the same checkpoint
    * and source state, and checks that the restart reads back the committed
    * offsets: no second file for `first`, and `next` lands as batch 1 in a
    * file whose name matches `nextName`. */
  private def restartLandsOnce(topic: String, schemas: graft.ingest.SchemaProvider,
      first: Seq[KRec], next: Seq[KRec], nextName: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[KRec]
    val out = Files.createTempDirectory("graft_restart").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    def files() = walk(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.getPath).toMap
    def run() = KafkaToParquet.runStream(stream.toDF(), topic, schemas, out, ckpt,
      "SRC_KEY_VAL", trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))

    stream.addData(first)
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    val landed = files()
    assert(landed.size == 1, landed)

    // restart against the SAME checkpoint and source state: the committed
    // offsets must prevent reprocessing (no second file, no double rows)
    val q2 = run()
    try {
      q2.processAllAvailable()
      assert(files() == landed, "restart must not re-land the delivered batch")
      stream.addData(next)
      q2.processAllAvailable()
      assert(q2.lastProgress.batchId == 1 && q2.lastProgress.numInputRows == next.size)
    } finally q2.stop()
    val added = files() -- landed.keys
    assert(added.size == 1 && added.head._1.matches(nextName), added)
    assert(spark.read.parquet(files().values.toSeq: _*).count() == first.size + next.size)
  }

  test("streaming lake sink appends the partitioned layout with partition pruning") {
    assume(Files.exists(java.nio.file.Paths.get(
      "/root/reference/sample_kafka_event.json")))
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._

    val sample = Envelope
      .readEventJson(spark, "/root/reference/sample_kafka_event.json")
      .collect()
      .map(r => KRec(r.getString(0), r.getInt(1), r.getLong(2),
        r.getTimestamp(3), r.getString(4),
        r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6)))

    val stream = MemoryStream[KRec]
    val out = Files.createTempDirectory("graft_lake").toString
    val ckpt = Files.createTempDirectory("graft_lake_ckpt").toString

    stream.addData(sample.toSeq)
    val q = KafkaToParquet.runStreamToLake(
      stream.toDF(), RatecardSchema.topic, RatecardSchema.provider,
      out, ckpt,
      // event time from the decoded CDC commit timestamp
      to_timestamp(col("SRC_COMMIT_DT_UTC")),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try q.processAllAvailable() finally q.stop()

    // the commit dates in the fixture are 2021-07-02 04:00 → one partition
    val part = new java.io.File(
      s"$out/${RatecardSchema.topic}/year=2021/month=07/day=02/hour=04")
    assert(part.isDirectory, s"missing partition dir $part")
    val back = spark.read.parquet(s"$out/${RatecardSchema.topic}")
    assert(back.count() == 16)
    // pruning: reading one partition touches only that directory
    val pruned = back.filter(col("year") === "2021" && col("month") === "07")
    assert(pruned.count() == 16)
  }

  /** A two-field writer schema, so the stream runners can be driven on a
    * host without the reference fixture. */
  private val TinySchema =
    """{"type":"record","name":"Tiny","fields":[
      |{"name":"SRC_KEY_VAL","type":"string"},
      |{"name":"SRC_COMMIT_DT_UTC","type":"string"}]}""".stripMargin

  /** `n` Confluent-wire records (magic 0x00 + 4-byte schema id + Avro
    * body) of [[TinySchema]] over 3 distinct keys. */
  private def tinyRecs(topic: String, n: Int): Seq[KRec] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new org.apache.avro.Schema.Parser().parse(TinySchema)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    (0 until n).map { i =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0, 0, 0, 0, 1))
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
      val r = new GenericData.Record(schema)
      r.put("SRC_KEY_VAL", s"k${i % 3}")
      r.put("SRC_COMMIT_DT_UTC", "2021-07-02 04:15:00")
      writer.write(r, enc)
      enc.flush()
      KRec(topic, 0, i.toLong, new java.sql.Timestamp(0L), "CreateTime",
        s"k${i % 3}".getBytes("UTF-8"), out.toByteArray)
    }
  }

  /** Runs `body` against `runStream` and `runStreamToLake`, each over its
    * own MemoryStream of [[TinySchema]] records under topic `tiny`, with
    * their output dirs; `feed` adds one batch to both, waits until both
    * processed it and returns both queries' last progress. */
  private def withTinyRunners(body: (Seq[KRec] => Seq[StreamingQueryProgress],
      String, String) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val topic = "tiny"
    val schemas = new graft.ingest.FixtureSchemaProvider(Map(topic -> TinySchema))
    val trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
    val (fileIn, lakeIn) = (MemoryStream[KRec], MemoryStream[KRec])
    val out = Files.createTempDirectory("graft_tiny").toString
    val lake = Files.createTempDirectory("graft_tiny_lake").toString
    val q1 = KafkaToParquet.runStream(fileIn.toDF(), topic, schemas, out,
      Files.createTempDirectory("graft_tiny_ckpt").toString, "SRC_KEY_VAL",
      trigger)
    val q2 = KafkaToParquet.runStreamToLake(lakeIn.toDF(), topic, schemas,
      lake, Files.createTempDirectory("graft_tiny_lake_ckpt").toString,
      to_timestamp(col("SRC_COMMIT_DT_UTC")), trigger)
    def feed(recs: Seq[KRec]) = {
      fileIn.addData(recs); lakeIn.addData(recs)
      q1.processAllAvailable(); q2.processAllAvailable()
      Seq(q1.lastProgress, q2.lastProgress)
    }
    try body(feed, out, lake) finally { q1.stop(); q2.stop() }
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(c => c +: walk(c)) else Nil

  test("runStream and runStreamToLake land fixture-free Confluent records") {
    withTinyRunners { (feed, out, lake) =>
      feed(tinyRecs("tiny", 6))
      val files = walk(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
      assert(files.size == 1, s"expected 1 batch file, got $files")
      assert(files.head.getName.matches(raw"tiny_\d+\.\d{6}_6_3\.parquet"),
        files.head.getName)
      assert(spark.read.parquet(files.head.getPath).count() == 6)
      assert(new java.io.File(
        s"$lake/tiny/year=2021/month=07/day=02/hour=04").isDirectory)
      assert(spark.read.parquet(s"$lake/tiny").count() == 6)
    }
  }

  test("an empty micro-batch writes no file and leaves no staging on either runner") {
    withTinyRunners { (feed, out, lake) =>
      def parquet(dir: String) = walk(new java.io.File(dir))
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
      def staging = walk(new java.io.File(out)).filter(_.getName.startsWith(".staging_"))
      feed(tinyRecs("tiny", 6))
      val (files1, lake1) = (parquet(out), parquet(lake))
      assert(files1.size == 1 && lake1.nonEmpty)
      // the empty batch runs through both sinks
      assert(feed(Seq.empty).forall(p => p.batchId == 1 && p.numInputRows == 0))
      assert(parquet(out) == files1 && parquet(lake) == lake1)
      assert(staging.isEmpty, staging)
      feed(tinyRecs("tiny", 4))
      val landed = parquet(out) -- files1
      assert(landed.size == 1 && landed.head.endsWith("_4_3.parquet"), landed)
      assert(staging.isEmpty, staging)
      assert(spark.read.parquet(s"$lake/tiny").count() == 10)
    }
  }

  /** DSv2 MicroBatchStream progress pin (VERDICT r11 #3): the gendocs
    * streaming read must pace micro-batches by the admission-control cap
    * — exact batch count, exact per-batch numInputRows, offsets in the
    * checkpoint's offset log as plain id positions. */
  test("gendocs MicroBatchStream paces batches by batchRows with id-position offsets") {
    val root = Files.createTempDirectory("graft_gen_mbs").toString
    val q = spark.readStream.format("graft.sources.GenDocs")
      .option("rows", "10000").option("batchRows", "3000")
      .option("slices", "4").load()
      .writeStream.format("memory").queryName("gen_mbs_pin")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("gen_mbs_pin").count() == 10000L)
    // offset log: one file per batch, each holding the END id position
    val offDir = new java.io.File(s"$root/ckpt/offsets")
    val ends = offDir.listFiles().filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toInt)
      .map(f => {
        val lines = java.nio.file.Files.readAllLines(f.toPath)
        lines.get(lines.size - 1).trim.toLong
      }).toSeq
    assert(ends == Seq(3000L, 6000L, 9000L, 10000L), ends.toString)
  }

  /** Offset-resumption edge cases: a cap larger than the source (one
    * batch), and a restart against a SHRUNK source (committed offset
    * beyond the new end) — the stream must emit nothing new and
    * terminate, never regress the offset or crash. */
  test("gendocs stream: batchRows > rows is one batch; shrunk-source restart is a no-op") {
    val root = Files.createTempDirectory("graft_gen_edge").toString
    // memory sinks refuse checkpoint recovery; the file sink (its commit
    // log dedups batches) is the restartable shape — same as q455
    def run(rows: Long): Unit = {
      val q = spark.readStream.format("graft.sources.GenDocs")
        .option("rows", rows.toString).option("batchRows", "50000")
        .load().select(org.apache.spark.sql.functions.col("id"))
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    run(8000L) // cap 50000 > rows: exactly one batch
    assert(spark.read.parquet(s"$root/sink").count() == 8000L)
    val offDir = new java.io.File(s"$root/ckpt/offsets")
    assert(offDir.listFiles().count(_.getName.forall(_.isDigit)) == 1)
    // restart with rows SHRUNK below the committed offset (8000 -> 5000):
    // latestOffset must clamp at the committed position, not rewind
    run(5000L)
    assert(spark.read.parquet(s"$root/sink").count() == 8000L,
      "shrunk-source restart must not re-emit or rewind")
  }

  test("gendocs stream: a zero batchRows cap terminates empty, never spins") {
    // latestOffset must clamp at max(start, start+0) = start → no new
    // batch → AvailableNow ends; an implementation that emitted empty
    // batches forever would hang this test
    val root = Files.createTempDirectory("graft_gen_zero").toString
    spark.catalog.dropTempView("gen_zero")
    val q = spark.readStream.format("graft.sources.GenDocs")
      .option("rows", "5000").option("batchRows", "0").load()
      .writeStream.format("memory").queryName("gen_zero")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.table("gen_zero").count() == 0L)
  }

  /** Multi-topic concurrency (the reference's 11-event-source-mapping
    * deployment shape; Bench measures it, this locks correctness):
    * N independent checkpointed streams through the full
    * decode+counts+write pipeline, driven from parallel threads, must
    * each land exactly their own records — no cross-topic bleed, no
    * lost batch under concurrent foreachBatch execution. */
  test("concurrent per-topic streams deliver exactly their own records") {
    assume(Files.exists(java.nio.file.Paths.get(
      "/root/reference/sample_kafka_event.json")))
    val r = graft.Bench.multiTopicThroughput(spark,
      nTopics = 3, perBatch = 500, nBatches = 2)
    assert(r.isDefined, "multi-topic replay reported a failure")
    val (_, total, n) = r.get
    assert(n == 3 && total == 3000L, r.toString)
  }

  test("StreamingWrite epoch commits: retry is idempotent, abort leaves no trace") {
    // the q462 contract, pinned at the protocol level (VERDICT r12 #2):
    // Spark re-runs a failed micro-batch under the SAME epochId from the
    // checkpoint, so a sink whose ledger ACCUMULATED on commit would
    // double-count every retried epoch — replace-semantics is what makes
    // the at-least-once retry loop exactly-once in the ledger.
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val runId = "spec_epoch_protocol"
    graft.sources.CountingSink.clearRun(runId)
    val sw = new graft.sources.CountingStreamingWrite(runId, 0)
    val factory = sw.createStreamingWriterFactory(null)
    def epochMsgs(epoch: Long, ids: Seq[Long]) = {
      val w = factory.createWriter(0, 0L, epoch)
      ids.foreach(i => w.write(new GenericInternalRow(Array[Any](i))))
      Array(w.commit())
    }
    // epoch 0 commits, then the SAME epoch is re-committed (the retry
    // path — a task failure after a partial sink write)
    val m0 = epochMsgs(0L, Seq(1L, 2L, 3L))
    sw.commit(0L, m0)
    sw.commit(0L, epochMsgs(0L, Seq(1L, 2L, 3L))) // replayed epoch
    // epoch 1 ABORTS — uncommitted work must vanish entirely
    sw.abort(1L, epochMsgs(1L, Seq(100L)))
    // epoch 2 commits from two task writers — driver aggregates messages
    val w2a = factory.createWriter(0, 0L, 2L)
    w2a.write(new GenericInternalRow(Array[Any](10L)))
    val w2b = factory.createWriter(1, 1L, 2L)
    w2b.write(new GenericInternalRow(Array[Any](20L)))
    w2b.write(new GenericInternalRow(Array[Any](30L)))
    sw.commit(2L, Array(w2a.commit(), w2b.commit()))
    val ledger = graft.sources.CountingSink.epochResults(runId)
    assert(ledger == Map(0L -> ((3L, 6L)), 2L -> ((3L, 60L))),
      s"epoch ledger: $ledger")
  }

  test("catalog streams restore the session's width and provider and bind LocalFs") {
    val sf = "/root/testdata/sf0.001"
    assume(Files.isDirectory(java.nio.file.Paths.get(sf)))
    val widthKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val (width, provider) = (spark.conf.get(widthKey), spark.conf.getAll.get(providerKey))
    spark.conf.set(widthKey, "3")
    spark.conf.unset(providerKey)
    try {
      // the RocksDB pin, a width of 4, and two runs on one checkpoint
      import graft.queries.StreamQ._
      for (q <- Seq(q142_stream_tws_totals, q376_stream_late_data, q455_stream_resume_growth))
        assert(q.run(spark, sf).collect().nonEmpty, q.name)
      assert(spark.conf.get(widthKey) == "3")
      assert(spark.conf.getAll.get(providerKey).isEmpty,
        s"$providerKey left set to ${spark.conf.getAll.get(providerKey)}")
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
      assert(fc.getDefaultFileSystem.isInstanceOf[graft.io.LocalFs.Fs])
    } finally {
      spark.conf.set(widthKey, width)
      provider.foreach(spark.conf.set(providerKey, _))
    }
  }

  test("q376 holds no file descriptor open across runs") {
    val sf = "/root/testdata/sf0.001"
    val fds = java.nio.file.Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds) && Files.isDirectory(java.nio.file.Paths.get(sf)))
    def open(): Int = {
      System.gc()
      val ds = Files.list(fds)
      try ds.count().toInt finally ds.close()
    }
    def run() = graft.queries.StreamQ.q376_stream_late_data.run(spark, sf).collect()
    run() // the first run opens what the session keeps open
    val before = open()
    (1 to 5).foreach(_ => run())
    val after = open()
    info(s"open fds: $before before, $after after")
    assert(after - before <= 8, s"open fds went from $before to $after over 5 runs")
  }

  // (entry, temp-root prefix, answer rows, reads the sf tables): each
  // entry's answer is its lake table, so its checkpoint root goes
  for ((e, prefix, rows, readsTables) <- Seq(
      (graft.queries.StreamQ.q475_stream_file_upsert, "graft_fupsert_", 97, false),
      (graft.queries.StreamQ.q467_stream_upsert, "graft_upsert_", 97, false),
      (graft.queries.StreamQ.q483_stream_lake_source, "graft_lakesrc_", 3, true),
      (graft.queries.StreamQ.q487_stream_lake_starting_version, "graft_startv_",
        3, true))) {
    val short = e.name.takeWhile(_ != '_')
    test(s"$short leaves no checkpoint root behind") {
      val sf = "/root/testdata/sf0.001"
      assume(!readsTables || Files.isDirectory(java.nio.file.Paths.get(sf)))
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      def roots(): Set[String] = {
        val ds = Files.list(tmp)
        try ds.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(prefix)).toSet
        finally ds.close()
      }
      val before = roots()
      (1 to 2).foreach(_ =>
        assert(e.run(spark, if (readsTables) sf else "unused")
          .collect().length == rows))
      val added = roots() -- before
      assert(added.isEmpty, s"$short left ${added.mkString(", ")}")
    }
  }
}
