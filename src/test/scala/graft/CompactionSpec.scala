package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Envelope, RatecardSchema}
import graft.pipeline.KafkaToParquet
import graft.operators.Compaction

import java.nio.file.Files
import java.time.Instant

/** Compaction over the micro-batch layout: many per-batch files in one
  * hour partition → one right-sized file, same rows. */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("compactPartition merges per-batch files losslessly") {
    assume(Files.exists(java.nio.file.Paths.get(
      "/root/reference/sample_kafka_event.json")))
    val out = Files.createTempDirectory("graft_compact").toString
    val recs = Envelope.readEventJson(
      spark, "/root/reference/sample_kafka_event.json")
    val decoded = KafkaToParquet.decodeRecords(
      recs, RatecardSchema.topic, RatecardSchema.provider)
    // five micro-batch writes into the same hour partition
    (0 until 5).foreach { i =>
      KafkaToParquet.writeBatch(decoded, RatecardSchema.topic, out,
        "SRC_KEY_VAL", Instant.parse(s"2021-09-02T18:00:0$i.000Z"))
    }
    val dir = s"$out/${RatecardSchema.topic}/2021/09/02/18"
    val (before, after) = Compaction.compactPartition(spark, dir)
    assert(before == 5 && after == 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == 80)          // 5 × 16 rows, nothing lost
    assert(back.columns.length == 19)
  }

  test("writeBatch throws when the contract filename already exists (no silent loss)") {
    // same instant → same contract filename → rename must fail loudly,
    // leaving the first file untouched
    def check(decoded: org.apache.spark.sql.DataFrame, topic: String, rows: Long): Unit = {
      val out = Files.createTempDirectory("graft_wb_dup").toString
      val at = Instant.parse("2021-09-02T18:00:00.000Z")
      val first = KafkaToParquet.writeBatch(decoded, topic, out, "SRC_KEY_VAL", at)
      intercept[java.io.IOException] {
        KafkaToParquet.writeBatch(decoded, topic, out, "SRC_KEY_VAL", at)
      }
      assert(spark.read.parquet(first.path).count() == rows)
    }
    val batch = IngestSpec.genBatch(spark, 40)
    check(batch, "gen", IngestSpec.sqlCounts(spark, batch)._1)
    val sample = "/root/reference/sample_kafka_event.json"
    if (Files.exists(java.nio.file.Paths.get(sample)))
      check(KafkaToParquet.decodeRecords(Envelope.readEventJson(spark, sample),
        RatecardSchema.topic, RatecardSchema.provider), RatecardSchema.topic, 16)
  }

  test("compactPartition refuses to run over a stale backup and keeps data intact") {
    assume(Files.exists(java.nio.file.Paths.get(
      "/root/reference/sample_kafka_event.json")))
    val out = Files.createTempDirectory("graft_compact_stale").toString
    val recs = Envelope.readEventJson(
      spark, "/root/reference/sample_kafka_event.json")
    val decoded = KafkaToParquet.decodeRecords(
      recs, RatecardSchema.topic, RatecardSchema.provider)
    KafkaToParquet.writeBatch(decoded, RatecardSchema.topic, out,
      "SRC_KEY_VAL", Instant.parse("2021-09-02T18:00:00.000Z"))
    val dir = s"$out/${RatecardSchema.topic}/2021/09/02/18"
    // simulate an interrupted earlier swap: the backup dir still exists
    Files.createDirectory(java.nio.file.Paths.get(
      s"$out/${RatecardSchema.topic}/2021/09/02/.old_18"))
    val e = intercept[java.io.IOException] {
      Compaction.compactPartition(spark, dir)
    }
    assert(e.getMessage.contains("stale backup"))
    // the partition was not touched
    assert(spark.read.parquet(dir).count() == 16)
  }
}
