package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.ConfluentAvro.confluent_avro
import graft.ingest.{Decoders, SchemaProvider}
import graft.io.{LocalFs, ParquetFileSink}

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Result of one micro-batch write — the reference's v2 response body
  * (lambda_function_with_AWS_datawrangler.py:218-224). `path` is empty
  * when the batch had no rows and no file was written. */
final case class BatchResult(path: String, totalRecords: Long, distinctRecords: Long)

/** The reference pipeline re-expressed Spark-first (SURVEY.md §2.10):
  * Kafka record frame → key cascade + Confluent-Avro decode → struct
  * projection in writer-schema field order → whole-batch counts →
  * time-partitioned parquet with the count-bearing filename contract.
  *
  * Two write shapes:
  *  - `writeBatch`: one file per micro-batch, epoch-stamped, counts in the
  *    filename — byte-faithful to lambda_function.py:56-116 /
  *    lambda_function_with_AWS_datawrangler.py:63-90. Used by foreachBatch.
  *    Written through [[graft.io.ParquetFileSink]], Spark's parquet writer
  *    without the Hadoop conf Spark's file writer ships with each task.
  *  - `writePartitionedLake`: `partitionBy(year,month,day,hour)` with no
  *    coalesce — the 100 TB shape (per-executor parallel writes, partition
  *    pruning on read). The filename contract is a single-file notion and
  *    intentionally does not scale; both are exposed.
  */
object KafkaToParquet {

  /** F2+F3/F4+P1–P3: decode a Kafka record frame (key/value binary + topic
    * metadata) into the typed CDC row frame. Field order = writer schema
    * order (the reference's first-record field order,
    * lambda_function.py:215-219). */
  def decodeRecords(records: DataFrame, topic: String,
      schemas: SchemaProvider): DataFrame = {
    val schemaJson = schemas.valueSchema(topic)
    // The decoded frame carries exactly the value-record fields — the
    // reference's output parquet has no key column (the key cascade is a
    // separate read path, exposed as Decoders.decodeKey / ingest_key_decode).
    records
      .withColumn("r", confluent_avro(col("value"), schemaJson))
      .select(col("r.*"))
  }

  private val epochFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd/HH")

  /** K1–K3 + F6/F7 + A1/A2: a single parquet file at
    * {base}/{topic}/yyyy/MM/dd[/HH]/{topic}_{epochSeconds}[_{total}_{distinct}].parquet.
    * The counts are observed on the write itself (one Spark job) and name
    * the file at the rename after it. An empty batch writes no file.
    * The write goes through [[graft.io.ParquetFileSink]]: its one task
    * gets a few string keys instead of two serialized copies of the
    * session's ~1,100-key Hadoop conf, and writes with `file:` bound to
    * [[graft.io.LocalFs]] (without libhadoop, Hadoop's own local FS forks a
    * `chmod` per create and mkdir, 9 per batch).
    */
  def writeBatch(
      decoded: DataFrame,
      topic: String,
      baseDir: String,
      distinctKeyCol: String,
      now: Instant = Instant.now(),
      hourly: Boolean = true,
      countsInName: Boolean = true): BatchResult = {
    val datePart = epochFmt.format(now.atZone(ZoneOffset.UTC))
    val dir = s"$baseDir/$topic/" + (if (hourly) datePart else datePart.take(10))

    // One file per batch (reference: one parquet per invocation): write to
    // this call's own staging dir, then rename its part file to the contract
    // name via the Hadoop FS API (s3a:// too). collect_set is exact and
    // null-blind like count_distinct, and needs no exact-agg fallback: its
    // keys sit in the one task coalesce(1) already uses, and the reference
    // caps a batch at 10k records (SAM template).
    val staging = new Path(s"$dir/.staging_${java.util.UUID.randomUUID()}")
    val counts = Observation()
    ParquetFileSink.append(decoded.observe(counts, count(lit(1)).as("total"),
        size(collect_set(col(distinctKeyCol))).as("distinct")).coalesce(1),
      staging.toString)
    val observed = counts.get
    val (total, distinct) = (observed("total").asInstanceOf[Long],
      observed("distinct").asInstanceOf[Int].toLong)
    val epoch = now.getEpochSecond + now.getNano / 1e9
    val counted = if (countsInName) s"_${total}_$distinct" else ""
    val target = new Path(f"$dir/${topic}_$epoch%.6f$counted.parquet")
    val fs = staging.getFileSystem(decoded.sparkSession.sparkContext.hadoopConfiguration)
    if (total > 0) {
      val part = fs.listStatus(staging)
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $staging"))
      // A false rename (target exists, FS error) must fail the batch so the
      // checkpointed stream retries it — silently deleting staging would
      // lose the file while reporting success (at-least-once contract).
      if (!fs.rename(part, target))
        throw new java.io.IOException(s"rename $part -> $target failed")
    }
    fs.delete(staging, true)
    BatchResult(if (total > 0) target.toString else "", total, distinct)
  }

  /** The scale path: event-time (or processing-time) partitioned lake
    * layout, parallel writers, prunable on read. */
  def writePartitionedLake(decoded: DataFrame, baseDir: String, topic: String,
      eventTime: org.apache.spark.sql.Column): Unit = {
    val parts = Decoders.partitionParts(eventTime)
    decoded
      .withColumns(parts.toMap)
      .write.options(LocalFs.writeOptions).mode("append")
      .partitionBy("year", "month", "day", "hour")
      .parquet(s"$baseDir/$topic")
  }

  /** The one streaming scaffold: a checkpointed `foreachBatch` stream
    * that decodes each micro-batch, empty ones too (neither sink writes a
    * data file for them), and hands it to `sink`. Checkpointed offsets give
    * the reference's at-least-once retry semantics (SURVEY.md §2.6).
    *
    * Before `start()` it binds `file:` to [[graft.io.LocalFs]] in the
    * records' session (`LocalFs.bind`), whose Hadoop conf the stream's
    * offset, commit and metadata logs capture at start. Without
    * libhadoop, Hadoop's own local FS forks a `chmod` per create and a
    * `readlink` per link probe: 10 processes per log write. */
  private def runDecoded(
      records: DataFrame,
      topic: String,
      schemas: SchemaProvider,
      checkpointDir: String,
      trigger: Trigger)(sink: DataFrame => Unit): StreamingQuery = {
    LocalFs.bind(records.sparkSession)
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(decodeRecords(batch, topic, schemas))
      }
      .start()
  }

  /** Streaming wrapper: any streaming record frame (Kafka source or test
    * MemoryStream with the same columns) → micro-batch decode + the exact
    * per-batch write contract (`writeBatch`). Checkpoint logs and batch
    * writes go through [[graft.io.LocalFs]] on `file:`, so a batch starts
    * no process (Hadoop's local FS forks 29 per batch without libhadoop). */
  def runStream(
      records: DataFrame,
      topic: String,
      schemas: SchemaProvider,
      baseDir: String,
      checkpointDir: String,
      distinctKeyCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runDecoded(records, topic, schemas, checkpointDir, trigger) {
      writeBatch(_, topic, baseDir, distinctKeyCol)
    }

  /** The scale-path streaming sink: micro-batches append to the
    * partitioned lake layout (`writePartitionedLake` — parallel writers,
    * prunable partitions) instead of the one-file-per-batch contract.
    * `eventTime` derives the partition columns from each decoded row
    * (pass `current_timestamp()` for the reference's processing-time
    * layout). Checkpointing makes delivery at-least-once; the append is
    * idempotent per partition dir under reprocessing only if downstream
    * compaction/dedup handles replays — same contract as the reference. */
  def runStreamToLake(
      records: DataFrame,
      topic: String,
      schemas: SchemaProvider,
      baseDir: String,
      checkpointDir: String,
      eventTime: org.apache.spark.sql.Column,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runDecoded(records, topic, schemas, checkpointDir, trigger) {
      writePartitionedLake(_, baseDir, topic, eventTime)
    }
}
