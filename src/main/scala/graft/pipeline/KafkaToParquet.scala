package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.ConfluentAvro.confluent_avro
import graft.ingest.{Decoders, SchemaProvider}

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Result of one micro-batch write — the reference's v2 response body
  * (lambda_function_with_AWS_datawrangler.py:218-224). */
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

  /** K1–K3 + F6/F7 + A1/A2: counts first (the filename needs them before
    * the write — SURVEY.md §7.4), then a single parquet file at
    * {base}/{topic}/yyyy/MM/dd[/HH]/{topic}_{epochSeconds}[_{total}_{distinct}].parquet.
    */
  def writeBatch(
      decoded: DataFrame,
      topic: String,
      baseDir: String,
      distinctKeyCol: String,
      now: Instant = Instant.now(),
      hourly: Boolean = true,
      countsInName: Boolean = true): BatchResult = {
    val cached = decoded.cache()
    try {
      val (total, distinct) = {
        val row = cached.agg(
          count(lit(1)),
          count_distinct(col(distinctKeyCol))).head()
        (row.getLong(0), row.getLong(1))
      }
      val utc = now.atZone(ZoneOffset.UTC)
      val datePart = epochFmt.format(utc)
      val dir =
        if (hourly) s"$baseDir/$topic/$datePart"
        else s"$baseDir/$topic/${datePart.substring(0, 10)}"
      val epoch = now.getEpochSecond + now.getNano / 1e9
      val fileName =
        if (countsInName) f"${topic}_$epoch%.6f_${total}_$distinct.parquet"
        else f"${topic}_$epoch%.6f.parquet"

      // One file per batch (reference: one parquet per invocation). Write to
      // a staging dir, then move the single part file to the contract name —
      // Hadoop FS API so the same code runs against s3a:// on a cluster.
      val staging = s"$dir/.staging_${now.toEpochMilli}"
      cached.coalesce(1).write.mode("overwrite").parquet(staging)
      val conf = cached.sparkSession.sparkContext.hadoopConfiguration
      val fs = FileSystem.get(new Path(staging).toUri, conf)
      val part = fs.listStatus(new Path(staging))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $staging"))
      val target = new Path(s"$dir/$fileName")
      // A false rename (target exists, FS error) must fail the batch so the
      // checkpointed stream retries it — silently deleting staging would
      // lose the file while reporting success (at-least-once contract).
      if (!fs.rename(part, target))
        throw new java.io.IOException(s"rename $part -> $target failed")
      fs.delete(new Path(staging), true)
      BatchResult(target.toString, total, distinct)
    } finally cached.unpersist()
  }

  /** The scale path: event-time (or processing-time) partitioned lake
    * layout, parallel writers, prunable on read. */
  def writePartitionedLake(decoded: DataFrame, baseDir: String, topic: String,
      eventTime: org.apache.spark.sql.Column): Unit = {
    val parts = Decoders.partitionParts(eventTime)
    decoded
      .withColumns(parts.toMap)
      .write.mode("append")
      .partitionBy("year", "month", "day", "hour")
      .parquet(s"$baseDir/$topic")
  }

  /** The one streaming scaffold: a checkpointed `foreachBatch` stream
    * that decodes each non-empty micro-batch and hands it to `sink`.
    * Checkpointed offsets give the reference's at-least-once retry
    * semantics (SURVEY.md §2.6). */
  private def runDecoded(
      records: DataFrame,
      topic: String,
      schemas: SchemaProvider,
      checkpointDir: String,
      trigger: Trigger)(sink: DataFrame => Unit): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) sink(decodeRecords(batch, topic, schemas))
      }
      .start()

  /** Streaming wrapper: any streaming record frame (Kafka source or test
    * MemoryStream with the same columns) → micro-batch decode + the exact
    * per-batch write contract (`writeBatch`). */
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
