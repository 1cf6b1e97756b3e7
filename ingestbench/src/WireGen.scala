package ingestbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory

import graft.ingest.RatecardSchema

/** One Kafka record as the Kafka source (and the pipeline) sees it. */
final case class KRec(topic: String, partition: Int, offset: Long,
    timestamp: java.sql.Timestamp, timestampType: String,
    key: Array[Byte], value: Array[Byte])

/** One micro-batch of input plus the counts its output file must carry.
  * `fields`, when kept, holds each record's value fields in writer-schema
  * order, so a decode can be compared field by field. */
final case class Batch(records: IndexedSeq[KRec], total: Long,
    distinct: Long, fields: IndexedSeq[IndexedSeq[Any]])

/** Deterministic Confluent-wire input for the ratecard topic: each value is
  * magic 0x00, the 4-byte big-endian schema id, then the Avro binary body
  * of a record built from `RatecardSchema.schemaJson`; each key is the
  * UTF-8 `SRC_KEY_VAL`. About half the records of a batch repeat a key seen
  * earlier in the same batch, as CDC updates do, so `distinct` is roughly
  * half of `total`; both are counted here, before any timing starts.
  * Batch `b` of a topic depends only on (seed, topic index, b). */
object WireGen {
  val SchemaId = 391
  val Partitions = 6
  private val BaseEpochMs = 1704067200000L // 2024-01-01T00:00:00Z
  private val Users = Array("etl_svc", "jdoe", "asmith", "rkumar", "mlopez")
  private val Words = Array("prime", "late", "news", "sports", "local",
    "national", "spot", "digital", "bundle", "premium", "daypart", "rate")

  lazy val schema: Schema = new Schema.Parser().parse(RatecardSchema.schemaJson)

  def batch(seed: Long, topic: String, topicIndex: Int, b: Int,
      size: Int, keepFields: Boolean = false): Batch = {
    val rng = new java.util.Random(
      seed * 0x9E3779B97F4A7C15L + topicIndex * 1000003L + b)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val out = new ByteArrayOutputStream(256)
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    val seen = new Array[Long](size)
    val keys = scala.collection.mutable.HashSet.empty[Long]
    val fields = new Array[IndexedSeq[Any]](size)
    val recs = new Array[KRec](size)
    for (i <- 0 until size) {
      val repeat = i > 0 && rng.nextBoolean()
      val id =
        if (repeat) seen(rng.nextInt(i))
        else b.toLong * size + i + 1000L
      seen(i) = id
      keys += id
      val tsMs = BaseEpochMs + b * 60000L + i * 7L
      val f = record(rng, id, repeat, tsMs)
      fields(i) = f
      val rec = new GenericData.Record(schema)
      f.zipWithIndex.foreach { case (v, j) => rec.put(j, v) }
      out.reset()
      out.write(0)
      out.write(SchemaId >>> 24); out.write(SchemaId >>> 16)
      out.write(SchemaId >>> 8); out.write(SchemaId)
      writer.write(rec, enc)
      enc.flush()
      val key = f(14).asInstanceOf[String].getBytes(UTF_8)
      recs(i) = KRec(topic, (id % Partitions).toInt, b.toLong * size + i,
        new java.sql.Timestamp(tsMs), "CreateTime", key, out.toByteArray)
    }
    Batch(recs.toIndexedSeq, size.toLong, keys.size.toLong,
      if (keepFields) fields.toIndexedSeq else IndexedSeq.empty)
  }

  private def fmt(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .format(java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC))

  /** The 19 value fields in schema order (14 nullable payload fields, 5
    * CDC metadata strings). */
  private def record(rng: java.util.Random, id: Long, update: Boolean,
      tsMs: Long): IndexedSeq[Any] = {
    def word = Words(rng.nextInt(Words.length))
    val modified = fmt(tsMs - rng.nextInt(86400000))
    Vector[Any](
      id,
      Users(rng.nextInt(Users.length)),
      modified,
      (1 + rng.nextInt(4)).toLong,
      (1 + rng.nextInt(9)).toLong,
      (1 + rng.nextInt(30)).toLong,
      s"$word $word ${rng.nextInt(1000)}",
      s"$word $word $word card",
      if (rng.nextInt(3) == 0) null else s"$word $word",
      (15 * (1 + rng.nextInt(8))).toLong,
      1L,
      rng.nextInt(2).toLong,
      if (rng.nextInt(4) == 0) null else (1 + rng.nextInt(3)).toLong,
      (1 + rng.nextInt(50)).toLong,
      s"RATE_CARD_ID=$id",
      if (update) "UPDATE" else "INSERT",
      fmt(tsMs),
      fmt(tsMs).substring(0, 10),
      "lndcdcadsrtcrd")
  }
}
