package ingestbench

import java.nio.file.Path

import org.apache.spark.sql.functions.col

import graft.functions.ConfluentAvro.confluent_avro
import graft.ingest.RatecardSchema

/** The generator's test: the same seed gives byte-identical batches, and
  * the program's `confluent_avro` decodes every value back to the fields
  * the generator wrote. Returns the process exit code. */
object WireGenCheck {
  def run(work: Path): Int = {
    val topic = RatecardSchema.topic
    val a = WireGen.batch(7L, topic, 0, 3, 2000, keepFields = true)
    val b = WireGen.batch(7L, topic, 0, 3, 2000)
    val c = WireGen.batch(8L, topic, 0, 3, 2000)
    def bytes(x: Batch) = x.records.map(r => (r.partition, r.offset,
      r.timestamp.getTime, r.key.toSeq, r.value.toSeq))
    val problems = Seq.newBuilder[String]
    if (bytes(a) != bytes(b) || a.total != b.total || a.distinct != b.distinct)
      problems += "same seed gave different batches"
    if (bytes(a) == bytes(c)) problems += "different seeds gave the same batch"
    if (a.records.exists(r => r.value(0) != 0 ||
        java.nio.ByteBuffer.wrap(r.value, 1, 4).getInt != WireGen.SchemaId))
      problems += "value without the Confluent header 0x00 + schema id 391"
    if (a.records.map(_.partition).distinct.size != WireGen.Partitions)
      problems += "records do not cover the 6 partitions"
    val repeatShare = 1.0 - a.distinct.toDouble / a.total
    if (repeatShare < 0.4 || repeatShare > 0.6)
      problems += f"repeated-key share $repeatShare%.2f is not about half"
    val meanValue = a.records.map(_.value.length).sum.toDouble / a.records.size
    if (meanValue < 160 || meanValue > 220)
      problems += f"mean value size $meanValue%.0f B is not about 190 B"

    val spark = Main.session(work)
    try {
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      val decoded = spark.sparkContext.parallelize(a.records, WireGen.Partitions).toDF()
        .select(col("offset"), confluent_avro(col("value"), RatecardSchema.schemaJson).as("r"))
        .select(col("offset"), col("r.*"))
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val mismatched = a.records.zip(a.fields).count { case (rec, f) =>
        decoded.get(rec.offset).forall(_ != f)
      }
      if (decoded.size != a.records.size || mismatched > 0)
        problems += s"$mismatched of ${a.records.size} values decoded to other fields"
    } finally spark.stop()

    val found = problems.result()
    found.foreach(p => System.err.println(s"generator check FAILED: $p"))
    if (found.isEmpty) {
      println(f"generator check passed: ${a.total} records, ${a.distinct} distinct keys, " +
        f"mean value $meanValue%.0f B, byte-identical for one seed, all values decode")
      0
    } else 1
  }
}
