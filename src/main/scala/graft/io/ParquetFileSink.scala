package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability,
  TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ParquetRowIO

/** Write-only DSv2 source that appends a frame as Parquet files in one dir,
  * one `part-` file per non-empty partition, written by Spark's own
  * `ParquetOutputWriter`: the files equal `df.write.parquet`'s.
  *
  * What it leaves out is the Hadoop conf. Spark's `FileFormatWriter` ships
  * the session's whole conf (~1,100 keys) twice per task, and Hadoop's
  * `Configuration.write` gzips every key's source list: ~113 KB and ~6 ms
  * to write and again to read, per copy, on the scheduler's one thread.
  * This sink's tasks get only the string keys that matter: those
  * `ParquetFileFormat.prepareWrite` sets, run on the driver against an
  * empty conf, plus those the session adds to Hadoop's defaults. Each task
  * applies them to a copy of the per-JVM `ParquetRowIO.conf()`, which has
  * `file:` bound to [[LocalFs]]. */
class ParquetFileSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "ParquetFileSink is write-only; it takes the frame's schema")
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ParquetFileSink.DirTable(schema, properties.get("path"))
}

object ParquetFileSink {

  /** Appends `df` to `dir` as Parquet files, in one Spark job. */
  def append(df: DataFrame, dir: String): Unit =
    df.write.format(classOf[ParquetFileSink].getName)
      .mode("append").option("path", dir).save()

  private final class DirTable(tableSchema: StructType, dir: String)
      extends Table with SupportsWrite {
    override def name(): String = s"parquet_file_sink:$dir"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_WRITE)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder {
        override def build(): Write = new Write {
          override def toBatch(): BatchWrite = {
            val f = factory(SparkSession.active, info.schema(), dir,
              info.options().asCaseSensitiveMap().asScala.toMap, info.queryId())
            // As with `df.write.parquet`, the dir exists after the write
            // even when no partition had a row.
            val p = new Path(dir)
            p.getFileSystem(f.hadoopConf()).mkdirs(p)
            new DirWrite(f)
          }
        }
      }
  }

  /** The task's Hadoop conf as string keys, and Spark's parquet writer
    * factory prepared against them (see the class doc). `options` are the
    * write's own, applied after the session's, as `df.write` does. */
  private[graft] def factory(spark: SparkSession, schema: StructType,
      dir: String, options: Map[String, String], jobId: String): Factory = {
    val base = ParquetRowIO.conf()
    val conf = new Configuration(false)
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .foreach { e => if (base.getRaw(e.getKey) != e.getValue) conf.set(e.getKey, e.getValue) }
    (spark.conf.getAll ++ options).foreach { case (k, v) => conf.set(k, v) }
    val job = Job.getInstance(conf)
    val writer = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    Factory(writer, schema, dir, jobId,
      job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toArray)
  }

  /** A task's file, or none if its partition was empty. */
  private final case class Written(path: Option[String]) extends WriterCommitMessage

  private final class DirWrite(f: Factory) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = f
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    /** Deletes the files of the tasks that committed before the job failed. */
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.foreach {
        case Written(Some(p)) => delete(f.hadoopConf(), p)
        case _ => ()
      }
  }

  private def delete(conf: Configuration, file: String): Unit = {
    val p = new Path(file)
    p.getFileSystem(conf).delete(p, false): Unit
  }

  private[graft] final case class Factory(writer: OutputWriterFactory,
      schema: StructType, dir: String, jobId: String, conf: Array[(String, String)])
      extends DataWriterFactory {
    /** A copy of the per-JVM conf with this write's keys applied. */
    def hadoopConf(): Configuration = {
      val c = ParquetRowIO.conf()
      conf.foreach { case (k, v) => c.set(k, v) }
      c
    }
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new FileWriter(this, partitionId, taskId)
  }

  /** Opens its file on the first row, so an empty partition writes none;
    * `abort` deletes the partial file. */
  private final class FileWriter(f: Factory, partitionId: Int, taskId: Long)
      extends DataWriter[InternalRow] {
    private lazy val conf = f.hadoopConf()
    private var path: String = _
    private var out: OutputWriter = _

    override def write(row: InternalRow): Unit = {
      if (path == null) {
        val ctx = new TaskAttemptContextImpl(conf,
          new TaskAttemptID("graft", 0, TaskType.MAP, partitionId, 0))
        path = f"${f.dir}/part-$partitionId%05d-${f.jobId}-$taskId-c000" +
          f.writer.getFileExtension(ctx)
        out = f.writer.newInstance(path, f.schema, ctx)
      }
      out.write(row)
    }

    override def commit(): WriterCommitMessage = {
      close()
      Written(Option(path))
    }

    override def abort(): Unit = {
      try close() catch { case scala.util.control.NonFatal(_) => () }
      if (path != null) delete(conf, path)
    }

    override def close(): Unit = if (out != null) {
      val o = out
      out = null
      o.close()
    }
  }
}
