package ingestbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{CachingSchemaProvider, FixtureSchemaProvider, RatecardSchema}
import graft.pipeline.KafkaToParquet

/** The paper's pipeline as a closed loop: `Topics` streams, each with its
  * own `KafkaToParquet.runStream`, `MemoryStream` of 6 partitions,
  * checkpoint and output dir, each driven by one client thread. One op is
  * one micro-batch of `BatchSize` records: it starts at `addData` and ends
  * when `processAllAvailable` returns, by which time the batch's file is
  * renamed into place and its offsets are committed. */
final class IngestWorkload(work: Path, seed: Long) extends Workload {
  import IngestWorkload._

  private val names = (0 until Topics).map(i => s"${RatecardSchema.topic}_t$i")
  private val provider = new CachingSchemaProvider(new FixtureSchemaProvider(
    names.map(_ -> RatecardSchema.schemaJson).toMap))
  private val KeyCol = "SRC_KEY_VAL"

  /** Batches per topic: the warm-up's, then 48 that timed ops cycle
    * through. */
  private val poolSize = WarmBatches + 48
  private var pool: IndexedSeq[IndexedSeq[Batch]] = _

  private final class Stream(val topic: String, val input: MemoryStream[KRec],
      val query: StreamingQuery, val out: Path) {
    /** Pool index of every batch this stream was sent, in order. */
    val sent = mutable.ArrayBuffer.empty[(Int, Long)]
  }
  private var streams: IndexedSeq[Stream] = IndexedSeq.empty
  private val nextOp = new AtomicLong

  def generate(spark: SparkSession): Unit =
    pool = names.indices.map(t =>
      (0 until poolSize).map(b => WireGen.batch(seed, names(t), t, b, BatchSize)))

  private def open(spark: SparkSession, t: String): Stream = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[KRec](WireGen.Partitions)
    val out = Files.createDirectories(work.resolve(s"ingest/$t/out"))
    val ckpt = Files.createDirectories(work.resolve(s"ingest/$t/ckpt"))
    val q = KafkaToParquet.runStream(input.toDF(), t, provider, out.toString,
      ckpt.toString, KeyCol, trigger = Trigger.ProcessingTime(0))
    new Stream(t, input, q, out)
  }

  /** Starts every stream and lands its first batch. */
  def start(spark: SparkSession): Unit = {
    streams = names.map(open(spark, _))
    inParallel(streams)((s, i) => send(s, i, 0, -1))
  }

  def warmUp(spark: SparkSession): Unit =
    inParallel(streams) { (s, i) =>
      for (b <- 1 until WarmBatches) send(s, i, b, -1)
    }

  private def send(s: Stream, topicIdx: Int, poolIdx: Int, op: Long): Unit = {
    s.sent += ((poolIdx, op))
    s.input.addData(pool(topicIdx)(poolIdx).records)
    s.query.processAllAvailable()
  }

  private def inParallel(ss: Seq[Stream])(body: (Stream, Int) => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = ss.zipWithIndex.map { case (s, i) =>
      val th = new Thread(() =>
        try body(s, i) catch { case e: Throwable => errors.add(e) },
        s"client-${s.topic}")
      th.start(); th
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  def measure(spark: SparkSession, seconds: Double,
      trace: Option[Listeners], spans: Spans): Measured = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    inParallel(streams) { (s, i) =>
      var alive = true
      while (alive && System.nanoTime() < deadline) {
        val id = nextOp.getAndIncrement()
        val b = WarmBatches + (s.sent.size - WarmBatches) % (poolSize - WarmBatches)
        val start = System.nanoTime()
        val err =
          try { send(s, i, b, id); None }
          catch { case e: Throwable =>
            alive = false
            Some(String.valueOf(e.getMessage))
          }
        val end = System.nanoTime()
        spans.record("runStream", id, start, end)
        ops.add(Op(id, i, start, end, s"${s.query.id}:${s.sent.size - 1}", err))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val all = ops.asScala.toSeq.sortBy(_.startNs)
    Measured(all, wall, trace.map(layers(spark, all, _, spans)).getOrElse(Map.empty))
  }

  /** Per op, median across ops; see the benchmark's README for the table
    * of which workload each figure should move on. */
  private def layers(spark: SparkSession, ops: Seq[Op], l: Listeners,
      spans: Spans): Map[String, Double] = {
    l.drain()
    val per = ops.filter(_.error.isEmpty).flatMap { o =>
      val Array(q, b) = o.tag.split(":")
      for {
        w <- l.batch(q, b.toLong)
        p <- Option(l.progress.get((q, b.toLong)))
      } yield (o, w.snapshot, p.durationMs)
    }
    def med(f: ((Op, Map[String, Long], java.util.Map[String, java.lang.Long])) => Double) =
      Stats.median(per.map(f))
    def dur(d: java.util.Map[String, java.lang.Long], k: String): Double =
      Option(d.get(k)).map(_.toDouble).getOrElse(0.0)
    val files = streams.flatMap(s => lakeFiles(s.out))
    val (decodeMs, writeMs) = probe(spark, spans)
    Map(
      "spark.jobs_per_op" -> med(_._2("jobs").toDouble),
      "spark.stages_per_op" -> med(_._2("stages").toDouble),
      "spark.tasks_per_op" -> med(_._2("tasks").toDouble),
      "spark.task_run_ms_per_op" -> med(_._2("run_ms").toDouble),
      "spark.task_cpu_ms_per_op" -> med(_._2("cpu_ns") / 1e6),
      "spark.gc_ms_per_op" -> med(_._2("gc_ms").toDouble),
      "spark.shuffle_bytes_per_op" -> med(_._2("shuffle_bytes").toDouble),
      "spark.task_busy_share" -> med(x => x._2("run_ms") / (x._1.ms * Main.Cores)),
      "stream.add_batch_ms" -> med(x => dur(x._3, "addBatch")),
      "stream.wal_commit_ms" -> med(x => dur(x._3, "walCommit")),
      "stream.commit_offsets_ms" -> med(x => dur(x._3, "commitOffsets")),
      "stream.query_planning_ms" -> med(x => dur(x._3, "queryPlanning")),
      "stream.trigger_overhead_ms" -> med(x => x._1.ms - dur(x._3, "addBatch")),
      "pipeline.decode_ms" -> decodeMs,
      "pipeline.write_batch_ms" -> writeMs,
      "pipeline.bytes_per_op" -> Stats.median(files.map(f => Files.size(f).toDouble)),
      "pipeline.files_per_op" -> files.size.toDouble / streams.map(_.sent.size).sum,
      "traced_ops" -> per.size.toDouble)
  }

  /** Times `decodeRecords` into a noop sink and `writeBatch`, each on a
    * static frame of one pooled batch, outside any stream. */
  private def probe(spark: SparkSession, spans: Spans): (Double, Double) = {
    import spark.implicits._
    val dir = Files.createDirectories(work.resolve("probe"))
    val runs = (0 until 7).map { k =>
      val t = k % Topics
      val b = WarmBatches + k
      val df: DataFrame = spark.sparkContext
        .parallelize(pool(t)(b).records, WireGen.Partitions).toDF()
      val (_, dMs) = spans.time("decodeRecords") {
        KafkaToParquet.decodeRecords(df, names(t), provider)
          .write.format("noop").mode("overwrite").save()
      }
      val (r, wMs) = spans.time("writeBatch") {
        KafkaToParquet.writeBatch(KafkaToParquet.decodeRecords(df, names(t), provider),
          names(t), dir.toString, KeyCol)
      }
      if (r.totalRecords != pool(t)(b).total || r.distinctRecords != pool(t)(b).distinct)
        throw new IllegalStateException(s"probe writeBatch counts $r")
      (dMs, wMs)
    }.drop(1) // the first warms the static-frame path
    (Stats.median(runs.map(_._1)), Stats.median(runs.map(_._2)))
  }

  private def lakeFiles(out: Path): Seq[Path] = {
    val s = Files.walk(out)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  private val FileName = """(.+)_(\d+\.\d+)_(\d+)_(\d+)\.parquet""".r

  /** One file per batch, in send order, whose `{total}_{distinct}` equals
    * the generator's counts; then the lake read back must have the writer
    * schema's field order and exactly the records sent. */
  def audit(spark: SparkSession, m: Measured): Set[Long] = {
    val failed = mutable.Set.empty[Long]
    for (s <- streams) {
      val t = names.indexOf(s.topic)
      val files = lakeFiles(s.out).flatMap { p =>
        p.getFileName.toString match {
          case FileName(topic, epoch, total, distinct) if topic == s.topic =>
            Some((BigDecimal(epoch), total.toLong, distinct.toLong))
          case _ => None
        }
      }.sortBy(_._1)
      s.sent.zipWithIndex.foreach { case ((b, op), i) =>
        val ok = i < files.size && files(i)._2 == pool(t)(b).total &&
          files(i)._3 == pool(t)(b).distinct
        if (!ok) {
          if (op < 0) throw new IllegalStateException(s"warm-up batch $i of ${s.topic} missing")
          failed += op
        }
      }
      if (files.size != s.sent.size) s.sent.map(_._2).filter(_ >= 0).foreach(failed += _)
      val lake = spark.read.option("recursiveFileLookup", "true").parquet(s.out.toString)
      val expected = WireGen.schema.getFields.asScala.map(_.name).toSeq
      if (lake.schema.fieldNames.toSeq != expected ||
          lake.count() != s.sent.size.toLong * BatchSize)
        s.sent.map(_._2).filter(_ >= 0).foreach(failed += _)
    }
    failed.toSet
  }

  def tearDown(spark: SparkSession): Unit = {
    streams.foreach(s => s.query.stop())
    Files.walk(work.resolve("ingest")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }
}

object IngestWorkload {
  val Topics = 3
  val BatchSize = 500
  /** Batches per stream before timing. Latency still falls ~15% across
    * the 20 s timed window after 30, and was flat after 60; 24 is what the
    * time budget of a run allows on a slow host. The drift is the same in
    * every run, so it biases the figures rather than spreading them. */
  val WarmBatches = 24
}
