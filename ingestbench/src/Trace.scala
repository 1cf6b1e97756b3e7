package ingestbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region recorded by the benchmark around one call into the
  * program; `op` is the op it belongs to (-1 outside ops). */
final case class Span(name: String, id: Long, op: Long, startNs: Long, endNs: Long)

/** Spans, kept in memory until the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def record(name: String, op: Long, startNs: Long, endNs: Long): Unit =
    buf.add(Span(name, next.getAndIncrement(), op, startNs, endNs))
  /** Runs `body` in a span; returns its result and its milliseconds. */
  def time[T](name: String, op: Long = -1)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    record(name, op, t0, t1)
    (r, (t1 - t0) / 1e6)
  }
  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.startNs)
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"name":${Json.str(s.name)},"id":${s.id},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task-level counters summed over one bucket of Spark work. */
final class Work {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes =
    new AtomicLong
  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get)
}

/** Per-layer counts from Spark's public listeners, registered by the
  * benchmark itself:
  *  - a SparkListener buckets jobs, stages and task metrics by the
  *    streaming query and batch that submitted them (the
  *    `sql.streaming.queryId` / `streaming.sql.batchId` local properties),
  *    and keeps a running total for everything else;
  *  - a StreamingQueryListener keeps each progress's `durationMs` and
  *    state-operator figures;
  *  - a QueryExecutionListener sums the analysis/optimization/planning
  *    phase times of each finished action.
  * Readers call `drain()` first: listener events arrive asynchronously. */
final class Listeners(spark: SparkSession) {
  val total = new Work
  private val byBatch = new ConcurrentHashMap[(String, Long), Work]()
  private val stageKey = new ConcurrentHashMap[Int, Option[(String, Long)]]()
  val progress = new ConcurrentHashMap[(String, Long),
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val planningMs = new AtomicLong
  /** Peaks (rows, memory) and a sum (commit ms) over state-operator
    * progress; a progress's figure is summed over its operators. */
  val stateRowsPeak, stateCommitMs, stateMemoryPeak = new AtomicLong

  private def key(p: java.util.Properties): Option[(String, Long)] =
    for {
      props <- Option(p)
      q <- Option(props.getProperty("sql.streaming.queryId"))
      b <- Option(props.getProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)

  private def buckets(k: Option[(String, Long)]): Seq[Work] =
    total +: k.map(x => byBatch.computeIfAbsent(x, _ => new Work)).toSeq

  private val spark1 = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      buckets(key(e.properties)).foreach(_.jobs.incrementAndGet())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val k = key(e.properties)
      stageKey.put(e.stageInfo.stageId, k)
      buckets(k).foreach(_.stages.incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      buckets(stageKey.getOrDefault(e.stageId, None)).foreach { w =>
        w.tasks.incrementAndGet()
        if (m != null) {
          w.runMs.addAndGet(m.executorRunTime)
          w.cpuNs.addAndGet(m.executorCpuTime)
          w.gcMs.addAndGet(m.jvmGCTime)
          w.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.put((p.id.toString, p.batchId), p)
      val ops = p.stateOperators
      stateRowsPeak.accumulateAndGet(ops.map(_.numRowsTotal).sum, math.max)
      stateCommitMs.addAndGet(ops.map(_.commitTimeMs).sum)
      stateMemoryPeak.accumulateAndGet(ops.map(_.memoryUsedBytes).sum, math.max)
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(spark1)
  spark.streams.addListener(streams)
  spark.listenerManager.register(plans)

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  def batch(queryId: String, batchId: Long): Option[Work] =
    Option(byBatch.get((queryId, batchId)))

  /** Resets the state peaks between ops (sums are read as deltas). */
  def resetStatePeaks(): Unit = { stateRowsPeak.set(0); stateMemoryPeak.set(0) }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(spark1)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(plans)
  }
}
