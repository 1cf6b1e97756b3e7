package ingestbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.PlanCache
import graft.queries.Q

/** Reads beside the ingest writes: one catalog entry from each of five
  * groups, run one at a time in a fixed order over seeded tables. One op
  * is one entry run and `count()`ed; `PlanCache.releaseAll()` and
  * `clearCache()` after it are untimed. Only whole passes are timed, and
  * their number follows from `seconds` alone (one per `PassSeconds`, at
  * least one), so every run times the same ops however fast the host is;
  * a count read off the clock would flip between one and two passes as
  * the host's speed shifts. */
final class CatalogWorkload(work: Path, seed: Long) extends Workload {
  /** (group, entry). One entry per group keeps a pass near 10 s on 4 cores,
    * so a run can warm every entry up twice and still time two passes
    * within the benchmark's time budget. */
  val Entries: Seq[(String, String)] = Seq(
    "sql" -> "q05_join_multi",
    "iterative" -> "q461_hub_percolation",
    "streaming" -> "q376_stream_late_data",
    "lake" -> "q475_stream_file_upsert",
    "kernels" -> "q294_bmp_gif_dims")
  private val order = Entries.map(_._2)
  private val groupOf = Entries.map(_.swap).toMap
  private lazy val entries: Map[String, Q] = {
    val all = SparkEntry.catalog.map(q => q.name -> q).toMap
    order.map(n => n -> all.getOrElse(n,
      throw new NoSuchElementException(s"catalog has no entry $n"))).toMap
  }
  private val dir = work.resolve("tables").toString
  private val expected = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val counts = mutable.Map.empty[Long, (String, Long)]
  private var nextOp = 0L

  def generate(spark: SparkSession): Unit =
    TableGen.write(spark, dir, CatalogWorkload.ScaleFactor, seed)

  /** Runs one entry and counts it; returns (row count, end ns). */
  private def runOne(spark: SparkSession, name: String,
      release: Boolean = true): (Long, Long) =
    try {
      val n = entries(name).run(spark, dir).count()
      (n, System.nanoTime())
    } finally if (release) {
      PlanCache.releaseAll()
      spark.catalog.clearCache()
    }

  /** Runs `names` once each; the row counts are what later runs of each
    * entry must return. */
  private def runAll(spark: SparkSession, names: Seq[String],
      release: Boolean = true): Unit =
    names.foreach { name =>
      val (n, _) = runOne(spark, name, release)
      val e = expected.getOrElseUpdate(name, n)
      if (e != n) throw new IllegalStateException(s"$name returned $n rows, earlier $e")
    }

  def start(spark: SparkSession): Unit = runAll(spark, order.take(1))

  /** `WarmPasses` passes, so each entry has run that often before timing.
    * The second timed pass still ran ~10% faster than the first after
    * three; since the timed pass count is fixed, that drift biases the
    * figures rather than spreading them. Each pass splits the
    * entries over `WarmThreads` threads, each on its own session (own temp
    * views and SQL conf); caches are released only between passes. */
  def warmUp(spark: SparkSession): Unit =
    for (pass <- 1 to CatalogWorkload.WarmPasses) {
      val names = if (pass == 1) order.drop(1) else order
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until CatalogWorkload.WarmThreads).map { t =>
        val th = new Thread(() =>
          try {
            val s = spark.newSession()
            names.indices.filter(_ % CatalogWorkload.WarmThreads == t)
              .foreach(i => runAll(s, Seq(names(i)), release = false))
          } catch { case e: Throwable => errors.add(e) },
          s"warm-$t")
        th.start(); th
      }
      threads.foreach(_.join())
      PlanCache.releaseAll()
      spark.catalog.clearCache()
      if (!errors.isEmpty) throw errors.peek()
    }

  def measure(spark: SparkSession, seconds: Double,
      trace: Option[Listeners], spans: Spans): Measured = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val perOp = mutable.ArrayBuffer.empty[(String, Op, Map[String, Double])]
    var busy = 0.0
    trace.foreach(_.drain())
    var before = trace.map(snapshot)
    val passes = math.max(1, math.round(seconds / CatalogWorkload.PassSeconds).toInt)
    for (_ <- 1 to passes; name <- order) {
      val id = nextOp; nextOp += 1
      val t0 = System.nanoTime()
      val op =
        try {
          val (n, t1) = spans.time("Q.run", id)(runOne(spark, name))._1
          counts(id) = (name, n)
          Op(id, 0, t0, t1, name, None)
        } catch { case e: Throwable =>
          Op(id, 0, t0, System.nanoTime(), name, Some(String.valueOf(e.getMessage)))
        }
      busy += op.ms / 1000
      ops += op
      trace.foreach { l =>
        l.drain()
        val after = snapshot(l)
        perOp += ((name, op, after.map { case (k, v) => k -> (v - before.get(k)) }))
        l.resetStatePeaks()
        before = Some(snapshot(l))
      }
    }
    Measured(ops.toSeq, busy, trace.map(_ => layers(perOp.toSeq)).getOrElse(Map.empty))
  }

  private def snapshot(l: Listeners): Map[String, Double] =
    l.total.snapshot.map { case (k, v) => k -> v.toDouble } ++ Map(
      "planning_ms" -> l.planningMs.get.toDouble,
      "state_rows" -> l.stateRowsPeak.get.toDouble,
      "state_commit_ms" -> l.stateCommitMs.get.toDouble,
      "state_memory" -> l.stateMemoryPeak.get.toDouble)

  private def layers(perOp: Seq[(String, Op, Map[String, Double])]): Map[String, Double] = {
    def med(xs: Seq[(String, Op, Map[String, Double])], f: ((Op, Map[String, Double])) => Double) =
      Stats.median(xs.map(x => f((x._2, x._3))))
    val ok = perOp.filter(_._2.error.isEmpty)
    val byGroup = Entries.map(_._1).flatMap { g =>
      val xs = ok.filter(x => groupOf(x._1) == g)
      Seq(
        s"catalog.$g.wall_ms" -> med(xs, _._1.ms),
        s"catalog.$g.jobs_per_op" -> med(xs, _._2("jobs")),
        s"catalog.$g.tasks_per_op" -> med(xs, _._2("tasks")),
        s"catalog.$g.task_run_ms_per_op" -> med(xs, _._2("run_ms")),
        s"catalog.$g.planning_ms_per_op" -> med(xs, _._2("planning_ms")),
        s"catalog.$g.shuffle_bytes_per_op" -> med(xs, _._2("shuffle_bytes")),
        s"catalog.$g.spill_bytes_per_op" -> med(xs, _._2("spill_bytes")))
    }
    val stateful = ok.filter(_._3("state_rows") > 0)
    byGroup.toMap ++ Map(
      "spark.jobs_per_op" -> med(ok, _._2("jobs")),
      "spark.stages_per_op" -> med(ok, _._2("stages")),
      "spark.tasks_per_op" -> med(ok, _._2("tasks")),
      "spark.task_run_ms_per_op" -> med(ok, _._2("run_ms")),
      "spark.task_cpu_ms_per_op" -> med(ok, _._2("cpu_ns") / 1e6),
      "spark.gc_ms_per_op" -> med(ok, _._2("gc_ms")),
      "spark.shuffle_bytes_per_op" -> med(ok, _._2("shuffle_bytes")),
      "spark.task_busy_share" -> med(ok, x => x._2("run_ms") / (x._1.ms * Main.Cores)),
      "streaming.state_rows_total" -> med(stateful, _._2("state_rows")),
      "streaming.state_commit_ms" -> med(stateful, _._2("state_commit_ms")),
      "streaming.state_memory_bytes" -> med(stateful, _._2("state_memory")))
  }

  /** Each op must return the row count its entry returned in the warm-up. */
  def audit(spark: SparkSession, m: Measured): Set[Long] =
    m.ops.filter(o => !counts.get(o.id).exists { case (n, c) => expected.get(n).contains(c) })
      .map(_.id).toSet

  def tearDown(spark: SparkSession): Unit = ()

  override def expectedRows: Map[String, Long] = expected.toMap
}

object CatalogWorkload {
  val ScaleFactor = 0.01
  val WarmThreads = 5
  val WarmPasses = 2
  /** Nominal seconds of one timed pass on 4 cores (10–11 s measured). */
  val PassSeconds = 10.0
}
