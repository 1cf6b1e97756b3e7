package ingestbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One timed op: wall-clock bounds, the client that ran it, and whatever
  * the workload needs to audit or attribute it later. */
final case class Op(id: Long, client: Int, startNs: Long, endNs: Long,
    tag: String, error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What a workload measured: its ops, the timed wall, and its per-layer
  * figures when traced. */
final case class Measured(ops: Seq[Op], wallSec: Double,
    layers: Map[String, Double])

/** A closed-loop workload. Set-up is `start` (a fresh system up to its
  * first completed op) followed by `warmUp`. `measure` runs timed ops for
  * about `seconds`; `audit` checks the outputs untimed and returns the ids
  * of failed ops. */
trait Workload {
  /** Builds the inputs; excluded from `setup_s`. */
  def generate(spark: SparkSession): Unit
  def start(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double,
      trace: Option[Listeners], spans: Spans): Measured
  def audit(spark: SparkSession, m: Measured): Set[Long]
  def tearDown(spark: SparkSession): Unit
  /** Row counts the audit held ops to, for the artifact. */
  def expectedRows: Map[String, Long] = Map.empty
}

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Percentile reported as `latency_tail_ms`, pinned so that a faster
    * program does not report a higher percentile. */
  val TailQuantile = 0.9

  /** The session `graft.Bench` builds, with every scratch location inside
    * the benchmark's work dir. */
  def session(work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("ingestbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.sql.catalog.graftfns", "graft.functions.GraftFunctionCatalog")
    .config("spark.sql.catalog.graftlake", "graft.sources.GraftRowCatalog")
    .config("spark.graft.bench.singleWave", "true")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
    .getOrCreate()

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    if (i < 0 || i + 1 >= args.length)
      throw new IllegalArgumentException(s"missing $name")
    args(i + 1)
  }

  private def phase(what: String): Unit = System.err.println(
    f"[ingestbench] ${(System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1e3}%.2f s: $what")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--check-generator")) {
      sys.exit(WireGenCheck.run(Paths.get(args(1))))
    }
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work"))
    val out = Paths.get(arg(args, "--out"))
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: Workload = name match {
      case "ingest_3x500" => new IngestWorkload(work, seed)
      case "catalog_mix" => new CatalogWorkload(work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // setup_s = time from JVM start to the first completed op, input
    // generation excluded, plus the warm-up: one cold start per run.
    val spark = session(work)
    spark.sparkContext.setLogLevel("ERROR")
    val g0 = System.nanoTime()
    workload.generate(spark)
    val genSec = (System.nanoTime() - g0) / 1e9
    workload.start(spark)
    val startSec = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genSec
    phase("start done")
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    val warmSec = (System.nanoTime() - w0) / 1e9

    phase("warm-up done")
    val spans = new Spans
    // The traced run measures untraced for a quarter of the time, traced
    // for half, then untraced again, so the tracing overhead read inside
    // one run is not confounded by a linear warm-up drift.
    val (plain, m) =
      if (!traced) (Nil, workload.measure(spark, seconds, None, spans))
      else {
        val p1 = workload.measure(spark, seconds / 4, None, new Spans)
        val l = new Listeners(spark)
        val t = try workload.measure(spark, seconds / 2, Some(l), spans)
          finally l.remove()
        val p2 = workload.measure(spark, seconds / 4, None, new Spans)
        (Seq(p1, p2), t)
      }
    phase("measured")
    val attempted = plain.flatMap(_.ops) ++ m.ops
    val a0 = System.nanoTime()
    val failedIds = (workload.audit(spark, m) ++
      attempted.filter(_.error.isDefined).map(_.id)) intersect attempted.map(_.id).toSet
    val auditSec = (System.nanoTime() - a0) / 1e9
    workload.tearDown(spark)
    spark.stop()

    val good = m.ops.filter(o => !failedIds.contains(o.id)).map(_.ms)
    val n = good.size
    val q = TailQuantile
    val opsPerSec = m.ops.size / m.wallSec
    val metrics =
      if (traced) m.layers.toSeq.sortBy(_._1)
      else Seq(
        "setup_s" -> (startSec + warmSec),
        "latency_p50_ms" -> Stats.median(good),
        "latency_tail_ms" -> Stats.quantile(good, q),
        "ops_per_s" -> opsPerSec)
    val extras = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"),
      "cores" -> Cores.toString,
      "start_s" -> Json.num(startSec),
      "warm_up_s" -> Json.num(warmSec),
      "generate_s" -> Json.num(genSec),
      "audit_s" -> Json.num(auditSec),
      "tail_percentile" -> Json.num(q * 100),
      "tail_samples_beyond" -> Json.num(n * (1 - q)),
      "samples" -> n.toString,
      "timed_wall_s" -> Json.num(m.wallSec),
      "ops_per_s" -> Json.num(opsPerSec),
      "expected_rows" -> Json.obj(workload.expectedRows.toSeq.sorted.map {
        case (k, v) => k -> v.toString })) ++
      (if (plain.isEmpty) Nil else {
        val plainRate = plain.map(_.ops.size).sum / plain.map(_.wallSec).sum
        Seq("untraced_ops_per_s" -> Json.num(plainRate),
          "traced_ops_per_s" -> Json.num(opsPerSec),
          "tracing_overhead" -> Json.num(1 - opsPerSec / plainRate))
      })
    val result = Json.obj(Seq(
      "correct" -> (failedIds.isEmpty && m.ops.nonEmpty).toString,
      "attempted" -> attempted.size.toString,
      "failed" -> failedIds.size.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "extras" -> Json.obj(extras)))
    Files.createDirectories(out)
    if (traced) spans.write(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("result.json"), result + "\n")
    val first = attempted.map(_.startNs).minOption.getOrElse(0L)
    Files.writeString(out.resolve("ops.csv"), ("id,client,start_ms,ms,tag,error" +:
      attempted.sortBy(_.startNs).map(o => s"${o.id},${o.client}," +
        f"${(o.startNs - first) / 1e6}%.3f,${o.ms}%.3f,${o.tag}," +
        o.error.getOrElse("").replaceAll("[,\\s]+", " "))).mkString("", "\n", "\n"))
  }
}
