package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder: every main (Bench, Verify, Profile,
  * Explain, CheckParquet) and the test session start here, so the
  * settings below and their reasons live in one place. */
object Session {

  /** Local parallelism for the mains: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => 4
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** The shared settings on `local[cpus]`; callers add their own extras. */
  def builder(cpus: Int = Session.cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // events.ts is parquet TIMESTAMP(NANOS): read as epoch-nano long
    // (same total order; queries derive micro timestamps when needed).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    // lets v2 sources' reported KeyGroupedPartitioning drive planning
    // (shuffle-free agg/join over graft.sources.GenDocs keyed scans)
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    // storage-partitioned joins whose join keys are a SUPERSET of the
    // partition keys (q438: join on (tag,id), scans keyed on tag) are
    // gated by this co-partition check; relaxing it lets the reported
    // KeyGroupedPartitioning + SupportsReportOrdering plan the join
    // with zero Exchange and zero Sort. Plan-choice only, never results.
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // V2 catalog plugins bound at SESSION BUILD (ADVICE r12: q459/q460
    // used to set graftfns inside their query builders and never
    // restore it — an order-dependent side effect; session-wide binding
    // makes every entry see the same catalog state). Plugins are
    // instantiated lazily on first reference, so unused runs pay nothing.
    .config("spark.sql.catalog.graftfns",
      "graft.functions.GraftFunctionCatalog")
    .config("spark.sql.catalog.graftlake",
      "graft.sources.GraftRowCatalog")
}
