package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per suite;
  * sharing across suites is fine since config is identical). Fixed at 4
  * cores whatever `SPARK_GRAFT_CPUS` says, so partition-count-sensitive
  * assertions read the same on every host. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-test")
      // Force UnsafeExternalSorter to spill every 4096 rows: tiny local
      // test data never spills naturally, so buffer-reuse bugs in spill
      // readers (values retained across next()) would otherwise only
      // surface at cluster scale. This exercises the spill path suite-wide.
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "4096")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
