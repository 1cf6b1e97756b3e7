package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SupportsRowLevelOperations pins (VERDICT r12 #4): DELETE FROM on the
  * graftlake catalog must plan through Spark's native group-based
  * copy-on-write rewrite (ReplaceData), not a foreachBatch emulation;
  * seeding goes through the v2 append path. Metadata-only deletes
  * (SupportsDeleteV2) exist but are OPT-IN via `graft.partitioncol`
  * and only for partition-aligned predicates — pinned below. Every
  * table here is parquet files: the lake has one storage. */
class RowLevelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("seed via v2 append, DELETE plans ReplaceData, survivors exact") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_rl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, status STRING, cents BIGINT)")
    Seq((1L, "F", 100L), (2L, "O", 200L), (3L, "F", 300L), (4L, "P", 400L),
      (6L, "F", 600L))
      .toDF("k", "status", "cents").writeTo(tbl).append()
    assert(spark.table(tbl).count() == 5)

    val del = spark.sql(s"DELETE FROM $tbl WHERE status = 'F' AND k % 3 = 0")
    // the plan pin: the executed command must be the row-level
    // ReplaceData write (group-based copy-on-write), proving Spark's
    // RewriteDeleteFromTable matched our SupportsRowLevelOperations
    val planStr = del.queryExecution.executedPlan.toString +
      del.queryExecution.optimizedPlan.toString
    assert(planStr.contains("ReplaceData"),
      s"DELETE did not plan through ReplaceData:\n$planStr")

    val left = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(left.toSeq == Seq((1L, "F", 100L), (2L, "O", 200L),
      (4L, "P", 400L)), left.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("UPDATE and MERGE plan through ReplaceData (group-based rewrites)") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_rl_dml"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, seg STRING, cents BIGINT)")
    Seq((1L, "A", 100L), (2L, "B", 200L), (3L, "A", 300L))
      .toDF("k", "seg", "cents").writeTo(tbl).append()

    val up = spark.sql(s"UPDATE $tbl SET cents = cents + 1 WHERE seg = 'A'")
    assert(up.queryExecution.optimizedPlan.toString.contains("ReplaceData"),
      "UPDATE did not rewrite to ReplaceData")
    assert(spark.table(tbl).agg(sum("cents")).head.getLong(0) == 602L)

    Seq((2L, 50L), (9L, 900L)).toDF("k", "delta")
      .createOrReplaceTempView("spec_rl_dml_src")
    val mg = spark.sql(
      s"""MERGE INTO $tbl t USING spec_rl_dml_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET cents = t.cents + s.delta
         |WHEN NOT MATCHED THEN INSERT (k, seg, cents)
         |  VALUES (s.k, 'N', s.delta)""".stripMargin)
    val mplan = mg.queryExecution.optimizedPlan.toString
    // the group-based MERGE shape: MergeRows over the full-outer join,
    // replaced through the same ReplaceData write as DELETE/UPDATE
    assert(mplan.contains("ReplaceData") && mplan.contains("MergeRows"),
      s"MERGE did not plan MergeRows+ReplaceData:\n$mplan")
    val rows = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "A", 101L), (2L, "B", 250L),
      (3L, "A", 301L), (9L, "N", 900L)), rows.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("delta mode: DELETE/UPDATE plan WriteDelta with a positive-condition scan") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_rl_delta"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, seg STRING, cents BIGINT) " +
      "TBLPROPERTIES('graft.mode'='delta')")
    Seq((1L, "A", 100L), (2L, "B", 200L), (3L, "A", 300L), (4L, "B", 400L))
      .toDF("k", "seg", "cents").writeTo(tbl).append()

    val de = spark.sql(s"DELETE FROM $tbl WHERE seg = 'A' AND k > 1")
    val dplan = de.queryExecution.optimizedPlan.toString
    // merge-on-read signature: WriteDelta (not ReplaceData), and the
    // scan keeps the POSITIVE condition — only matching rows are read
    // and only (op, rowId) is emitted. Copy-on-write reads everything
    // and keeps NOT(cond); this is the whole point of the mode.
    assert(dplan.contains("WriteDelta") && !dplan.contains("ReplaceData"),
      s"delta DELETE did not plan WriteDelta:\n$dplan")
    assert(dplan.contains("Filter ((seg") && !dplan.contains("Filter NOT"),
      s"delta DELETE scan is not positively filtered:\n$dplan")

    val up = spark.sql(s"UPDATE $tbl SET cents = cents + 9 WHERE seg = 'B'")
    assert(up.queryExecution.optimizedPlan.toString.contains("WriteDelta"))

    val rows = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "A", 100L), (2L, "B", 209L),
      (4L, "B", 409L)), rows.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("mode equivalence: identical DML on cow and delta tables yields identical contents") {
    import spark.implicits._
    // the lakehouse invariant the two modes trade PERFORMANCE on, never
    // results: group-rewrite (ReplaceData) and delta-log (WriteDelta)
    // must agree row-for-row under the same DELETE + UPDATE sequence
    val seed = Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 30L),
      (4L, "C", 40L), (5L, "B", 50L), (6L, "A", 60L))
    def runDml(tbl: String, props: String): Seq[(Long, String, Long)] = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (k BIGINT, seg STRING, cents BIGINT)$props")
      seed.toDF("k", "seg", "cents").writeTo(tbl).append()
      spark.sql(s"DELETE FROM $tbl WHERE seg = 'A' AND k % 3 = 0")
      spark.sql(s"UPDATE $tbl SET cents = cents * 2 WHERE seg = 'B'")
      val out = spark.table(tbl).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      out
    }
    // cow: the unpruned whole-table rewrite (no graft.partitioncol);
    // mor: delta files under the default overlay budget
    val cow = runDml("graftlake.ns.spec_eq_cow", "")
    val mor = runDml("graftlake.ns.spec_eq_mor",
      " TBLPROPERTIES('graft.mode'='delta')")
    assert(cow == mor, s"cow=$cow mor=$mor")
    // k=3 and k=6 are both seg A with k%3=0 — deleted on both paths
    assert(cow == Seq((1L, "A", 10L), (2L, "B", 40L), (4L, "C", 40L),
      (5L, "B", 100L)), cow.mkString(", "))
    // LAYOUT equivalence (r14): the same four-way law across file
    // layouts — a group-pruned rewrite (graft.partitioncol) and a
    // merge-on-read table whose one-row overlay budget folds the deltas
    // at every DML commit must agree with the two above row-for-row;
    // layout and mode trade I/O shape only
    val fcow = runDml("graftlake.ns.spec_eq_fcow",
      " TBLPROPERTIES('graft.storage'='files', 'graft.partitioncol'='seg')")
    val fmor = runDml("graftlake.ns.spec_eq_fmor",
      " TBLPROPERTIES('graft.storage'='files', 'graft.mode'='delta', " +
        "'graft.overlaybudget'='1')")
    assert(fcow == cow, s"pruned-cow=$fcow cow=$cow")
    assert(fmor == cow, s"budgeted-mor=$fmor cow=$cow")
  }

  test("DML walker fuzz: a seeded random op sequence keeps all four " +
      "storage×mode configurations and a Scala model in lockstep") {
    import spark.implicits._
    // the equivalence law above, fuzzed: appends, partial deletes,
    // value updates, PARTITION-MOVING updates (the ADVICE r14 class),
    // MERGE upserts, and mid-walk compactions — after every step all
    // four tables must equal the model row-for-row. The four configs:
    // cow with and without graft.partitioncol (pruned vs whole-table
    // rewrite), mor under the default and under a tiny overlay budget
    // (so auto-MAJOR-compaction fires repeatedly DURING the walk).
    val rnd = new scala.util.Random(151515L) // seeded: replayable
    val configs = Seq(
      ("graftlake.ns.fz_cow", ""),
      ("graftlake.ns.fz_mor", " TBLPROPERTIES('graft.mode'='delta')"),
      ("graftlake.ns.fz_fcow", " TBLPROPERTIES('graft.storage'='files'," +
        " 'graft.partitioncol'='seg')"),
      ("graftlake.ns.fz_fmor", " TBLPROPERTIES('graft.storage'='files'," +
        " 'graft.mode'='delta', 'graft.overlaybudget'='24')"))
    configs.foreach { case (t, p) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, cents BIGINT)$p")
    }
    val model = scala.collection.mutable.LinkedHashMap[Long, (String, Long)]()
    var nextKey = 1L
    val segs = Vector("A", "B", "C", "D")
    def sqlAll(stmt: String => String): Unit =
      configs.foreach { case (t, _) => spark.sql(stmt(t)) }
    def appendBatch(n: Int): Unit = {
      val rows = (0 until n).map { _ =>
        val k = nextKey; nextKey += 1
        val s0 = segs(rnd.nextInt(4)); val c = rnd.nextInt(1000).toLong
        model(k) = (s0, c); (k, s0, c)
      }
      val df = rows.toDF("k", "seg", "cents").coalesce(1)
      configs.foreach { case (t, _) => df.writeTo(t).append() }
    }
    appendBatch(8)
    for (step <- 0 until 12) {
      rnd.nextInt(6) match {
        case 0 => appendBatch(1 + rnd.nextInt(5))
        case 1 =>
          val s0 = segs(rnd.nextInt(4))
          val m = 2 + rnd.nextInt(3); val r = rnd.nextInt(m)
          sqlAll(t => s"DELETE FROM $t WHERE seg = '$s0' AND k % $m = $r")
          model.filterInPlace((k, v) => !(v._1 == s0 && k % m == r))
        case 2 =>
          val s0 = segs(rnd.nextInt(4)); val d = 1 + rnd.nextInt(9)
          sqlAll(t => s"UPDATE $t SET cents = cents + $d WHERE seg = '$s0'")
          model.mapValuesInPlace((_, v) =>
            if (v._1 == s0) (v._1, v._2 + d) else v)
        case 3 => // partition-moving update
          val from = segs(rnd.nextInt(4)); val to = segs(rnd.nextInt(4))
          val m = 2 + rnd.nextInt(3); val r = rnd.nextInt(m)
          sqlAll(t =>
            s"UPDATE $t SET seg = '$to' WHERE seg = '$from' AND k % $m = $r")
          model.mapValuesInPlace((k, v) =>
            if (v._1 == from && k % m == r) (to, v._2) else v)
        case 4 => // MERGE upsert over a mix of live and fresh keys
          val keys = (0 until 3).map { _ =>
            if (model.nonEmpty && rnd.nextBoolean()) {
              val ks = model.keys.toVector; ks(rnd.nextInt(ks.size))
            } else { val k = nextKey; nextKey += 1; k }
          }.distinct
          val ups = keys.map(k =>
            (k, segs(rnd.nextInt(4)), rnd.nextInt(1000).toLong))
          ups.toDF("k", "seg", "cents").createOrReplaceTempView("fz_src")
          sqlAll(t =>
            s"""MERGE INTO $t x USING fz_src s ON x.k = s.k
               |WHEN MATCHED THEN UPDATE SET seg = s.seg, cents = s.cents
               |WHEN NOT MATCHED THEN INSERT (k, seg, cents)
               |  VALUES (s.k, s.seg, s.cents)""".stripMargin)
          ups.foreach { case (k, s0, c) => model(k) = (s0, c) }
        case _ => // mid-walk maintenance on the partitioned/budgeted pair;
                  // the other two keep every file and delta they wrote
          spark.sql("CALL graftlake.system.compact('ns.fz_fcow')")
          spark.sql("CALL graftlake.system.compact('ns.fz_fmor')")
      }
      val want = model.toSeq.map { case (k, (s0, c)) => (k, s0, c) }
        .sortBy(_._1)
      for ((t, _) <- configs) {
        val got = spark.table(t).orderBy("k").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        assert(got == want,
          s"step $step: $t diverged\n got=$got\nwant=$want")
      }
    }
    configs.foreach { case (t, _) => spark.sql(s"DROP TABLE IF EXISTS $t") }
  }

  test("delete with a NULL-valued condition keeps null rows (three-valued logic)") {
    val tbl = "graftlake.ns.spec_rl_null"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("k", "v").writeTo(tbl).append()
    // cond is NULL for k=2 — DELETE must keep it (NOT coalesce(cond,false))
    spark.sql(s"DELETE FROM $tbl WHERE v > 15")
    val left = spark.table(tbl).orderBy("k").collect().map(_.getLong(0))
    assert(left.toSeq == Seq(1L, 2L), left.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("metadata-only delete: partition-aligned predicates skip the rewrite, others don't") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_md_del"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, seg STRING, cents BIGINT) " +
      "TBLPROPERTIES('graft.partitioncol'='seg')")
    Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 30L), (4L, "C", 40L),
      (5L, "B", 50L), (6L, "D", 60L))
      .toDF("k", "seg", "cents").writeTo(tbl).append()

    // partition-aligned equality → OptimizeMetadataOnlyDeleteFromTable
    // replaces the whole ReplaceData rewrite with one deleteWhere call
    // the EXECUTED plan is the pin: the optimized DeleteFromTable node
    // keeps the rewrite as its nested fallback child, but what actually
    // ran must be the bare metadata command, no ReplaceData exec
    val md = spark.sql(s"DELETE FROM $tbl WHERE seg = 'A'")
    val mdPlan = md.queryExecution.executedPlan.toString
    assert(!mdPlan.contains("ReplaceData"),
      s"partition-aligned DELETE still executed a rewrite:\n$mdPlan")
    assert(mdPlan.contains("DeleteFromTable"), mdPlan)
    assert(spark.table(tbl).count() == 4)

    // partition-aligned IN — still metadata
    val mi = spark.sql(s"DELETE FROM $tbl WHERE seg IN ('C', 'Z')")
    assert(!mi.queryExecution.executedPlan.toString.contains("ReplaceData"))
    assert(spark.table(tbl).count() == 3)

    // NOT aligned (arithmetic on another column) → full rewrite, and the
    // three-valued/exact semantics of the rewrite still hold
    val rw = spark.sql(s"DELETE FROM $tbl WHERE cents % 20 = 0")
    assert(rw.queryExecution.executedPlan.toString.contains("ReplaceData"),
      "non-aligned DELETE must take the row-level rewrite")
    val left = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(left.toSeq == Seq((5L, "B")), left.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("metadata delete is OPT-IN: without graft.partitioncol even seg='A' rewrites") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_md_optin"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, seg STRING)")
    Seq((1L, "A"), (2L, "B")).toDF("k", "seg").writeTo(tbl).append()
    val del = spark.sql(s"DELETE FROM $tbl WHERE seg = 'A'")
    assert(del.queryExecution.executedPlan.toString.contains("ReplaceData"),
      "un-opted table must keep the copy-on-write path")
    assert(spark.table(tbl).count() == 1)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("atomic CTAS/RTAS: staged writes publish at commit, a failed RTAS keeps the old table") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_ctas"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")

    // CTAS goes through the ATOMIC exec (StagingTableCatalog pin)
    val ct = spark.sql(
      s"CREATE TABLE $tbl AS SELECT id AS k, id * 10 AS v FROM range(5)")
    assert(ct.queryExecution.executedPlan.toString
      .contains("AtomicCreateTableAsSelect"),
      ct.queryExecution.executedPlan.toString)
    assert(spark.table(tbl).count() == 5)

    // RTAS replaces contents atomically
    val rt = spark.sql(
      s"REPLACE TABLE $tbl AS SELECT id AS k, id * 100 AS v FROM range(3)")
    assert(rt.queryExecution.executedPlan.toString
      .contains("AtomicReplaceTableAsSelect"))
    val afterRtas = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(afterRtas.toSeq == Seq((0L, 0L), (1L, 100L), (2L, 200L)))

    // a FAILING RTAS must leave the old contents untouched — the whole
    // point of the staged protocol (non-atomic fallback drops first)
    val thrown = intercept[Exception] {
      spark.sql(s"REPLACE TABLE $tbl AS " +
        "SELECT id AS k, assert_true(id < 2, 'boom') AS v FROM range(10)")
    }
    assert(thrown.getMessage != null)
    val afterFail = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(afterFail.toSeq == afterRtas.toSeq,
      s"failed RTAS mutated the table: ${afterFail.mkString(", ")}")

    // CTAS on an existing table fails staged, table unchanged
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $tbl AS SELECT id AS k FROM range(1)")
    }
    assert(spark.table(tbl).count() == 3)
    // RTAS on a missing table fails at stage time
    intercept[Exception] {
      spark.sql("REPLACE TABLE graftlake.ns.spec_ctas_missing AS " +
        "SELECT id FROM range(1)")
    }
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("ALTER TABLE: add null-fills old rows, rename is metadata-only, drop removes the slot") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_alter"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").writeTo(tbl).append()

    spark.sql(s"ALTER TABLE $tbl ADD COLUMN note STRING")
    // old rows read back null-filled, new writes carry the column
    Seq((3L, 30L, "new")).toDF("k", "v", "note").writeTo(tbl).append()
    val rows = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2))))
    assert(rows.toSeq == Seq((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, Some("new"))), rows.mkString(", "))

    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN v TO cents")
    assert(spark.table(tbl).columns.toSeq == Seq("k", "cents", "note"))
    assert(spark.table(tbl).agg(sum("cents")).head().getLong(0) == 60L)

    spark.sql(s"ALTER TABLE $tbl DROP COLUMN note")
    assert(spark.table(tbl).columns.toSeq == Seq("k", "cents"))
    assert(spark.table(tbl).count() == 3)

    // the key/anchor column is protected
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl DROP COLUMN k")
    }
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("TRUNCATE TABLE empties via the metadata path") {
    import spark.implicits._
    val tbl = "graftlake.ns.spec_md_trunc"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, seg STRING) " +
      "TBLPROPERTIES('graft.partitioncol'='seg')")
    Seq((1L, "A"), (2L, "B")).toDF("k", "seg").writeTo(tbl).append()
    spark.sql(s"TRUNCATE TABLE $tbl")
    assert(spark.table(tbl).count() == 0)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a table created with no graft.storage is parquet files that reopen " +
      "from disk; any storage but 'files' is refused") {
    import spark.implicits._
    import graft.sources.FileStore
    val tbl = "graftlake.ns.spec_default_files"
    val key = "ns.spec_default_files"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING)")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").writeTo(tbl).append()
    val dir = java.nio.file.Paths.get(FileStore.tableDir(key).get)
    assert(dir.startsWith(java.nio.file.Paths.get(FileStore.defaultBase)),
      s"$dir is not under the lake base ${FileStore.defaultBase}")
    assert(java.nio.file.Files.isRegularFile(dir.resolve("manifest.json")),
      s"no manifest under $dir")
    FileStore.forget(key) // "driver restart": cache cold, disk intact
    assert(FileStore.stateOf(key).isEmpty)
    val rows = spark.table(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq(1L -> "a", 2L -> "b"), rows.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")

    for (stmt <- Seq(
        s"CREATE TABLE $tbl (k BIGINT) TBLPROPERTIES('graft.storage'='memory')",
        s"CREATE TABLE $tbl TBLPROPERTIES('graft.storage'='memory') " +
          "AS SELECT id AS k FROM range(1)")) {
      val e = intercept[IllegalArgumentException](spark.sql(stmt))
      assert(e.getMessage.contains("graft.storage"), e.getMessage)
    }
    assert(!spark.catalog.tableExists(tbl), "a refused CREATE left a table")
  }
}
