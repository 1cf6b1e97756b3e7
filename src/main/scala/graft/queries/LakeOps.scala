package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Lakehouse maintenance, part 2: snapshot differencing (the inverse of
  * the q63 CDC merge) and SCD2 interval construction from a change
  * history — both oracle-checked.
  */
object LakeOps {

  /** Per-run export directory for the round-trip entries (q125/q157/
    * q158): keyed on the sf dir (a run at another scale must not
    * overwrite these files between write and read) AND the Spark
    * applicationId (two CONCURRENT processes on the same sf dir — e.g.
    * Verify and Bench in parallel — must not race each other's
    * mode(overwrite) delete). */
  private def exportDir(s: org.apache.spark.sql.SparkSession,
      sfDir: String, fmt: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    val appRoot = s"/tmp/graft_${fmt}_export/${s.sparkContext.applicationId}"
    // every run leaves a fresh root; it goes when the JVM exits
    graft.io.ExitCleanup.register(appRoot)
    s"$appRoot/$key"
  }

  /** Snapshot diff (operators/SnapshotDiff): old = the customer table;
    * new = a deterministic mutation of it (delete keys ≡0 mod 97, +10.00
    * balance for keys ≡0 mod 5, and one synthetic inserted key per
    * thousand). The feed out is exactly the I/U/D rows; unchanged rows
    * never appear. One full-outer join on the key. */
  val q85_snapshot_diff = Q(
    "q85_snapshot_diff",
    Some("""WITH old AS (
            |  SELECT c_custkey AS id, c_name AS name,
            |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal
            |  FROM customer),
            |new AS (
            |  SELECT id, name,
            |    CASE WHEN id % 5 = 0 THEN bal + CAST(10 AS DECIMAL(18,2))
            |         ELSE bal END AS bal
            |  FROM old WHERE id % 97 <> 0
            |  UNION ALL
            |  SELECT id * 1000000 + 7, 'synthetic_' || CAST(id AS VARCHAR),
            |    CAST(1 AS DECIMAL(18,2))
            |  FROM old WHERE id % 1000 = 0)
            |SELECT coalesce(n.id, o.id) AS id,
            |  CASE WHEN n.id IS NULL THEN o.name ELSE n.name END AS name,
            |  CAST(CASE WHEN n.id IS NULL THEN o.bal ELSE n.bal END AS DOUBLE) AS bal,
            |  CASE WHEN n.id IS NULL THEN 'D'
            |       WHEN o.id IS NULL THEN 'I'
            |       WHEN o.name <> n.name OR o.bal <> n.bal THEN 'U' END AS op
            |FROM old o FULL OUTER JOIN new n ON o.id = n.id
            |WHERE (CASE WHEN n.id IS NULL THEN 'D'
            |            WHEN o.id IS NULL THEN 'I'
            |            WHEN o.name <> n.name OR o.bal <> n.bal THEN 'U' END)
            |      IS NOT NULL
            |ORDER BY id, op""".stripMargin),
    (s, d) => {
      val old = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
      val neu = old.filter(col("id") % 97 =!= 0)
        .withColumn("bal",
          when(col("id") % 5 === 0, col("bal") + lit(10).cast("decimal(18,2)"))
            .otherwise(col("bal"))
            .cast("decimal(18,2)")) // decimal + widens; restore the schema
        .unionByName(old.filter(col("id") % 1000 === 0).select(
          (col("id") * 1000000 + 7).as("id"),
          concat(lit("synthetic_"), col("id").cast("string")).as("name"),
          lit(1).cast("decimal(18,2)").as("bal")))
      graft.operators.SnapshotDiff.diff(old, neu, "id")
        .select(col("id"), col("name"), col("bal").cast("double").as("bal"),
          col("op"))
        .orderBy("id", "op")
    })

  /** SCD2 interval build: a keyed change history (events as versions of a
    * per-user attribute) becomes validity intervals —
    * [valid_from, valid_to) with a null-open current row — via one lead()
    * window per key. THE slowly-changing-dimension constructor; one
    * shuffle on the key. */
  val q86_scd2_intervals = Q(
    "q86_scd2_intervals",
    Some("""WITH v AS (
            |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS vfrom,
            |    event_id, value
            |  FROM events WHERE event_type = 'purchase')
            |SELECT user_id, vfrom,
            |  lead(vfrom) OVER w AS vto,
            |  (lead(vfrom) OVER w IS NULL) AS is_current,
            |  event_id, value
            |FROM v WINDOW w AS (PARTITION BY user_id ORDER BY vfrom, event_id)
            |ORDER BY user_id, vfrom, event_id""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("vfrom", "event_id")
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("vfrom"),
          col("event_id"), col("value"))
        .withColumn("vto", lead(col("vfrom"), 1).over(w))
        .withColumn("is_current", col("vto").isNull)
        .select("user_id", "vfrom", "vto", "is_current", "event_id", "value")
        .orderBy("user_id", "vfrom", "event_id")
    })

  /** Schema-evolution union: two snapshot generations of the same table
    * with drifted schemas — v2 renamed nothing but DROPPED a column and
    * ADDED one — merged by COLUMN NAME with null fill
    * (unionByName(allowMissingColumns), the lakehouse schema-merge read
    * path; positional UNION would mis-align or reject). Narrow transform:
    * row growth only, no shuffle before the final sort. */
  val q118_schema_evolution = Q(
    "q118_schema_evolution",
    Some("""SELECT o_orderkey, 1 AS gen, o_orderstatus,
            |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
            |  CAST(NULL AS VARCHAR) AS priority_class
            |FROM orders WHERE o_orderkey % 10 < 5
            |UNION ALL
            |SELECT o_orderkey, 2 AS gen, o_orderstatus,
            |  CAST(NULL AS DOUBLE) AS o_totalprice,
            |  substr(o_orderpriority, 1, 1) AS priority_class
            |FROM orders WHERE o_orderkey % 10 >= 5
            |ORDER BY o_orderkey""".stripMargin),
    (s, d) => {
      val v1 = Tables.orders(s, d).filter(col("o_orderkey") % 10 < 5)
        .select(col("o_orderkey"), lit(1).as("gen"), col("o_orderstatus"),
          col("o_totalprice"))
      val v2 = Tables.orders(s, d).filter(col("o_orderkey") % 10 >= 5)
        .select(col("o_orderkey"), lit(2).as("gen"), col("o_orderstatus"),
          substring(col("o_orderpriority"), 1, 1).as("priority_class"))
      v1.unionByName(v2, allowMissingColumns = true)
        .select("o_orderkey", "gen", "o_orderstatus", "o_totalprice",
          "priority_class")
        .orderBy("o_orderkey")
    })

  /** Order-independent table checksum (anti-entropy audit): per source,
    * the exact integer SUM of each row's 52-bit md5 fingerprint over a
    * canonical field serialization. Sum-of-hashes commutes, so the
    * checksum is identical under any partitioning, engine, or row order —
    * two replicas (or a migration source/target) compare one row per
    * source instead of the data. The serialization is NULL-INJECTIVE:
    * fields are coalesced to '' and a trailing null bitmap disambiguates
    * (NULL, 'x') from ('x', NULL) and from ('', 'x') — a bare || chain
    * would null out and silently DROP rows from the audit, and
    * concat_ws would erase field boundaries. One scan + one hash agg;
    * the 52-bit span keeps 2^63/2^52 ≈ 2000× headroom per group before
    * overflow (chunk by group count beyond that). */
  val q119_table_checksum = Q(
    "q119_table_checksum", {
      def f(c: String) = s"coalesce(CAST($c AS VARCHAR), '')"
      def b(c: String) = s"(CASE WHEN $c IS NULL THEN '1' ELSE '0' END)"
      val row = s"${f("doc_id")} || '|' || ${f("lang")} || '|' || " +
        s"${f("source")} || '|' || ${f("n_chars")} || '|' || " +
        s"coalesce(md5(text), '') || '#' || ${b("doc_id")} || ${b("lang")} || " +
        s"${b("source")} || ${b("n_chars")} || ${b("text")}"
      val fp = graft.functions.TextFunctions.hexSpanValSql(s"md5($row)", 0, 13)
      Some(s"""SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
              |  CAST(sum($fp) AS BIGINT) AS checksum
              |FROM documents
              |GROUP BY source
              |ORDER BY source""".stripMargin)
    },
    (s, d) => {
      def f(c: org.apache.spark.sql.Column) = coalesce(c.cast("string"), lit(""))
      def b(c: org.apache.spark.sql.Column) =
        when(c.isNull, lit("1")).otherwise(lit("0"))
      val row = concat(
        f(col("doc_id")), lit("|"), f(col("lang")), lit("|"),
        f(col("source")), lit("|"), f(col("n_chars")), lit("|"),
        coalesce(md5(col("text")), lit("")), lit("#"),
        b(col("doc_id")), b(col("lang")), b(col("source")),
        b(col("n_chars")), b(col("text")))
      val fp = graft.functions.TextFunctions.hexSpanValSql("__h", 0, 13)
      Tables.documents(s, d)
        .withColumn("__h", md5(row))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(fp)).as("checksum"))
        .orderBy("source")
    })

  /** JSONL export/import round trip (the interchange format every
    * training-data pipeline speaks): a projection is written as
    * newline-delimited JSON, read back under an explicit schema, and
    * re-aggregated. The RETURNED numbers have passed through the JSON
    * text, while the oracle computes the same aggregate from the parquet
    * table — so a lossy export (type coercion, encoding, truncation)
    * flips the hash. The export dir is keyed on the sf dir AND the Spark
    * applicationId: the sf key stops a run at another scale overwriting
    * the files between this query's write and read, and the per-process
    * applicationId stops two CONCURRENT processes on the same sf dir
    * (e.g. Verify and Bench in parallel) racing each other's
    * mode(overwrite) delete. */
  val q125_jsonl_roundtrip = Q(
    "q125_jsonl_roundtrip",
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
            |FROM documents
            |GROUP BY source
            |ORDER BY source""".stripMargin),
    (s, d) => {
      val out = exportDir(s, d, "jsonl")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .coalesce(1)
        .write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, source STRING, n_chars LONG").json(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    })

  private val AsOfUs = 1705276800000000L // 2024-01-15 00:00:00 UTC

  /** Time travel — table state AS OF a timestamp, reconstructed from the
    * q86 validity intervals: the row whose [vfrom, vto) covers T is each
    * key's state at T. This is the read side of SCD2 (and of any
    * version-history lake table): one interval predicate over the
    * windowed history, no snapshot copies. Rows first valid after T or
    * already superseded at T drop out; keys with no history at T are
    * absent (exactly a snapshot's semantics). */
  val q130_asof_snapshot = Q(
    "q130_asof_snapshot",
    Some(s"""WITH v AS (
            |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS vfrom,
            |    event_id, value
            |  FROM events WHERE event_type = 'purchase'),
            |iv AS (
            |  SELECT user_id, vfrom,
            |    lead(vfrom) OVER (PARTITION BY user_id
            |      ORDER BY vfrom, event_id) AS vto,
            |    event_id, value
            |  FROM v)
            |SELECT user_id, vfrom, event_id, value
            |FROM iv
            |WHERE vfrom <= $AsOfUs AND (vto IS NULL OR vto > $AsOfUs)
            |ORDER BY user_id""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("vfrom", "event_id")
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("vfrom"),
          col("event_id"), col("value"))
        .withColumn("vto", lead(col("vfrom"), 1).over(w))
        .filter(col("vfrom") <= AsOfUs &&
          (col("vto").isNull || col("vto") > AsOfUs))
        .select("user_id", "vfrom", "event_id", "value")
        .orderBy("user_id")
    })

  private val SkipBucket = 1024L
  private val SkipLo = 5000L
  private val SkipHi = 15000L

  /** Min/max data skipping — the file-statistics pruning every lake
    * format (parquet row groups, Delta/Iceberg file stats) performs, made
    * explicit: per-"file" (orderkey bucket ≈ ingest batch) min/max stats
    * are computed once, a range query consults ONLY the KB-scale stats
    * frame to find buckets whose [min,max] intersects the predicate, and
    * the fact scan is prefiltered to surviving buckets (broadcast of the
    * tiny survivor list) before the exact predicate reapplies. The ORACLE
    * IS THE PLAIN RANGE QUERY — equivalence is hash-proven, so the skip
    * loses nothing. Skipping pays exactly when layout correlates with the
    * predicate (here: ingest-ordered keys, a key-range query — survivors
    * are ~(hi−lo)/bucket of the buckets); for uncorrelated predicates the
    * stats prune nothing, which is why re-clustering (q77 Z-order) is the
    * companion operator. */
  val q138_minmax_prune = Q(
    "q138_minmax_prune",
    Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS sum_price
            |FROM orders
            |WHERE o_orderkey BETWEEN $SkipLo AND $SkipHi
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin),
    (s, d) => {
      val ords = Tables.orders(s, d)
        .withColumn("fb", floor(col("o_orderkey") / SkipBucket))
      val stats = ords.groupBy("fb")
        .agg(min("o_orderkey").as("k_min"), max("o_orderkey").as("k_max"))
      val survivors = stats
        .filter(col("k_max") >= SkipLo && col("k_min") <= SkipHi)
        .select("fb")
      ords.join(broadcast(survivors), "fb")
        .filter(col("o_orderkey").between(SkipLo, SkipHi))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Q.asDouble(sum(Q.dec(col("o_totalprice")))).as("sum_price"))
        .orderBy("o_orderpriority")
    })

  /** Incremental JOIN-view maintenance — q79's delta rule lifted from
    * aggregates to joins: with base snapshots A,B and inserted deltas
    * ΔA,ΔB, the view delta is Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, and the
    * maintained view is old ∪ delta. Every 50th order / 40th customer
    * plays the delta batch; the maintained view is then aggregated per
    * nation and hash-proven equal to the FULL recompute on the updated
    * tables (the oracle) — the identity a lakehouse materialized view
    * relies on to avoid re-reading the base tables.
    *
    * Scale shape: the two cross-delta terms broadcast the (small) delta
    * side, so maintenance touches each base table once with a broadcast
    * probe — never a second full shuffle of A⋈B; only the old-view union
    * re-aggregates, and that is the view, not the bases. */
  val q154_join_ivm = Q(
    "q154_join_ivm",
    Some("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total_price
            |FROM orders JOIN customer ON o_custkey = c_custkey
            |GROUP BY c_nationkey
            |ORDER BY c_nationkey""".stripMargin),
    (s, d) => {
      val a = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val b = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val aOld = a.filter(col("o_orderkey") % 50 =!= 0)
      val dA = a.filter(col("o_orderkey") % 50 === 0)
      val bOld = b.filter(col("c_custkey") % 40 =!= 0)
      val dB = b.filter(col("c_custkey") % 40 === 0)
      val on = col("o_custkey") === col("c_custkey")
      val viewOld = aOld.join(bOld, on)
      val delta = broadcast(dA).join(bOld, on)
        .unionByName(aOld.join(broadcast(dB), on))
        .unionByName(dA.join(broadcast(dB), on))
      viewOld.unionByName(delta)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          Q.asDouble(sum(Q.dec(col("o_totalprice")))).as("total_price"))
        .orderBy("c_nationkey")
    })

  /** CSV export/import round trip — q125's fidelity proof for the OTHER
    * interchange text format, with the hazards CSV actually has: a
    * synthesized column embeds the delimiter AND the quote character, so
    * the hash only matches if quoting/escaping survives the round trip
    * (an unquoted writer or a mis-escaped reader splits the column and
    * changes the group keys). Same export-dir race discipline as q125
    * (sf-dir key + per-process applicationId). */
  val q157_csv_roundtrip = Q(
    "q157_csv_roundtrip",
    Some("""SELECT source || ',"' || lang AS tricky,
            |  CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
            |FROM documents
            |GROUP BY tricky
            |ORDER BY tricky""".stripMargin),
    (s, d) => {
      val out = exportDir(s, d, "csv")
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("source"), lit(",\""), col("lang")).as("tricky"),
          col("n_chars"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema("doc_id LONG, tricky STRING, n_chars LONG")
        .option("header", "true").csv(out)
        .groupBy("tricky")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("tricky")
    })

  /** ORC export/import round trip — the second COLUMNAR format (the
    * engine is not parquet-bound): a money DECIMAL column rides through
    * the ORC writer/reader and re-aggregates to the parquet-sourced
    * oracle's numbers, proving type fidelity for the column class where
    * text formats quietly coerce. */
  val q158_orc_roundtrip = Q(
    "q158_orc_roundtrip",
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total_price
            |FROM orders
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin),
    (s, d) => {
      val out = exportDir(s, d, "orc")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          Q.dec(col("o_totalprice")).as("price"))
        .coalesce(1)
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Q.asDouble(sum(col("price"))).as("total_price"))
        .orderBy("o_orderpriority")
    })

  /** LAYOUT-SKIPPING AUDIT: the measurement that justifies Z-order
    * clustering (q77) — bin the key space once linearly (x-major) and
    * once by Morton code, compute per-bin min/max stats exactly as a
    * writer's file footers would, and count how many "files" a 2-D box
    * probe must scan under each layout. Linear layout bounds only the
    * leading dimension, so the probe hits a file stripe per x-run;
    * Z-bins bound both dimensions.
    *
    * Bins partition the KEY SPACE (z >> s, not row ranks), matching
    * what a range-partitioned write produces — so there is NO global
    * row_number and no single-partition sort anywhere: two hash aggs
    * over ≤1024 groups each, pure integer arithmetic, one rounded
    * division per row of the 2-row report. */
  val q201_layout_skipping = Q(
    "q201_layout_skipping", {
      val z = graft.operators.Layout.zValueSql("x", "y", 6)
      Some(s"""WITH pts AS (
              |  SELECT CAST(l_partkey % 64 AS BIGINT) AS x,
              |    CAST(l_suppkey % 64 AS BIGINT) AS y
              |  FROM lineitem),
              |keyed AS (
              |  SELECT x, y,
              |    CAST($z AS BIGINT) // 64 AS zf,
              |    (x * 64 + y) // 64 AS lf
              |  FROM pts),
              |zb AS (
              |  SELECT zf AS f, min(x) AS mnx, max(x) AS mxx,
              |    min(y) AS mny, max(y) AS mxy,
              |    CAST(count(*) AS BIGINT) AS rows_f
              |  FROM keyed GROUP BY zf),
              |lb AS (
              |  SELECT lf AS f, min(x) AS mnx, max(x) AS mxx,
              |    min(y) AS mny, max(y) AS mxy,
              |    CAST(count(*) AS BIGINT) AS rows_f
              |  FROM keyed GROUP BY lf),
              |rep AS (
              |  SELECT 'linear' AS layout, * FROM lb
              |  UNION ALL SELECT 'zorder', * FROM zb)
              |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
              |  CAST(sum(CASE WHEN mnx <= 23 AND mxx >= 16
              |    AND mny <= 23 AND mxy >= 16 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS files_hit,
              |  CAST(sum(rows_f) AS BIGINT) AS rows_total,
              |  CAST(sum(CASE WHEN mnx <= 23 AND mxx >= 16
              |    AND mny <= 23 AND mxy >= 16 THEN rows_f ELSE 0 END)
              |    AS BIGINT) AS rows_hit,
              |  round(1 - CAST(sum(CASE WHEN mnx <= 23 AND mxx >= 16
              |    AND mny <= 23 AND mxy >= 16 THEN 1 ELSE 0 END)
              |    AS DOUBLE) / count(*), 6) AS skip_pct
              |FROM rep GROUP BY layout ORDER BY layout""".stripMargin)
    },
    (s, d) => {
      val keyed = Tables.lineitem(s, d)
        .select((col("l_partkey") % 64).cast("long").as("x"),
          (col("l_suppkey") % 64).cast("long").as("y"))
        .withColumn("zf",
          (graft.operators.Layout.zValue(col("x"), col("y"), 6) /
            64).cast("long"))
        .withColumn("lf",
          ((col("x") * 64 + col("y")) / 64).cast("long"))
      def bins(f: String) = keyed.groupBy(col(f).as("f"))
        .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
          min(col("y")).as("mny"), max(col("y")).as("mxy"),
          count(lit(1)).as("rows_f"))
      val hit = col("mnx") <= 23 && col("mxx") >= 16 &&
        col("mny") <= 23 && col("mxy") >= 16
      def report(layout: String, b: org.apache.spark.sql.DataFrame) =
        b.agg(count(lit(1)).as("n_files"),
          sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
          sum(col("rows_f")).as("rows_total"),
          sum(when(hit, col("rows_f")).otherwise(0L)).as("rows_hit"))
          .select(lit(layout).as("layout"), col("n_files"),
            col("files_hit"), col("rows_total"), col("rows_hit"),
            round(lit(1) - col("files_hit").cast("double") /
              col("n_files"), 6).as("skip_pct"))
      report("linear", bins("lf")).union(report("zorder", bins("zf")))
        .orderBy("layout")
    })

  private val ChVirtual = 64   // virtual nodes per shard on the hash ring
  private val ChFrom = 4       // shard count before the resize
  private val ChTo = 5         // shard count after

  /** Consistent-hashing resize audit: the movement matrix when a
    * sharded layout grows from $ChFrom to $ChTo shards. Keys and ring
    * positions are 13-hex-digit md5 values (the engine's portable-hash
    * device); a key belongs to the shard owning the smallest ring
    * position at-or-after it (wrapping). The report is the
    * (from_shard → to_shard) doc-count matrix — consistent hashing's
    * whole pitch is that the off-diagonal mass is ≈ 1/$ChTo, where
    * modulo sharding moves almost everything; this entry MEASURES it.
    *
    * Scale shape: each ring (shards × $ChVirtual entries, a constant) is
    * computed DRIVER-SIDE with the same md5-hex-span arithmetic the SQL
    * uses, sorted, and carried into the scan as literal arrays inside
    * the native `RingOwner` expression — the owning shard is one binary
    * search per key (log₂|ring| compares; the first cut's per-row
    * O(|ring|) interpreted HOF fold was 1.5 s at sf0.1, this is
    * scan-noise). Both the before- and after-ring assignments happen in
    * the SAME pass over documents: no per-key window, no crossJoin at
    * all, no doc_id self-join; the only shuffle is the final 20-group
    * movement-matrix aggregation. Pure integer hash arithmetic (52-bit
    * values in longs) — nothing to round. */
  val q238_shard_resize = Q(
    "q238_shard_resize", {
      def ring(n: Int, name: String) =
        s"""$name AS (
           |  SELECT s.i AS shard, ${hx(s"md5(s.i || '|' || v.i)")} AS rpos
           |  FROM generate_series(0, ${n - 1}) s(i)
           |  CROSS JOIN generate_series(0, ${ChVirtual - 1}) v(i))""".stripMargin
      def assign(ringName: String, outName: String) =
        s"""$outName AS (
           |  SELECT doc_id, shard FROM (
           |    SELECT k.doc_id, r.shard,
           |      ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY
           |        CASE WHEN r.rpos >= k.kpos THEN r.rpos - k.kpos
           |             ELSE r.rpos - k.kpos + 4503599627370496 END,
           |        r.shard) AS rn
           |    FROM keys k CROSS JOIN $ringName r) t
           |  WHERE rn = 1)""".stripMargin
      Some(s"""WITH keys AS (
              |  SELECT doc_id, ${hx("md5(CAST(doc_id AS VARCHAR))")} AS kpos
              |  FROM documents),
              |${ring(ChFrom, "ring_a")},
              |${ring(ChTo, "ring_b")},
              |${assign("ring_a", "asg_a")},
              |${assign("ring_b", "asg_b")}
              |SELECT a.shard AS from_shard, b.shard AS to_shard,
              |  CAST(count(*) AS BIGINT) AS n_docs
              |FROM asg_a a JOIN asg_b b ON a.doc_id = b.doc_id
              |GROUP BY a.shard, b.shard
              |ORDER BY from_shard, to_shard""".stripMargin)
    },
    (s, d) => {
      def owner(n: Int): org.apache.spark.sql.Column = {
        val (rpos, shard) = ringArrays(n)
        val br = org.apache.spark.sql.GraftBridge
        br.column(graft.functions.RingOwner(
          br.expression(col("kpos")), rpos, shard))
      }
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(hx("md5(CAST(doc_id AS STRING))")).as("kpos"))
        .select(owner(ChFrom).as("from_shard"),
          owner(ChTo).as("to_shard"))
        .groupBy("from_shard", "to_shard")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("from_shard", "to_shard")
    })

  /** Driver-side ring construction — the JVM mirror of the oracle's
    * `md5(shard || '|' || vnode)` 13-hex-digit span, sorted by position.
    * MD5 is MD5: the JVM digest of the identical bytes yields the
    * identical hex, so these constants are bit-equal to what the SQL
    * ring CTE computes (spec-pinned in NativeExprPropertiesSpec). */
  private[graft] def ringArrays(n: Int): (Array[Long], Array[Long]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val entries = (for { sh <- 0 until n; v <- 0 until ChVirtual } yield {
      val hex = md.digest(s"$sh|$v".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(13), 16), sh.toLong)
    }).sortBy(_._1)
    require(entries.map(_._1).distinct.size == entries.size,
      "ring position collision — the oracle's lowest-shard tie rule " +
        "would apply; regenerate with a different vnode count")
    (entries.map(_._1).toArray, entries.map(_._2).toArray)
  }

  /** 13-hex-digit md5 span as BIGINT (52-bit) — the shared ring/key
    * position hash. */
  private def hx(md5Expr: String) =
    graft.functions.TextFunctions.hexSpanValSql(md5Expr, 0, 13)

  /** Retention/vacuum planner — the third lake-maintenance leg beside
    * q77/q201 (layout) and q245 (compaction): on the q86 SCD2 versioned
    * table, a version is VACUUM-ELIGIBLE once it is superseded (vto set)
    * AND its supersession predates the retention cutoff — current
    * versions and recently-superseded ones (time-travel window, q130)
    * must stay. The cutoff is derived in exact integer µs as
    * vmin + 4/5·(vmax − vmin), so the plan is scale-invariant and
    * bit-identical cross-engine. Per-day report: version counts,
    * deletable counts, survivors, reclaim fraction.
    *
    * Scale shape: the q86 user-keyed window (one shuffle), a 1-row
    * min/max bound broadcast, one day-grid hash agg — nothing else. */
  val q250_vacuum_plan = Q(
    "q250_vacuum_plan",
    Some("""WITH v AS (
            |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS vfrom, event_id
            |  FROM events WHERE event_type = 'purchase'),
            |iv AS (
            |  SELECT user_id, vfrom,
            |    lead(vfrom) OVER (PARTITION BY user_id
            |      ORDER BY vfrom, event_id) AS vto
            |  FROM v),
            |bounds AS (
            |  SELECT CAST(min(vfrom) AS BIGINT) AS vmin,
            |         CAST(max(vfrom) AS BIGINT) AS vmax FROM iv),
            |cut AS (SELECT vmin + (vmax - vmin) * 4 // 5 AS cutoff FROM bounds)
            |SELECT CAST(vfrom // 86400000000 AS BIGINT) AS day,
            |  CAST(count(*) AS BIGINT) AS n_versions,
            |  CAST(sum(CASE WHEN vto IS NOT NULL AND vto < cutoff
            |       THEN 1 ELSE 0 END) AS BIGINT) AS n_deletable,
            |  CAST(sum(CASE WHEN vto IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            |    AS n_current,
            |  round(CAST(sum(CASE WHEN vto IS NOT NULL AND vto < cutoff
            |       THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
            |    AS reclaim_frac
            |FROM iv CROSS JOIN cut
            |GROUP BY 1 ORDER BY day""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("vfrom", "event_id")
      val v = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("vfrom"),
          col("event_id"))
      val iv = v.withColumn("vto", lead(col("vfrom"), 1).over(w))
      // bounds are window-invariant: lead() can't change min/max(vfrom),
      // so the cutoff branch aggregates the PRE-window projection — one
      // scan + a 1-row partial agg instead of replaying the key shuffle
      val cut = v.agg(min(col("vfrom")).as("vmin"), max(col("vfrom")).as("vmax"))
        .select(expr("vmin + (vmax - vmin) * 4 div 5").as("cutoff"))
      val deletable = col("vto").isNotNull && col("vto") < col("cutoff")
      iv.crossJoin(broadcast(cut))
        .groupBy(expr("vfrom div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(deletable, 1L).otherwise(0L)).as("n_deletable"),
          sum(when(col("vto").isNull, 1L).otherwise(0L)).as("n_current"),
          round(sum(when(deletable, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("reclaim_frac"))
        .orderBy("day")
    })

  /** Bitemporal as-of lookup — the time-travel read q130 (valid time)
    * and q86 (SCD2 intervals) stop short of: "as of VALID time V, as
    * KNOWN at TRANSACTION time T". The version stream is the purchase
    * history with a deterministic md5-derived ingest delay as the
    * transaction time (late-arriving data is the whole point — a
    * version can be valid before the warehouse knew it). A 3×3 probe
    * grid (exact integer fractions of the observed span) broadcasts
    * against the versions; per (probe, user) the answer is the max
    * vfrom among versions with vfrom ≤ V AND tx ≤ T (one keyed window,
    * rank never globalizes); the report aggregates per probe. Answers
    * MUST differ along the T axis where V is fixed — that delta IS the
    * late-data correction a transaction-time-blind read silently
    * backdates. */
  val q297_bitemporal_asof = Q(
    "q297_bitemporal_asof", {
      import graft.functions.TextFunctions.hexSpanValSql
      val delay = s"(${hexSpanValSql("h", 0, 6)} % 259200000000)" // 0..3 days µs
      Some(s"""WITH v AS (
              |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS vfrom,
              |    CAST(epoch_us(ts) AS BIGINT) + $delay AS tx,
              |    event_id,
              |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
              |      AS cents
              |  FROM (SELECT *, md5(CAST(event_id AS VARCHAR)) AS h
              |        FROM events WHERE event_type = 'purchase')),
              |span AS (
              |  SELECT min(vfrom) AS lo, max(tx) AS hi FROM v),
              |probes AS (
              |  SELECT lo + k.v * ((hi - lo) // 4) AS vq,
              |    lo + t.v * ((hi - lo) // 4) AS tq
              |  FROM span
              |  CROSS JOIN (VALUES (1), (2), (3)) k(v)
              |  CROSS JOIN (VALUES (1), (2), (3)) t(v)),
              |hit AS (
              |  SELECT p.vq, p.tq, v.user_id, v.cents,
              |    row_number() OVER (PARTITION BY p.vq, p.tq, v.user_id
              |      ORDER BY v.vfrom DESC, v.event_id DESC) AS rn
              |  FROM v JOIN probes p ON v.vfrom <= p.vq AND v.tx <= p.tq)
              |SELECT vq, tq, CAST(count(*) AS BIGINT) AS n_users,
              |  CAST(CAST(sum(cents) AS DOUBLE) / 100 AS DOUBLE)
              |    AS total_value
              |FROM hit WHERE rn = 1
              |GROUP BY vq, tq
              |ORDER BY vq, tq""".stripMargin)
    },
    (s, d) => {
      import graft.functions.TextFunctions.hexSpanValSql
      val v = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("h", md5(col("event_id").cast("string")))
        .select(col("user_id"), expr("ts div 1000").as("vfrom"),
          (expr("ts div 1000") +
            expr(hexSpanValSql("h", 0, 6)) % 259200000000L).as("tx"),
          col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val span = v.agg(min("vfrom").as("lo"), max("tx").as("hi"))
      val ks = Seq(1L, 2L, 3L)
      val probes = span
        .withColumn("kv", explode(array(ks.map(lit): _*)))
        .withColumn("tv", explode(array(ks.map(lit): _*)))
        .select((col("lo") + col("kv") * expr("(hi - lo) div 4")).as("vq"),
          (col("lo") + col("tv") * expr("(hi - lo) div 4")).as("tq"))
      val w = Window.partitionBy("vq", "tq", "user_id")
        .orderBy(col("vfrom").desc, col("event_id").desc)
      v.join(broadcast(probes),
          col("vfrom") <= col("vq") && col("tx") <= col("tq"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("vq", "tq")
        .agg(count(lit(1)).as("n_users"),
          (sum("cents").cast("double") / 100).cast("double")
            .as("total_value"))
        .orderBy("vq", "tq")
    })

  val all: Seq[Q] = Seq(q85_snapshot_diff, q86_scd2_intervals,
    q118_schema_evolution, q119_table_checksum, q125_jsonl_roundtrip,
    q130_asof_snapshot, q138_minmax_prune, q154_join_ivm,
    q157_csv_roundtrip, q158_orc_roundtrip, q201_layout_skipping,
    q238_shard_resize, q250_vacuum_plan, q297_bitemporal_asof)
}
