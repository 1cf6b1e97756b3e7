package ingestbench

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic tables with the column names and types the catalog
  * mix reads through `graft.Tables`: region, nation, customer, orders and
  * lineitem of a TPC-H-like star schema, plus `events` and `documents`.
  * Every value is a hash of (seed, row id, column), so a seed gives the
  * same tables at any partitioning. Row counts follow the scale factor
  * `sf` as TPC-H's do. */
object TableGen {
  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "the", "merge", "batch", "window", "spark",
    "order", "data", "column", "join", "small", "line", "customer", "query",
    "filter", "sort", "stream", "index", "page", "cache")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1L, (base * sf).toLong)
    val id = col("id")
    /** Uniform integer in [0, m) for column `salt`. */
    def u(salt: Int, m: Long): Column =
      pmod(xxhash64(id, lit(seed), lit(salt)), lit(m))
    def money(salt: Int, lo: Double, span: Long): Column =
      (lit(lo) + u(salt, span * 100) / 100.0).cast("double")
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(salt, xs.size) + 1).cast("int"))
    def day(salt: Int, from: String, days: Long): Column =
      date_add(lit(from).cast("date"), u(salt, days).cast("int"))
        .cast("timestamp").cast("timestamp_ntz")
    val nCust = n(150000); val nOrd = n(1500000); val nLine = n(6000000)
    val nEv = n(1000000)
    val nDoc = math.max(50L, n(50000)); val nUser = math.max(10L, n(15000))

    val writes = mutable.ArrayBuffer.empty[Future[Unit]]
    /** Tables are written concurrently, each by one task. */
    def save(name: String, df: DataFrame): Unit =
      writes += Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))

    save("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (id + 1).cast("int")).as("r_name")))
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"), money(2, -999, 10999).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    save("orders", spark.range(nOrd).select(id.as("o_orderkey"),
      u(11, nCust).as("o_custkey"), pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 800, 500000).as("o_totalprice"), day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", spark.range(nLine).select(u(16, nOrd).as("l_orderkey"),
      u(17, n(200000)).as("l_partkey"), u(18, n(10000)).as("l_suppkey"),
      (u(19, 7) + 1).cast("int").as("l_linenumber"),
      (u(20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 900, 100000).as("l_extendedprice"),
      (u(22, 11) / 100.0).cast("double").as("l_discount"),
      (u(23, 9) / 100.0).cast("double").as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"), pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2498).as("l_shipdate")))
    val span = 30L * 86400 * 1000000 / nEv
    save("events", spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * span + u(27, span))
        .cast("timestamp_ntz").as("ts"),
      u(28, nUser).as("user_id"),
      pick(29, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      money(30, 0, 100).as("value"),
      format_string("{\"k\": %d}", u(31, 100)).as("props")))
    val words = transform(sequence(lit(1), (u(32, 60) + 20).cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(id, i, lit(seed)), lit(Vocab.size.toLong)) + 1).cast("int")))
    save("documents", spark.range(nDoc).select(id.as("doc_id"),
      concat_ws(" ", words).as("text"),
      pick(33, Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
