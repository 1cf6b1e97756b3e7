package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.io.LocalFs
import graft.sources.{FileStore, ParquetRowIO}

/** The lake's file I/O (`ParquetRowIO`): one loaded Hadoop conf bound to
  * [[LocalFs]], a private copy per read, and partition readers that
  * release their file when a task stops early. */
class LakeFileIoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Uri = new URI("file:///")
  private val cols = Array(FileStore.FCol(0, "k", LongType),
    FileStore.FCol(1, "s", StringType), FileStore.FCol(2, "d", DoubleType),
    FileStore.FCol(3, "i", IntegerType), FileStore.FCol(4, "b", BooleanType))
  private def row(k: Long): Array[Any] = Array[Any](k: java.lang.Long,
    UTF8String.fromString(s"s$k"), (k * 0.5): java.lang.Double,
    (k % 7).toInt: java.lang.Integer, (k % 2 == 0): java.lang.Boolean)

  /** Every path under `dir`, relative, with its permission bits. */
  private def modes(dir: java.nio.file.Path): Map[String, Int] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.map(p => dir.relativize(p).toString ->
      (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff)).toMap
    finally walk.close()
  }

  test("lake data files and their .crc get stock Hadoop's permission bits, " +
      "written through LocalFs") {
    assert(new Path(Uri).getFileSystem(ParquetRowIO.conf())
      .isInstanceOf[LocalFs.FileSystem])
    val root = Files.createTempDirectory("graft_lakeio_perm")
    val stock = FileSystem.newInstance(Uri, new Configuration())
    try {
      val out = stock.create(new Path(root.resolve("stock/data/f.parquet").toUri))
      out.write(Array[Byte](1, 2, 3)); out.close()
    } finally stock.close()
    // the write's bytes pass through LocalFs, not the cached stock `file:`
    @annotation.nowarn("cat=deprecation")
    val graftStats = FileSystem.getStatistics("file", classOf[LocalFs.Raw])
    val before = graftStats.getBytesWritten
    ParquetRowIO.writeFile(root.resolve("graft/data/f.parquet").toString, cols,
      (1L to 50L).iterator.map(row))
    assert(graftStats.getBytesWritten > before)
    val (s, g) = (modes(root.resolve("stock")), modes(root.resolve("graft")))
    assert(g == s)
    assert(g("data/.f.parquet.crc") == Integer.parseInt("644", 8))
    assert(g("data") == Integer.parseInt("755", 8))
  }

  test("concurrent reads of one file with different projections each get " +
      "only their own columns") {
    val path = Files.createTempDirectory("graft_lakeio_proj")
      .resolve("f.parquet").toString
    val rows = (1L to 400L).map(row)
    ParquetRowIO.writeFile(path, cols, rows.iterator)
    val projections = cols.indices.flatMap(i =>
      Seq(Array(cols(i)), cols.filterNot(_ == cols(i)).reverse))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val reads = for (_ <- 1 to 4; p <- projections) yield Future(
        p -> ParquetRowIO.readFile(path, cols.map(_.id), p).toArray)
      for ((p, got) <- Await.result(Future.sequence(reads), 2.minutes))
        assert(got.toSeq.map(_.toSeq) == rows.map(r => p.toSeq.map(c => r(c.id))),
          s"projection ${p.map(_.name).mkString(",")}")
    } finally pool.shutdown()
    assert(ParquetRowIO.conf().get(ReadSupport.PARQUET_READ_SCHEMA) == null,
      "a read's projection leaked into the shared conf")
  }

  test("audit: lake file I/O loads one Hadoop conf and builds no path-based " +
      "parquet reader") {
    // A line outside a comment is named by the file and the member (an
    // object's direct val, def or class) it sits in.
    val member = ("^ {0,2}(?:(?:private|protected)(?:\\[\\w+\\])? |final |lazy |" +
      "case |override )*(?:val|def|class|object|trait) (\\w+)").r.unanchored
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    val root = Paths.get("src/main/scala/graft/sources")
    def hits(p: String): List[String] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sorted.flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        val owners = lines.scanLeft("")((o, l) => l match {
          case member(name) => name
          case _ => o
        }).tail
        lines.indices.filter(i => !isComment(lines(i)) && lines(i).contains(p))
          .map(i => s"${f.getFileName}:${owners(i)}")
      }
    assert(hits("new Configuration()") == List("GraftFileStore.scala:baseConf"))
    assert(hits("ParquetReader.builder(") == Nil)
  }

  test("a lake scan stopped by a limit releases its open files") {
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds))
    def open(): Int = {
      System.gc()
      val ds = Files.list(fds)
      try ds.count().toInt finally ds.close()
    }
    val tbl = "graftlake.ns.spec_lakeio_limit"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.storage'='files')")
    try {
      spark.range(0, 8000).select(col("id").as("k"),
          concat(lit("v"), col("id").cast("string")).as("v"))
        .repartition(8).writeTo(tbl).append()
      assert(FileStore.stateOf("ns.spec_lakeio_limit").get.files.length == 8)
      def query() = spark.table(tbl).filter(col("k") % 3 === 0).limit(3).collect()
      query() // the first query opens what the session keeps open
      val before = open()
      (1 to 40).foreach(_ => assert(query().length == 3))
      val after = open()
      info(s"open fds: $before before, $after after")
      assert(after - before <= 8, s"open fds went from $before to $after over 40 reads")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("the JVM's default lake root is removed at exit") {
    assert(Files.isDirectory(Paths.get(FileStore.defaultBase)))
    assert(graft.io.ExitCleanup.isRegistered(FileStore.defaultBase))
  }
}
