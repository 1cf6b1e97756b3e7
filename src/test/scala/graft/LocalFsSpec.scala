package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.LocalFs
import graft.pipeline.KafkaToParquet

/** `graft.io.LocalFs` against stock Hadoop: each case runs the same calls
  * through both on sibling paths and compares what lands on disk. */
class LocalFsSpec extends AnyFunSuite {
  import LocalFsSpec._

  private val root = Uri.resolve(Files.createTempDirectory("graft_localfs").toString + "/")

  /** (stock, graft) configurations: `file:` FileSystem and FileContext. */
  private def confs: (Configuration, Configuration) = {
    val stock, graft = new Configuration()
    LocalFs.writeOptions.foreach { case (k, v) => graft.set(k, v) }
    graft.set(LocalFs.AbstractFileSystemKey, classOf[LocalFs.Fs].getName)
    (stock, graft)
  }

  /** Runs `body` once per side, each under its own sibling dir, and returns
    * both results. Checks first that only the graft side is `LocalFs`. */
  private def bothSides[T](name: String)(body: (FileSystem, FileContext, Path) => T): (T, T) = {
    val (stock, graft) = confs
    def side(label: String, conf: Configuration, fs: FileSystem) = {
      val fc = FileContext.getFileContext(Uri, conf)
      val isGraft = label == "graft"
      assert(fs.isInstanceOf[LocalFs.FileSystem] == isGraft &&
        fc.getDefaultFileSystem.isInstanceOf[LocalFs.Fs] == isGraft)
      body(fs, fc, new Path(root.resolve(s"$name/$label")))
    }
    (side("stock", stock, FileSystem.newInstance(Uri, stock)),
      side("graft", graft, FileSystem.get(Uri, graft)))
  }

  /** Every path under `dir`, relative, with its permission bits (sticky too). */
  private def modes(dir: Path): Map[String, Int] = {
    val base = Paths.get(dir.toUri)
    val walk = Files.walk(base)
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => base.relativize(p).toString -> (Files.getAttribute(p, "unix:mode")
        .asInstanceOf[Int] & 0x3ff))
      .toMap
    finally walk.close()
  }

  test("files, dirs and .crc files get stock Hadoop's permission bits") {
    val (stock, graft) = bothSides("perm") { (fs, fc, dir) =>
      fs.mkdirs(new Path(dir, "fs/a/b"))
      fs.mkdirs(new Path(dir, "fs/private"), perm("700"))
      fs.create(new Path(dir, "fs/a/b/part.parquet")).close()
      fs.create(new Path(dir, "fs/a/owner.bin"), perm("640"), false, 4096,
        1.toShort, 1L << 20, null).close()
      fc.mkdir(new Path(dir, "fc/offsets"), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(dir, "fc/offsets/0"),
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write("v1".getBytes("UTF-8")); out.close()
      modes(dir)
    }
    assert(graft == stock)
    // the checksummed create wrote its .crc, and the umask applied
    assert(graft("fs/a/b/.part.parquet.crc") == Integer.parseInt("644", 8))
    assert(graft("fs/private") == Integer.parseInt("700", 8))
    assert(graft("fs/a/owner.bin") == Integer.parseInt("640", 8))
    assert(graft("fc/offsets") == Integer.parseInt("755", 8))
  }

  test("a no-overwrite FileContext rename onto an existing file fails on both") {
    val (stock, graft) = bothSides("rename") { (_, fc, dir) =>
      def write(name: String, body: String): Path = {
        val p = new Path(dir, name)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
        out.write(body.getBytes("UTF-8")); out.close()
        p
      }
      val (tmp, done) = (write(".1.tmp", "new"), write("1", "old"))
      val refused = intercept[FileAlreadyExistsException](
        fc.rename(tmp, done, Options.Rename.NONE))
      fc.rename(tmp, new Path(dir, "2"), Options.Rename.NONE)
      val kept = new String(Files.readAllBytes(Paths.get(done.toUri)), "UTF-8")
      (refused.getClass, kept, modes(dir).keySet)
    }
    assert(graft == stock)
    assert(graft._2 == "old")
    assert(graft._3 == Set("", "1", ".1.crc", "2", ".2.crc"))
  }

  test("getFileLinkStatus on a file, dir, symlink, dangling symlink and missing path") {
    val (stock, graft) = bothSides("links") { (fs, fc, dir) =>
      val d = Files.createDirectories(Paths.get(dir.toUri))
      Files.write(d.resolve("file"), "abc".getBytes("UTF-8"))
      Files.createDirectory(d.resolve("dir"))
      Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      val raw = fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw
      for {
        name <- Seq("file", "dir", "link", "dangling", "missing")
        (via, status) <- Seq[(String, Path => org.apache.hadoop.fs.FileStatus)](
          // unqualified (the path form Hadoop's readlink resolves) and qualified
          "fs" -> (p => raw.getFileLinkStatus(Path.getPathWithoutSchemeAndAuthority(p))),
          "fc" -> (p => fc.getFileLinkStatus(p)))
      } yield s"$via:$name" -> (try {
        val s = status(new Path(dir, name))
        (s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPermission.toString,
          s.getPath.getName, if (s.isSymlink) s.getSymlink.getName else "").toString
      } catch { case e: java.io.IOException => e.getClass.getName })
    }
    assert(graft == stock)
    val byName = graft.toMap
    assert(byName("fs:link").contains("true,3,") && byName("fs:dangling").contains(",true,"))
    assert(byName("fs:missing") == classOf[java.io.FileNotFoundException].getName)
  }

  test("setPermission matches stock bits, sticky bit included") {
    val (stock, graft) = bothSides("sticky") { (fs, _, dir) =>
      fs.mkdirs(new Path(dir, "shared"))
      fs.setPermission(new Path(dir, "shared"), perm("1777"))
      fs.create(new Path(dir, "f")).close()
      fs.setPermission(new Path(dir, "f"), perm("600"))
      modes(dir)
    }
    assert(graft == stock)
    assert(graft("shared") == Integer.parseInt("1777", 8))
    assert(graft("f") == Integer.parseInt("600", 8))
  }

  test("the pipeline's write options and a session after runStream resolve to LocalFs") {
    val spark = SparkTestSession.spark.newSession()
    def conf = spark.sessionState.newHadoopConf()
    assert(new Path(Uri).getFileSystem(
      spark.sessionState.newHadoopConfWithOptions(LocalFs.writeOptions))
      .isInstanceOf[LocalFs.FileSystem])
    assert(!FileContext.getFileContext(Uri, conf).getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val q = KafkaToParquet.runStream(MemoryStream[Rec].toDF(), "none",
      new graft.ingest.FixtureSchemaProvider(Map.empty), root.resolve("stream/out").toString,
      root.resolve("stream/ckpt").toString, "key", Trigger.ProcessingTime(0))
    try q.processAllAvailable() finally q.stop()
    assert(FileContext.getFileContext(Uri, conf).getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
  }
}

object LocalFsSpec {
  private val Uri = new URI("file:///")
  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
  case class Rec(key: Array[Byte], value: Array[Byte])
}
