package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local (`file:`) filesystem without a process per call. With no
  * libhadoop on the host (pip and tarball Spark ship none),
  * `RawLocalFileSystem` forks `chmod` on every file create and mkdir and
  * `readlink` on every `FileContext` link-status probe: 29 processes of
  * ~3.5 ms each per streamed micro-batch. [[Raw]] does both in the JVM;
  * files, `.crc` files and permission bits are the same.
  *
  * The pipeline's writes, the catalog's stream checkpoints ([[bind]]) and
  * the lake's data files (`graft.sources.ParquetRowIO`, whose one loaded
  * conf carries [[writeOptions]]) all go through it. */
object LocalFs {

  /** `RawLocalFileSystem` with an in-JVM `setPermission` and link probe. */
  class Raw extends RawLocalFileSystem {
    /** `chmod` through NIO; NIO cannot set a sticky bit, so that goes to Hadoop. */
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(perm))

    /** Hadoop returns `getFileStatus` for anything but a symlink. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Checksummed `FileSystem` over [[Raw]] (Hadoop's `LocalFileSystem`). */
  class FileSystem extends LocalFileSystem(new Raw)

  /** Hadoop's `RawLocalFs` over [[Raw]]; its constructors are package-private. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Checksummed `AbstractFileSystem` over [[RawFs]] (Hadoop's `LocalFs`). */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** Binds `FileContext` on `file:` to [[Fs]]; Hadoop never caches one. */
  val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"

  /** Binds `FileContext` on `file:` to [[Fs]] in `spark`'s session conf. A
    * stream captures that conf at `start()` for its offset, commit and
    * metadata logs and its state-store files, so every streaming query
    * started after this writes them without a process. The value is
    * always the same, so binding again is harmless. */
  def bind(spark: SparkSession): Unit =
    spark.conf.set(AbstractFileSystemKey, classOf[Fs].getName)

  /** Write options that bind `file:` to [[FileSystem]]: the cached `file:`
    * instance predates them, so the cache is bypassed for the write. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[FileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `PosixFilePermission.values` runs from `OWNER_READ` (0400) down to
    * `OTHERS_EXECUTE` (0001). */
  private def posix(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((p, i) <- PosixFilePermission.values.zipWithIndex
         if (perm.toShort & (0x100 >> i)) != 0) set.add(p)
    set
  }
}
