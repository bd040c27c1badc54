package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission, PosixFilePermissions}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileAlreadyExistsException, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext

/** Hadoop's checksummed local file system (`file:`), starting no process.
  *
  * Without libhadoop (`NativeIO.isAvailable()` false), Hadoop's
  * `RawLocalFileSystem` runs a `chmod` process in `setPermission`, for
  * every file, `.crc` sidecar and directory it creates, and a `readlink`
  * process in `getFileLinkStatus`, which every `FileContext` rename calls.
  * [[NioLocalFileSystem.Raw]] does both with `java.nio`: it sets the same
  * mode bits, so the umask Hadoop applied before `setPermission` still
  * holds. Checksums, listings, reads and `FileSystem.rename` stay Hadoop's.
  *
  * [[NioLocalFileSystem.install]] makes this class `fs.file.impl` and
  * [[NioLocalFileSystem.Fs]] `fs.AbstractFileSystem.file.impl`, so parquet
  * writes, RocksDB state uploads and Spark's own streaming checkpoint
  * manager (a `FileContext` one) all go through it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Make graft's local file system the `file:` implementation of every
    * session on `sc`, for `FileSystem` and for `FileContext`. A key set
    * anywhere but Hadoop's own `core-default.xml` (which names `LocalFs`
    * for `FileContext`) wins: `spark.hadoop.fs.…`, a `core-site.xml`, a
    * `Configuration.set`. Sessions copy the context's Hadoop
    * configuration, so this runs before the first session is built. */
  def install(sc: SparkContext): Unit = {
    val conf = sc.hadoopConfiguration
    Seq("fs.file.impl" -> classOf[NioLocalFileSystem],
        "fs.AbstractFileSystem.file.impl" -> classOf[Fs]).foreach { case (key, cls) =>
      if (Option(conf.getPropertySources(key)).forall(_.forall(_ == "core-default.xml")))
        conf.set(key, cls.getName)
    }
  }

  /** The raw (unchecksummed) file system under both forms. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission) // no sticky bit in java.nio
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermission.values.filter(b => (permission.toShort & (0x100 >> b.ordinal)) != 0)
          .toSet.asJava)

    /** `p`'s status; for a symbolic link, the link's with its qualified
      * target, and for a dangling one an empty status with the target. */
    override def getFileLinkStatus(p: Path): FileStatus = {
      val file = pathToFile(p).toPath
      if (!Files.isSymbolicLink(file)) getFileStatus(p)
      else {
        val target = FSLinkResolver.qualifySymlinkTarget(getUri, p,
          new Path(Files.readSymbolicLink(file).toString))
        Try(Files.readAttributes(file, classOf[PosixFileAttributes])).toOption match {
          case Some(a) => new FileStatus(a.size, false, 1, getDefaultBlockSize(p),
            a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
            FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
            a.owner.getName, a.group.getName, target, p)
          case None => new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            target, p)
        }
      }
    }

    override def getLinkTarget(p: Path): Path = getFileLinkStatus(p).getSymlink
  }

  /** Hadoop's `RawLocalFs` over [[Raw]] (its own hard-codes
    * `new RawLocalFileSystem()`), with HDFS's atomic rename of a file. */
  class RawFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(p: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true

    /** A file moves in one step: with `overwrite` by an atomic rename over
      * `dst`; without, by a hard link that fails with Hadoop's
      * `FileAlreadyExistsException` when `dst` exists, so a concurrent
      * writer never loses its file (`HDFSMetadataLog` relies on this),
      * then the unlink of `src`. A directory moves as Hadoop moves it. */
    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
      val raw = fsImpl.asInstanceOf[Raw]
      val (from, to) = (raw.pathToFile(src).toPath, raw.pathToFile(dst).toPath)
      if (Files.isDirectory(from, LinkOption.NOFOLLOW_LINKS))
        super.renameInternal(src, dst, overwrite)
      else try {
        if (overwrite) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
        else {
          Files.createLink(to, from)
          Files.delete(from)
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"Rename destination $dst already exists.")
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      }
    }
  }

  /** The `FileContext` form, for `fs.AbstractFileSystem.file.impl`:
    * Hadoop's `LocalFs` over [[RawFs]]. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))
}
