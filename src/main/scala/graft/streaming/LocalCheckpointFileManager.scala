package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  LocalFileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
  .CancellableFSDataOutputStream

/** The streaming checkpoint manager of a graft session: every offset WAL,
  * commit log, file-source log and state-store file goes through it.
  *
  * On a path whose `FileSystem` is Hadoop's checksummed `LocalFileSystem`
  * it writes with `java.nio` and starts no process. Without libhadoop,
  * Hadoop's local write path runs a `chmod` process for every file and
  * `.crc` sidecar it creates (`RawLocalFileSystem.setPermission`), and
  * the `FileContext` rename Spark uses by default runs `readlink` eight
  * times more: 30-50 ms per checkpoint file from a 2 GiB driver on a
  * 4-vCPU host, and a stateful micro-batch writes several.
  *   - `createAtomic` writes `.<name>.<uuid>.tmp` beside the target, the
  *     temp naming Spark's metadata-log and state-store listings skip.
  *     `close` publishes it: with overwrite, the Hadoop `.<name>.crc`
  *     sidecar is deleted first and the temp file renamed over the target
  *     atomically; without, the temp file is hard-linked to the target,
  *     which fails with Hadoop's `FileAlreadyExistsException` when the
  *     target exists (`HDFSMetadataLog` detects a concurrent writer by
  *     it). No file is fsynced, as on Spark's own local path.
  *   - `open`, `list`, `exists` and `delete` go through the
  *     `LocalFileSystem`, none of which starts a process: it verifies the
  *     sidecars that checkpoints written by Spark's own managers carry,
  *     hides them from listings and deletes them with their file.
  *
  * On any other file system it is exactly Spark's own choice:
  * `FileContextBasedCheckpointFileManager`, or
  * `FileSystemBasedCheckpointFileManager` when the scheme has no
  * `FileContext` implementation.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val impl: CheckpointFileManager =
    Try(path.getFileSystem(hadoopConf)).toOption match {
      case Some(fs: LocalFileSystem) => new LocalCheckpointFileManager.Nio(path, fs)
      case _ => LocalCheckpointFileManager.sparkDefault(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** Spark's conf naming the checkpoint manager class;
    * `CheckpointFileManager.create` reads it from the Hadoop configuration
    * it is given. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the checkpoint manager of every session on `sc`, unless the
    * Hadoop configuration already names one (`spark.hadoop.` + [[ConfKey]]).
    * A SQL conf [[ConfKey]] still wins per session, because
    * `SessionState.newHadoopConf` copies SQL confs over the context's. */
  def install(sc: SparkContext): Unit =
    sc.hadoopConfiguration.setIfUnset(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, conf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, conf)
    }

  /** The Hadoop checksum sidecar of `f`. */
  private def sidecar(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  private final class Nio(root: Path, fs: LocalFileSystem) extends CheckpointFileManager {
    private def file(p: Path): NioPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwrite: Boolean): CancellableFSDataOutputStream = {
      val target = file(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicFile(target, tmp, overwrite)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = {
      val dir = file(p)
      if (!Files.isDirectory(dir)) Files.createDirectories(dir)
    }
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit =
      try fs.delete(p, true) catch { case _: FileNotFoundException => }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }

  private final class AtomicFile(target: NioPath, tmp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            // sidecar first: a crash between the two leaves the old file
            // unverified, never the new file with the old file's checksum
            Files.deleteIfExists(sidecar(target))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, tmp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists") }
            Files.deleteIfExists(sidecar(target))
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
      }
    }
  }
}
