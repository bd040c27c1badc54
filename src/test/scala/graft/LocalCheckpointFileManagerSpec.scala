package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import graft.streaming.{LocalCheckpointFileManager, StreamingOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.streaming.Trigger

/** The contract Spark's checkpoint writers rely on, held by graft's local
  * checkpoint manager: atomic publication, no-overwrite detection,
  * temp files hidden from the metadata logs, interchangeable checkpoints
  * with Spark's own managers, and installation through the session.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def graftFm(dir: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def stockFm(dir: NioPath): CheckpointFileManager =
    new FileSystemBasedCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: NioPath, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: NioPath): String = {
    val in = fm.open(new Path(p.toUri))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  /** Hadoop's checksum sidecars (`.<name>.crc`) under `dir`; Spark's own
    * state-store checksum files (`<name>.crc`) are not sidecars. */
  private def hadoopSidecars(dir: NioPath): Seq[NioPath] =
    Files.walk(dir).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }.toSeq

  test("a file is invisible until close; cancel leaves neither the file nor a temp file") {
    withTempDir("graft_cfm_atomic") { dir =>
      val fm = graftFm(dir)
      val f = dir.resolve("0")
      val out = fm.createAtomic(new Path(f.toUri), false)
      out.write("half".getBytes(UTF_8))
      assert(!fm.exists(new Path(f.toUri)) && !Files.exists(f))
      out.close()
      assert(read(fm, f) === "half")
      assert(names(dir) === Set("0"), "the temp file is gone after close")

      val g = dir.resolve("1")
      val cancelled = fm.createAtomic(new Path(g.toUri), true)
      cancelled.write("never".getBytes(UTF_8))
      cancelled.cancel()
      cancelled.close() // a no-op after cancel
      assert(names(dir) === Set("0"))
    }
  }

  test("no-overwrite onto an existing file throws FileAlreadyExistsException and keeps the " +
    "old bytes; overwrite replaces it") {
    withTempDir("graft_cfm_overwrite") { dir =>
      val fm = graftFm(dir)
      val f = dir.resolve("0")
      write(fm, f, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, f, "second", overwrite = false))
      assert(read(fm, f) === "first")
      write(fm, f, "third", overwrite = true)
      assert(read(fm, f) === "third")
      assert(names(dir) === Set("0"), "no temp file survives either outcome")
    }
  }

  test("temp files never appear in HDFSMetadataLog's batch listing") {
    withTempDir("graft_cfm_log") { dir =>
      val log = new HDFSMetadataLog[String](spark, dir.toString)
      assert(log.add(0, "a") && log.add(1, "b"))
      val open = graftFm(dir).createAtomic(new Path(dir.resolve("2").toUri), false)
      open.write("pending".getBytes(UTF_8))
      assert(names(dir).exists(_.endsWith(".tmp")), "the write in progress has a temp file")
      assert(log.listBatchesOnDisk.toSeq === Seq(0L, 1L))
      assert(log.getOrderedBatchFiles().map(_.getPath.getName).toSet === Set("0", "1"))
      assert(log.getLatestBatchId() === Some(1L))
      open.cancel()
      assert(!log.add(1, "again"), "an existing batch is never rewritten")
      assert(log.get(1L) === Some("b"))
    }
  }

  test("overwriting or deleting a file Spark's own manager wrote leaves no stale checksum " +
    "sidecar; Spark's manager reads the result") {
    withTempDir("graft_cfm_crc") { dir =>
      val (graft, stock) = (graftFm(dir), stockFm(dir))
      val f = dir.resolve("0")
      val g = dir.resolve("1")
      write(stock, f, "stock bytes", overwrite = false)
      write(stock, g, "stock bytes", overwrite = false)
      assert(Files.exists(dir.resolve(".0.crc")) && Files.exists(dir.resolve(".1.crc")),
        "Spark's FileSystem manager writes a Hadoop sidecar")
      assert(graft.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("0", "1"),
        "sidecars are hidden from listings")
      assert(read(graft, f) === "stock bytes")

      write(graft, f, "graft overwrite, a different length", overwrite = true)
      graft.delete(new Path(g.toUri))
      write(graft, g, "graft rewrite after delete", overwrite = false)
      assert(hadoopSidecars(dir).isEmpty)
      assert(read(stock, f) === "graft overwrite, a different length")
      assert(read(stock, g) === "graft rewrite after delete")
    }
  }

  test("the session installs graft's manager; a SQL conf overrides it; other file systems " +
    "get Spark's own choice") {
    withTempDir("graft_cfm_install") { dir =>
      val path = new Path(dir.toUri)
      assert(CheckpointFileManager.create(path, spark.sessionState.newHadoopConf())
        .isInstanceOf[LocalCheckpointFileManager])

      val overridden = spark.newSession()
      overridden.conf.set(LocalCheckpointFileManager.ConfKey,
        classOf[FileSystemBasedCheckpointFileManager].getName)
      assert(CheckpointFileManager.create(path, overridden.sessionState.newHadoopConf())
        .isInstanceOf[FileSystemBasedCheckpointFileManager])

      def delegate(conf: Configuration, p: Path): Class[_] =
        new LocalCheckpointFileManager(p, conf).impl.getClass
      // `file:` served by the raw (unchecksummed) FileSystem: not the
      // local fast path, so Spark's FileContext manager
      val raw = new Configuration()
      raw.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
      raw.setBoolean("fs.file.impl.disable.cache", true)
      assert(delegate(raw, path) === classOf[FileContextBasedCheckpointFileManager])
      // a scheme with a FileSystem but no FileContext implementation
      val other = new Configuration()
      other.set("fs.graftcfm.impl", classOf[RawLocalFileSystem].getName)
      assert(delegate(other, new Path("graftcfm:///ckpt")) ===
        classOf[FileSystemBasedCheckpointFileManager])
    }
  }

  test("a 10-batch word count leaves no Hadoop checksum sidecar in its checkpoint") {
    withTempDir("graft_cfm_wc") { dir =>
      val input = Files.createDirectories(dir.resolve("in"))
      (0 until 10).foreach(i =>
        Files.write(input.resolve(f"part-$i%02d.txt"), Seq(s"a b c w$i", s"a w$i").asJava))
      def drain(session: org.apache.spark.sql.SparkSession, ckpt: NioPath): Long = {
        val q = StreamingOps.wordCountSpace(
            session.readStream.option("maxFilesPerTrigger", 1).text(input.toString))
          .writeStream.outputMode("update").format("noop")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        q.lastProgress.batchId
      }
      val ckpt = dir.resolve("graft")
      assert(drain(spark, ckpt) === 9L)
      assert(Files.exists(ckpt.resolve("commits/9")) && Files.exists(ckpt.resolve("offsets/9")))
      assert(Files.walk(ckpt.resolve("state")).iterator().asScala
        .exists(_.getFileName.toString == "10.delta"))
      assert(hadoopSidecars(ckpt).isEmpty, hadoopSidecars(ckpt).take(5).mkString(", "))

      // the same drain under Spark's own manager does write sidecars, so
      // their absence above is the manager's doing
      val stock = spark.newSession()
      stock.conf.set(LocalCheckpointFileManager.ConfKey,
        classOf[FileContextBasedCheckpointFileManager].getName)
      val stockCkpt = dir.resolve("stock")
      assert(drain(stock, stockCkpt) === 9L)
      assert(hadoopSidecars(stockCkpt).nonEmpty)
    }
  }
}
