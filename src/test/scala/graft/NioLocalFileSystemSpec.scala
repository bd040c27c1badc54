package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.sources.NioLocalFileSystem
import graft.streaming.StreamingOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.streaming.Trigger

/** graft's local file system under Spark's own streaming checkpoint
  * manager: atomic publication, no-overwrite detection, temp files hidden
  * from the metadata logs, checkpoints and modes interchangeable with
  * Hadoop's stock local file system, and installation through the session.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  /** Hadoop's stock `file:` implementations, uncached, as SQL confs. */
  private val stockFs = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)

  private def stockConf(): Configuration = {
    val c = new Configuration()
    stockFs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def graftFm(dir: NioPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  private def stockFm(dir: NioPath): CheckpointFileManager =
    new FileSystemBasedCheckpointFileManager(new Path(dir.toUri), stockConf())

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

  test("the session's manager is Spark's FileContext one over graft's file system") {
    withTempDir("graft_nfs_install") { dir =>
      val conf = spark.sessionState.newHadoopConf()
      assert(graftFm(dir).isInstanceOf[FileContextBasedCheckpointFileManager])
      assert(FileSystem.get(dir.toUri, conf).isInstanceOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(dir.toUri, conf).getDefaultFileSystem
        .isInstanceOf[NioLocalFileSystem.Fs])
    }
  }

  test("a file is invisible until close; cancel leaves neither the file nor a temp file") {
    withTempDir("graft_nfs_atomic") { dir =>
      val fm = graftFm(dir)
      val f = dir.resolve("0")
      val out = fm.createAtomic(new Path(f.toUri), false)
      out.write("half".getBytes(UTF_8))
      assert(!fm.exists(new Path(f.toUri)) && !Files.exists(f))
      out.close()
      assert(read(fm, f) === "half")
      assert(names(dir) === Set("0", ".0.crc"), "the temp file and its sidecar are gone")

      val g = dir.resolve("1")
      val cancelled = fm.createAtomic(new Path(g.toUri), true)
      cancelled.write("never".getBytes(UTF_8))
      cancelled.cancel()
      cancelled.close() // a no-op after cancel
      assert(names(dir) === Set("0", ".0.crc"))
    }
  }

  test("no-overwrite onto an existing file throws FileAlreadyExistsException and keeps the " +
    "old bytes; overwrite replaces it") {
    withTempDir("graft_nfs_overwrite") { dir =>
      val fm = graftFm(dir)
      val f = dir.resolve("0")
      write(fm, f, "first", overwrite = false)
      write(fm, f, "second, longer", overwrite = true)
      assert(read(fm, f) === "second, longer")
      assert(names(dir) === Set("0", ".0.crc"), "no temp file survives an overwrite")
      intercept[FileAlreadyExistsException](write(fm, f, "third", overwrite = false))
      assert(read(fm, f) === "second, longer")
      // Spark's manager leaves the refused temp file (on any file system),
      // named so that the metadata logs skip it
      val left = names(dir) -- Set("0", ".0.crc")
      assert(left.nonEmpty && left.forall(n => n.startsWith(".") && n.contains(".0.") &&
        n.contains(".tmp")), left)
    }
  }

  test("a Rename.NONE onto an existing file fails atomically: of concurrent publishers of one " +
    "file exactly one wins, and the loser's bytes stay where they were") {
    withTempDir("graft_nfs_rename") { dir =>
      val fc = FileContext.getFileContext(dir.toUri, spark.sessionState.newHadoopConf())
      def put(name: String, text: String): Path = {
        val p = new Path(dir.resolve(name).toUri)
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      def text(p: Path): String = {
        val in = fc.open(p)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      val dst = put("dst", "old")
      val src = put("src", "new bytes")
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(text(dst) === "old" && text(src) === "new bytes", "checksums verify both")

      val writers = 8
      val ready = new CountDownLatch(writers)
      val pool = Executors.newFixedThreadPool(writers)
      val race = dir.resolve("race")
      try {
        val outcomes = (0 until writers).map { i =>
          val out = graftFm(dir).createAtomic(new Path(race.toUri), false)
          out.write(s"writer $i".getBytes(UTF_8))
          pool.submit(() => { ready.countDown(); ready.await(); Try(out.close()) })
        }.map(_.get(60, TimeUnit.SECONDS))
        val winners = outcomes.zipWithIndex.collect { case (r, i) if r.isSuccess => i }
        assert(winners.size === 1, outcomes)
        assert(outcomes.flatMap(_.failed.toOption)
          .forall(_.isInstanceOf[FileAlreadyExistsException]))
        assert(read(graftFm(dir), race) === s"writer ${winners.head}")
        // every loser's bytes are still in its own (hidden) temp file
        val temps = names(dir).filter(n => n.startsWith(".race.") && n.endsWith(".tmp"))
        assert(temps.map(n => text(new Path(dir.resolve(n).toUri))) ===
          (0 until writers).filterNot(winners.contains).map(i => s"writer $i").toSet)
      } finally pool.shutdownNow()
    }
  }

  test("temp files never appear in HDFSMetadataLog's batch listing") {
    withTempDir("graft_nfs_log") { dir =>
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

  test("overwriting or deleting a file Hadoop's stock file system wrote leaves no stale " +
    "checksum sidecar; the stock file system verifies the result") {
    withTempDir("graft_nfs_crc") { dir =>
      val (graft, stock) = (graftFm(dir), stockFm(dir))
      val f = dir.resolve("0")
      val g = dir.resolve("1")
      write(stock, f, "stock bytes", overwrite = false)
      write(stock, g, "stock bytes", overwrite = false)
      assert(Files.exists(dir.resolve(".0.crc")) && Files.exists(dir.resolve(".1.crc")))
      assert(graft.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("0", "1"),
        "sidecars are hidden from listings")
      assert(read(graft, f) === "stock bytes")

      write(graft, f, "graft overwrite, a different length", overwrite = true)
      graft.delete(new Path(g.toUri))
      assert(names(dir) === Set("0", ".0.crc"), "a delete takes the sidecar with it")
      write(graft, g, "graft rewrite after delete", overwrite = false)
      assert(read(stock, f) === "graft overwrite, a different length")
      assert(read(stock, g) === "graft rewrite after delete")
    }
  }

  test("files and directories get the same POSIX modes as through Hadoop's stock file system") {
    withTempDir("graft_nfs_modes") { dir =>
      def modes(root: NioPath): Map[String, String] =
        Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
          root.relativize(p).toString -> Files.getPosixFilePermissions(p).toString
        }.toMap
      def writeAll(fs: FileSystem, root: NioPath): Map[String, String] = {
        def p(rel: String) = new Path(root.resolve(rel).toUri)
        fs.mkdirs(p("plain"))
        fs.mkdirs(p("private"), new FsPermission("700"))
        fs.create(p("plain/a.txt")).close()
        fs.create(p("private/b.bin"), new FsPermission("640"), true, 4096, 1.toShort,
          fs.getDefaultBlockSize(p("private")), null).close()
        fs.copyFromLocalFile(p("plain/a.txt"), p("copied/c.txt"))
        modes(root)
      }
      val graft = writeAll(FileSystem.get(dir.toUri, spark.sessionState.newHadoopConf()),
        Files.createDirectories(dir.resolve("graft")))
      val stock = writeAll(FileSystem.newInstance(dir.toUri, stockConf()),
        Files.createDirectories(dir.resolve("stock")))
      assert(graft.keySet.contains("plain/.a.txt.crc") && graft.size === 9, graft)
      assert(graft === stock)

      val df = spark.range(20).selectExpr("id", "id % 3 AS k")
      df.write.partitionBy("k").parquet(dir.resolve("graft_pq").toString)
      val stockSession = spark.newSession()
      stockFs.foreach { case (k, v) => stockSession.conf.set(k, v) }
      stockSession.range(20).selectExpr("id", "id % 3 AS k")
        .write.partitionBy("k").parquet(dir.resolve("stock_pq").toString)
      def pqModes(name: String): Map[String, String] = modes(dir.resolve(name)).map {
        case (rel, m) => rel.replaceAll("part-[0-9]+-[0-9a-f-]+", "part") -> m }
      assert(pqModes("graft_pq").nonEmpty && pqModes("graft_pq") === pqModes("stock_pq"))
    }
  }

  test("a 10-batch word count's checkpoint reads back through checksum verification") {
    withTempDir("graft_nfs_wc") { dir =>
      val input = Files.createDirectories(dir.resolve("in"))
      (0 until 10).foreach(i =>
        Files.write(input.resolve(f"part-$i%02d.txt"), Seq(s"a b c w$i", s"a w$i").asJava))
      val ckpt = dir.resolve("ckpt")
      val q = StreamingOps.wordCountSpace(
          spark.readStream.option("maxFilesPerTrigger", 1).text(input.toString))
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      assert(q.lastProgress.batchId === 9L)

      val files = Files.walk(ckpt).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).toSeq
      val commit = ckpt.resolve("commits/9")
      assert(files.contains(commit) && files.contains(ckpt.resolve("offsets/9")))
      assert(files.exists(_.getFileName.toString == "10.delta"))
      val stock = FileSystem.newInstance(ckpt.toUri, stockConf())
      def readAll(p: NioPath): Array[Byte] = {
        val in = stock.open(new Path(p.toUri))
        try in.readAllBytes() finally in.close()
      }
      files.foreach { p =>
        assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"$p has a sidecar")
        readAll(p)
      }
      // the sidecars are checked: a flipped byte fails the read
      val bytes = Files.readAllBytes(commit)
      bytes(0) = (bytes(0) ^ 1).toByte
      Files.write(commit, bytes)
      intercept[ChecksumException](readAll(commit))
    }
  }

  test("in a fresh JVM a session built with the extension alone resolves file: to graft's " +
    "classes; explicit spark.hadoop settings win; other schemes are untouched") {
    withTempDir("graft_nfs_probe") { dir =>
      def probe(confs: String*): Map[String, String] = {
        val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("-Xmx")).toSeq
        val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++ Seq("-Xmx512m",
          "-cp", sys.props("java.class.path"), NioLocalFileSystemProbe.getClass.getName
            .stripSuffix("$"), dir.toString) ++ confs
        val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
        assert(proc.waitFor() === 0, out.takeRight(20).mkString("\n"))
        out.filter(_.matches("(fs|fc)=.*")).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      }
      assert(probe() === Map("fs" -> classOf[NioLocalFileSystem].getName,
        "fc" -> classOf[NioLocalFileSystem.Fs].getName))
      assert(probe(s"spark.hadoop.fs.file.impl=${classOf[LocalFileSystem].getName}",
        s"spark.hadoop.fs.AbstractFileSystem.file.impl=${classOf[LocalFs].getName}") ===
        Map("fs" -> classOf[LocalFileSystem].getName, "fc" -> classOf[LocalFs].getName))

      // a scheme with a FileSystem but no FileContext implementation still
      // gets Spark's FileSystem manager
      val conf = spark.sessionState.newHadoopConf()
      conf.set("fs.graftnfs.impl", classOf[RawLocalFileSystem].getName)
      assert(CheckpointFileManager.create(new Path("graftnfs:///ckpt"), conf)
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
      assert(conf.get("fs.AbstractFileSystem.hdfs.impl") === "org.apache.hadoop.fs.Hdfs")
    }
  }
}
