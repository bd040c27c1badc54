package graft

import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.NioLocalFileSystem
import graft.streaming.StreamingOps
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryException

/** Kill-and-resume of the reference word count (`spark/kafka/App.java`,
  * Update mode) across local file systems: a run over Hadoop's stock one
  * crashes mid-stream, resumes over graft's, crashes again and resumes
  * over the stock one. Each crash happens in the sink after the batch's
  * state is committed and before its commit-log entry, so the resumed run
  * replays that batch over state files the other file system wrote. The
  * final per-word counts must equal an uninterrupted run's; every batch
  * id is delivered, and a replayed batch delivers exactly what its first
  * delivery did.
  */
class WordCountRestartSpec extends SparkSpec {

  private val files = 10
  private val rng = new scala.util.Random(7)
  private val lines: Seq[Seq[String]] = Seq.fill(files)(
    Seq.fill(6)(Seq.fill(5)(s"w${rng.nextInt(12)}").mkString(" ")))

  private def addFiles(input: NioPath, range: Range): Unit = range.foreach(i =>
    Files.write(input.resolve(f"part-$i%02d.txt"), lines(i).asJava))

  private type Delivery = (Long, Map[String, Long])

  /** Run the word count from `ckpt` until the input is drained, or until
    * the sink crashes on batch `crashAt`. */
  private def run(session: SparkSession, input: NioPath, ckpt: NioPath,
                  out: ConcurrentLinkedQueue[Delivery], crashAt: Option[Long]): Unit = {
    val q = StreamingOps.wordCountSpace(
        session.readStream.option("maxFilesPerTrigger", 1).text(input.toString))
      .writeStream.outputMode("update")
      .foreachBatch { (df: DataFrame, id: Long) =>
        out.add(id -> df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        if (crashAt.contains(id)) throw new IllegalStateException(s"simulated crash in batch $id")
      }
      .option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      crashAt.foreach(id => fail(s"expected a crash in batch $id"))
    } catch {
      case e: StreamingQueryException if crashAt.nonEmpty =>
        assert(e.getCause.getMessage.contains("simulated crash"), e.getMessage)
    } finally q.stop()
  }

  /** The latest count per word after applying every delivery in order. */
  private def finalCounts(out: ConcurrentLinkedQueue[Delivery]): Map[String, Long] =
    out.asScala.foldLeft(Map.empty[String, Long])(_ ++ _._2)

  private def session(provider: String, stockFs: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    if (stockFs) {
      s.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      s.conf.set("fs.file.impl.disable.cache", "true")
      s.conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    }
    s
  }

  /** The `FileSystem` and `FileContext` classes `s` writes `dir` with. */
  private def fileSystems(s: SparkSession, dir: NioPath): Seq[Class[_]] = {
    val conf = s.sessionState.newHadoopConf()
    Seq(FileSystem.get(dir.toUri, conf).getClass,
      FileContext.getFileContext(dir.toUri, conf).getDefaultFileSystem.getClass)
  }

  private def killAndResume(provider: String): Unit = withTempDir("graft_wc_restart") { dir =>
    val expected = lines.flatten.flatMap(_.split(" ")).groupBy(identity).map { case (w, ws) =>
      w -> ws.size.toLong }

    val whole = Files.createDirectories(dir.resolve("whole"))
    addFiles(whole, 0 until files)
    val uninterrupted = new ConcurrentLinkedQueue[Delivery]()
    run(session(provider, stockFs = false), whole, dir.resolve("ckpt_whole"),
      uninterrupted, None)
    assert(finalCounts(uninterrupted) === expected)

    val input = Files.createDirectories(dir.resolve("in"))
    val ckpt = dir.resolve("ckpt")
    val out = new ConcurrentLinkedQueue[Delivery]()
    // both file systems write a commit-log entry with its Hadoop sidecar
    def commitSidecars(batches: Range): Seq[Boolean] = batches.map { b =>
      assert(Files.exists(ckpt.resolve(s"commits/$b")))
      Files.exists(ckpt.resolve(s"commits/.$b.crc"))
    }
    val (stock, graft) = (session(provider, stockFs = true), session(provider, stockFs = false))
    assert(fileSystems(stock, ckpt) === Seq(classOf[LocalFileSystem], classOf[LocalFs]))
    assert(fileSystems(graft, ckpt) ===
      Seq(classOf[NioLocalFileSystem], classOf[NioLocalFileSystem.Fs]))
    addFiles(input, 0 until 4)
    run(stock, input, ckpt, out, crashAt = Some(2L))
    assert(commitSidecars(0 to 1).forall(identity), "the first run wrote over the stock one")
    addFiles(input, 4 until 7)
    run(graft, input, ckpt, out, crashAt = Some(5L))
    assert(commitSidecars(2 to 4).forall(identity), "the second run wrote over graft's")
    addFiles(input, 7 until files)
    run(stock, input, ckpt, out, crashAt = None)

    val byBatch = out.asScala.toSeq.groupBy(_._1)
    assert(byBatch.keySet === (0L until files).toSet, "every batch delivered")
    assert(byBatch.filter(_._2.size > 1).keySet === Set(2L, 5L),
      "only the crashed batches are delivered twice")
    byBatch.values.foreach(ds => assert(ds.map(_._2).distinct.size === 1,
      s"batch ${ds.head._1} replayed different output"))
    assert(finalCounts(out) === finalCounts(uninterrupted))
  }

  test("word count resumes across Hadoop's and graft's local file systems: HDFS-backed state") {
    killAndResume("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
  }

  test("word count resumes across Hadoop's and graft's local file systems: RocksDB state") {
    killAndResume("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }
}
