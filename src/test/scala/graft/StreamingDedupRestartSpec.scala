package graft

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.{DupMatch, StreamingDedup}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

/** Kill-and-resume of the stateful streaming MinHash dedup
  * ([[StreamingDedup.minhashDedupStream]]) over a file source, one file
  * per trigger. Files carry exact and near duplicates of documents in
  * earlier files, so matches come from band-bucket state written before
  * a crash. Each crash happens in the sink after the batch's state is
  * committed and before its commit-log entry, so the resumed run replays
  * that batch over the committed state. The resumed run's `DupMatch`
  * multiset must equal an uninterrupted run's; every batch id is
  * delivered, and a replayed batch delivers exactly what its first
  * delivery did.
  */
class StreamingDedupRestartSpec extends SparkSpec {

  private val files = 10
  private val docsPerFile = 6
  private val rng = new scala.util.Random(11)
  private def sentence(): String = Seq.fill(12)(s"w${rng.nextInt(400)}").mkString(" ")

  /** (doc_id, text) per file: fresh sentences, plus, from file 1 on, an
    * exact copy and a one-token edit of a document from an earlier file. */
  private val docs: IndexedSeq[Seq[(Long, String)]] = {
    val texts = collection.mutable.ArrayBuffer.empty[String]
    (0 until files).map { f =>
      val fresh = Seq.fill(if (f == 0) docsPerFile else docsPerFile - 2)(sentence())
      val copies = if (f == 0) Nil else {
        val exact = texts(rng.nextInt(texts.size))
        val near = texts(rng.nextInt(texts.size)).split(" ").updated(11, "edited").mkString(" ")
        Seq(exact, near)
      }
      val all = fresh ++ copies
      texts ++= fresh
      all.zipWithIndex.map { case (t, i) => (f * 100L + i, t) }
    }
  }

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("ts", TimestampType)

  private val mtime0 = System.currentTimeMillis() - files * 1000L

  private def addFiles(input: NioPath, range: Range): Unit = range.foreach { f =>
    val lines = docs(f).map { case (id, t) =>
      f"""{"doc_id":$id,"text":"$t","ts":"2026-01-01T00:00:$f%02dZ"}""" }
    val file = Files.write(input.resolve(f"part-$f%02d.json"), lines.asJava)
    // the file source orders files by modification time: pin it, so
    // every run sees the files in the same order
    Files.setLastModifiedTime(file, FileTime.fromMillis(mtime0 + f * 1000L))
  }

  private type Delivery = (Long, Seq[DupMatch])

  /** Run the dedup from `ckpt` until the input is drained, or until the
    * sink crashes on batch `crashAt`. */
  private def run(session: SparkSession, input: NioPath, ckpt: NioPath,
                  out: ConcurrentLinkedQueue[Delivery], crashAt: Option[Long]): Unit = {
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(input.toString)
    val q = StreamingDedup.minhashDedupStream(session, stream)
      .writeStream.outputMode("append")
      .foreachBatch { (ds: Dataset[DupMatch], id: Long) =>
        out.add(id -> ds.collect().toSeq.sortBy(m => (m.doc_id, m.dup_of)))
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

  /** One delivery per batch id (the replays are checked separately). */
  private def firstDeliveries(out: ConcurrentLinkedQueue[Delivery]): Map[Long, Seq[DupMatch]] =
    out.asScala.toSeq.groupBy(_._1).map { case (id, ds) => id -> ds.head._2 }

  private def multiset(byBatch: Map[Long, Seq[DupMatch]]): Map[DupMatch, Int] =
    byBatch.values.flatten.groupBy(identity).map { case (m, ms) => m -> ms.size }

  private def session(provider: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    s
  }

  private def killAndResume(provider: String): Unit = withTempDir("graft_dedup_restart") { dir =>
    val whole = Files.createDirectories(dir.resolve("whole"))
    addFiles(whole, 0 until files)
    val uninterrupted = new ConcurrentLinkedQueue[Delivery]()
    run(session(provider), whole, dir.resolve("ckpt_whole"), uninterrupted, None)
    val expected = firstDeliveries(uninterrupted)
    assert(expected.keySet === (0L until expected.size).toSet, "batch ids are contiguous")
    assert(expected.size >= files, "one batch per file")

    val input = Files.createDirectories(dir.resolve("in"))
    val ckpt = dir.resolve("ckpt")
    val out = new ConcurrentLinkedQueue[Delivery]()
    addFiles(input, 0 until 4)
    run(session(provider), input, ckpt, out, crashAt = Some(2L))
    addFiles(input, 4 until 7)
    run(session(provider), input, ckpt, out, crashAt = Some(5L))
    addFiles(input, 7 until files)
    run(session(provider), input, ckpt, out, crashAt = None)

    val byBatch = out.asScala.toSeq.groupBy(_._1)
    assert(byBatch.keySet === expected.keySet, "every batch delivered")
    assert(byBatch.filter(_._2.size > 1).keySet === Set(2L, 5L),
      "only the crashed batches are delivered twice")
    byBatch.values.foreach(ds => assert(ds.map(_._2).distinct.size === 1,
      s"batch ${ds.head._1} replayed different output"))
    assert(multiset(firstDeliveries(out)) === multiset(expected))

    // the exact copies in files 7..9 match documents of earlier files,
    // retained in state across both restarts
    val matches = multiset(firstDeliveries(out)).keySet
    (7 until files).foreach { f =>
      val copy = f * 100L + docsPerFile - 2
      assert(matches.exists(m => m.doc_id == copy && m.dup_of < f * 100L && m.est == 1.0),
        s"exact copy $copy must match an earlier file's document")
    }
  }

  test("minhashDedupStream resumes from its checkpoint with no lost or duplicated match: HDFS-backed state") {
    killAndResume("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
  }

  test("minhashDedupStream resumes from its checkpoint with no lost or duplicated match: RocksDB state") {
    killAndResume("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }
}
