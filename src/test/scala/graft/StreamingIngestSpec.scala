package graft

import graft.ops.MultimodalOps
import graft.streaming.StreamingIngest

/** [[StreamingIngest]]: the streaming binaryFile ingest edge — the
  * per-batch manifest against a frozen digest index, and the lenient
  * decode verdict router (ok / quarantine sinks).
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  test("manifestStream: per-batch manifest rows, frozen-index known flags, state-free") {
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    withTempDir("graft_stream_ingest") { dir =>
      val full = (0 until 256).map(_.toByte).toArray
      java.nio.file.Files.write(dir.resolve("doc_0.img"), full)
      java.nio.file.Files.write(dir.resolve("doc_1.aud"), "hello".getBytes)
      // frozen index: the corpus already holds doc_0's exact payload
      val known = Seq(md5hex(full)).toDF("digest")
      val got = collection.mutable.ArrayBuffer.empty[(Long, String, String, Boolean)]
      val q = StreamingIngest.manifestStream(spark, dir.toString, known) { (m, id) =>
        got ++= m.collect().map(r =>
          (id, r.getString(0), r.getAs[String]("modality"),
            r.getAs[Boolean]("is_known")))
      }.start()
      try {
        q.processAllAvailable()
        val b0 = got.filter(_._1 == 0L).map(v => v._2 -> ((v._3, v._4))).toMap
        assert(b0 == Map(
          "doc_0.img" -> (("image", true)),   // exact payload the index holds
          "doc_1.aud" -> (("audio", false)))) // novel payload
        // late arrivals: one novel file + one byte-identical copy of the
        // known payload — the stream must pick them up WITHOUT reprocessing
        // batch 0's files (file-source checkpoint) and flag by digest
        java.nio.file.Files.write(dir.resolve("doc_2.vid"), "fresh".getBytes)
        java.nio.file.Files.write(dir.resolve("dup_0.img"), full)
        q.processAllAvailable()
        val later = got.filter(_._1 > 0L).map(v => v._2 -> v._4).toMap
        assert(later == Map("doc_2.vid" -> false, "dup_0.img" -> true))
        assert(got.size == 4, s"files must be ingested exactly once: $got")
        assert(q.lastProgress.stateOperators.isEmpty, "must be state-free")
      } finally q.stop()
    }
  }

  test("quarantineStream: per-batch lenient verdicts route ok/corrupt to separate sinks, stateless, with reasons") {
    withTempDir("graft_stream_quar") { dir =>
      val docs = Seq((0L, "good clip zero"), (1L, "good stereo one!"))
        .toDF("doc_id", "text")
      MultimodalOps.writeUlawFixtureTree(docs, dir.toString)
      val ok = collection.mutable.ArrayBuffer.empty[(Long, Long)]      // (batch, doc)
      val quar = collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      val q = StreamingIngest.quarantineStream(spark, dir.toString)(
        (m, id) => ok ++= m.collect().map(r => (id, r.getLong(0))),
        (m, id) => quar ++= m.collect().map(r =>
          (id, r.getLong(0), r.getAs[String]("reason")))).start()
      try {
        q.processAllAvailable()
        assert(ok.map(_._2).toSet == Set(0L, 1L) && quar.isEmpty,
          s"batch 0 is all-clean: ok=$ok quar=$quar")
        // a corrupt upload AND a misnamed foreign upload land later:
        // both must route to quarantine in their OWN batch — the
        // unmatched file as a loud (-1, 'unmatched') verdict, never a
        // silent drop — without reprocessing batch 0
        MultimodalOps.writeCorruptAudioFixtures(dir.toString)
        java.nio.file.Files.write(dir.resolve("upload.tmp"),
          "stray bytes".getBytes)
        q.processAllAvailable()
        assert(ok.size == 2, "clean files are verdict-ed exactly once")
        assert(quar.map(_._2).toSet == Set(300L, 301L, -1L))
        assert(quar.forall(v => v._1 > 0L && v._3 != null && v._3.contains(":")),
          s"quarantine rows carry (class: message) reasons: $quar")
        assert(quar.exists(v => v._2 == -1L && v._3.contains("upload.tmp")),
          s"the unmatched upload must quarantine by name: $quar")
        assert(q.lastProgress.stateOperators.isEmpty,
          "per-blob verdicts must carry no streaming state")
      } finally q.stop()
    }
  }
}
