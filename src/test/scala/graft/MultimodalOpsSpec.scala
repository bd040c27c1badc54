package graft

import graft.ops.{DecodedImage, MultimodalOps}
import org.apache.spark.SparkException

/** [[MultimodalOps]]: the shared blob decode path — every strict decoder
  * fails loudly, naming the doc, on a blob its lenient twin quarantines.
  */
class MultimodalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def load(path: java.nio.file.Path) =
    spark.read.format("binaryFile").load(path.toString)

  test("strict decoders fail on an empty data chunk, naming the doc; " +
    "lenient ok rows equal the strict decode field by field") {
    withTempDir("graft_empty_pcm") { dir =>
      // a valid 16-bit PCM header with data size 0: zero frames have no
      // sample range, so a stats row would carry min/max sentinels
      java.nio.file.Files.write(dir.resolve("aud_7.wav"),
        MultimodalOps.wavBytes(1, MultimodalOps.WavSampleRate, 0, (_, _) => 0))
      for (decode <- Seq(MultimodalOps.decodeAudio _, MultimodalOps.resampleAudio _)) {
        val ex = intercept[SparkException](decode(spark, load(dir), "aud_(\\d+)\\.wav$").collect())
        assert(messages(ex).exists(_.contains("doc 7 has an empty data section")),
          messages(ex).mkString(" | "))
      }
    }
    withTempDir("graft_empty_ulaw") { dir =>
      MultimodalOps.writeCorruptAudioFixtures(dir.toString)
      val empty = dir.resolve("ul_301.wav")
      val ex = intercept[SparkException](
        MultimodalOps.decodeAudioCompanded(spark, load(empty)).collect())
      assert(messages(ex).exists(_.contains("doc 301 has an empty data section")),
        messages(ex).mkString(" | "))
      val lenient = MultimodalOps.decodeAudioLenient(spark, load(empty)).collect()
      assert(lenient.map(v => (v.doc_id, v.status)).toSeq == Seq((301L, "corrupt")))
    }
    withTempDir("graft_jpeg_parity") { dir =>
      // raster dims vary with text length (width) and doc id (height)
      val docs = (0 until 48).map(i => (i.toLong, "jpeg parity " * (1 + i % 5) + i))
        .toDF("doc_id", "text")
      MultimodalOps.writeJpegFixtureTree(docs, dir.toString)
      val strict = MultimodalOps.decodeImages(spark, load(dir), "img_(\\d+)\\.jpg$")
        .collect().sortBy(_.doc_id).toSeq
      val ok = MultimodalOps.decodeImagesLenient(spark, load(dir)).collect()
        .filter(_.status == "ok").sortBy(_.doc_id).toSeq
        .map(v => DecodedImage(v.doc_id, v.width.get, v.height.get, v.sum_r.get,
          v.sum_g.get, v.sum_b.get, v.n_px.get))
      assert(strict.nonEmpty && ok == strict)
    }
  }
}
