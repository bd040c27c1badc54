package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Profile ladder`'s table amplifier at factor 2 on sf0.001, and the
  * engine session's `SPARK_GRAFT_CPUS` parse. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val amplified = Set("documents", "events", "embeddings", "orders", "lineitem")

  private def read(dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  test("ladder at factor 2: amplified tables double with schema and unique keys kept, " +
      "the rest copy unchanged, registry queries run on the copies") {
    val out = java.nio.file.Files.createTempDirectory("graft-ladder-spec").toFile
    val dir = out.toString
    try {
      Profile.amplify(spark, sf, dir, 2)
      Tables.loadSpecs.keys.toSeq.sorted.foreach { name =>
        val src = read(sf, name)
        val amp = read(dir, name)
        assert(amp.schema.map(f => f.name -> f.dataType) ==
          src.schema.map(f => f.name -> f.dataType), name)
        if (amplified(name)) {
          // copies are key-disjoint, so a key unique in the source stays
          // unique (lineitem's l_orderkey repeats per line in both)
          val keys = (df: DataFrame) => df.select(Tables.loadSpecs(name).key).distinct().count()
          assert(amp.count() == 2 * src.count(), name)
          assert(keys(amp) == 2 * keys(src), name)
        } else {
          assert(amp.count() == src.count(), name)
          assert(amp.exceptAll(src).isEmpty && src.exceptAll(amp).isEmpty, name)
        }
      }
      assert(read(dir, "documents").filter(col("n_chars") =!= length(col("text"))).isEmpty)
      def joined(d: String) =
        read(d, "lineitem").join(read(d, "orders"), col("l_orderkey") === col("o_orderkey")).count()
      assert(joined(dir) == 2 * joined(sf))
      for (q <- Seq("dedup_docs_exact", "q3_shipping_priority")) {
        val at1 = SparkEntry.queries(q)(spark, sf).count()
        val at2 = SparkEntry.queries(q)(spark, dir).count()
        assert(at1 > 0 && at2 >= at1, s"$q: $at1 rows at 1x, $at2 at 2x")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }

  test("SPARK_GRAFT_CPUS: unset gives 4, a positive integer parses, anything else " +
      "fails naming the variable") {
    assert(GraftSession.parseCpus(None) == 4)
    assert(GraftSession.parseCpus(Some("32")) == 32)
    for (bad <- Seq("0", "-1", "x", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
