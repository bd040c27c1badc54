package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared hot-bucket fuse for bucketed candidate-pair surfaces
  * (lexical banded-LSH [[DedupOps.minhashPairs]] and embedding LSH
  * [[SimilarityOps.embeddingNearDupLsh]] — one implementation for
  * both surfaces).
  *
  * A bucket of B rows feeds B²/2 candidate pairs into the self-join, so
  * a single degenerate bucket (homogenized corpus, constant vectors)
  * melts an executor. The fuse must not rank EVERY bucket with an
  * unconditional `row_number` window — that is a full sort-shuffle paid
  * by every healthy consumer (measured 1.6–5× on the pair family). Its
  * shape:
  *
  *  1. A bounded EAGER pre-pass derives bucket sizes with
  *     `groupBy(keys).count` — full map-side partial aggregation, so the
  *     exchange carries one row per bucket, never per input row — and
  *     collects only the keys OVER the cap. On a healthy corpus that set
  *     is EMPTY.
  *  2. Empty overflow set → the input plan is returned UNCHANGED
  *     (reference-identical), so the healthy path keeps the un-fused
  *     plan bit-for-bit: no window, no sort, no extra join.
  *  3. Non-empty → only rows of the overflowing keys (isolated by a
  *     literal IN filter — pure codegen, no join) pay a rank window;
  *     each keeps its `maxBucket` smallest `ordCol` rows (deterministic
  *     truncation, same semantics as the r10 fuse) and unions back with
  *     the untouched healthy rows.
  *
  * The driver collect is bounded by construction: a corpus of N rows has
  * at most N/maxBucket overflowing buckets, and `maxHotKeys` makes the
  * bound loud — a corpus SO degenerate that >maxHotKeys buckets overflow
  * needs curation, not a bigger fuse. Overflow stays audit-visible via
  * the registered bucket-stats queries (`minhash_bucket_stats`,
  * `embedding_bucket_stats`), which report sizes/drops under the same
  * cap arithmetic.
  */
object BucketCap {

  /** Rows with empty key columns would collide in the composed key; the
    * U+0001 separator cannot occur in band keys (digits/commas/minus)
    * or numeric bucket ids, the two registered key domains. */
  private val Sep = "\u0001"

  def capBuckets(df: DataFrame, keyCols: Seq[String], ordCol: String,
                 maxBucket: Int, maxHotKeys: Int = 100000): DataFrame = {
    val keyed: Column = concat_ws(Sep, keyCols.map(col): _*)
    val hot = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(keyed.as("k"))
      .limit(maxHotKeys + 1)
      .collect()
      .map(_.getString(0))
    require(hot.length <= maxHotKeys,
      s"capBuckets: more than $maxHotKeys buckets exceed $maxBucket rows — " +
        "the corpus is pathologically homogenized; curate it (dedup the " +
        "flood) rather than raising the fuse bound")
    if (hot.isEmpty) df
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(ordCol)
      val isHot = keyed.isin(hot.toIndexedSeq: _*)
      val capped = df.filter(isHot)
        .withColumn("__bn", row_number().over(w))
        .filter(col("__bn") <= maxBucket)
        .drop("__bn")
      df.filter(!isHot).unionByName(capped)
    }
  }
}
