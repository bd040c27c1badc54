package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.MisraGries.misraGries

/** Corpus-frequency operators: provably-exact top-k heavy hitters at
  * 100 TB scale via the sketch-then-verify pattern.
  *
  * The naive `tokens.groupBy(tok).count().orderBy(...).limit(k)` is the
  * classic scale-killer: the exchange carries EVERY DISTINCT TOKEN
  * (billions of rows over 100 TB of text), all to answer a top-20
  * question. The production shape is two passes, both shuffle-light:
  *
  *  1. SKETCH: one scan folding into [[graft.functions.MisraGriesAgg]]
  *     (capacity m) — partial aggregation builds per-task summaries
  *     map-side and the exchange carries one O(m) serialized summary
  *     per partition. The merged summary's candidate set provably
  *     contains every item with true count > N/(m+1).
  *  2. VERIFY: broadcast the ≤2m candidate strings, semi-join the token
  *     stream map-side, and exact-count ONLY the survivors — the one
  *     real shuffle carries candidate tokens only.
  *
  * The output is the exact top-k by verified count with a deterministic
  * (count desc, item asc) tiebreak, plus a `guaranteed` flag per row:
  * `cnt·(m+1) > N` proves NO unsketched item can out-count this row
  * (missed items are bounded by N/(m+1)), i.e. the row's membership in
  * the true top-k is a theorem, not a hope.
  *
  * CONTRACT — the flag is load-bearing, not decorative: a row with
  * `guaranteed = false` is BEST-EFFORT. On a distribution flat enough
  * that the rank-k count dips under N/(m+1), the sketch may have
  * dropped a true top-k item, and which near-tied item fills the tail
  * slot then depends on partial-merge order (partitioning-dependent).
  * Counts shown are always exact for the items shown; only tail
  * MEMBERSHIP weakens. Consumers must either gate on the flag or raise
  * `capacity` until the tail clears the bound (the flag itself is the
  * sizing signal).
  *
  * ORACLE GATE (ADVICE r9): the registered queries pass
  * `guaranteedOnly = true`, so the DuckDB comparison covers exactly the
  * rows whose top-k membership is a THEOREM — all guaranteed rows
  * out-count every unguaranteed row, so the guaranteed set is the exact
  * top-|guaranteed| prefix regardless of distribution shape, fixture
  * size, or merge order; the certification is no longer
  * fixture-dependent. The full flagged output (best-effort tail
  * included) stays the operator default and is spec-pinned.
  *
  * The flag arithmetic is the overflow-free integer form
  * `cnt > N div (m+1)` — exactly equivalent to `cnt·(m+1) > N` for
  * non-negative integers ((⌊N/(m+1)⌋+1)(m+1) > N always), but immune to
  * the silent Long wrap the product form hits once cnt exceeds
  * ~Long.MaxValue/(m+1) under a sharply raised capacity (ADVICE r9).
  */
object FrequencyOps {

  /** Whitespace-token heavy hitters over `documents.text`. */
  def heavyHitters(documents: DataFrame, k: Int = 20,
                   capacity: Int = 4096,
                   guaranteedOnly: Boolean = false): DataFrame = {
    val toks = documents
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .filter(length(col("tok")) > 0)
    topKExact(toks, k, capacity, guaranteedOnly)
  }

  /** Word 3-gram heavy hitters — the corpus's most repeated phrases,
    * the signal a boilerplate hunt starts from (a 3-gram that appears
    * in half the corpus is a template, not content). Same shingles as
    * the MinHash pipeline (DedupOps.shingled).
    */
  def heavyNgrams(documents: DataFrame, k: Int = 20,
                  capacity: Int = 4096,
                  guaranteedOnly: Boolean = false): DataFrame = {
    val grams = DedupOps.shingled(documents)
      .select(explode(col("shingles")).as("tok"))
    topKExact(grams, k, capacity, guaranteedOnly)
  }

  /** Overflow-free membership bound: `cnt > n div (m+1)` ⟺
    * `cnt·(m+1) > n` over non-negative integers, with no Long wrap at
    * any capacity (ADVICE r9). `div` not `/`: Column./ on longs is
    * DOUBLE division.
    */
  private def guaranteedCol(capacity: Int) =
    expr(s"cnt > n div ${capacity + 1L}").as("guaranteed")

  /** The shared sketch→verify→rank core over a single `tok` column. */
  private def topKExact(toks0: DataFrame, k: Int, capacity: Int,
                        guaranteedOnly: Boolean): DataFrame = {
    val toks = Sketch.coalesceToCores(toks0)
    // pass 1: ONE row out — the merged MG summary + the exact stream
    // length (rides the same aggregate, no extra scan)
    val sketch = toks.agg(
      misraGries(col("tok"), capacity).as("cands"),
      count(lit(1)).as("n"))
    val cands = sketch.select(explode(col("cands")).as("c"), col("n"))
      .select(col("c.item").as("cand"), col("n"))
    // pass 2: candidates broadcast (≤ 2m metadata rows); the join is a
    // map-side hash probe, so only candidate tokens reach the exchange
    val ranked = toks.join(broadcast(cands), col("tok") === col("cand"))
      .groupBy(col("tok"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("tok"), col("cnt"), guaranteedCol(capacity))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(k)
    if (guaranteedOnly) ranked.filter(col("guaranteed")) else ranked
  }

  /** Per-SOURCE top-k — the grouped form of the sketch→verify pattern:
    * `groupBy(source).agg(misra_gries)` builds one bounded summary PER
    * SOURCE (partial aggregation still map-side, so the exchange
    * carries #sources × O(m) summaries per partition, not tokens), and
    * the verify pass exact-counts only the (source, candidate) pairs.
    * The final per-source rank runs over candidate metadata (≤ 2m rows
    * per source), never the token stream.
    *
    * Sizing note for 100 TB: this shape is for LOW-cardinality group
    * keys (source registries, language codes — the map-side summary
    * footprint is #sources × 2m entries per task). For a
    * high-cardinality key (e.g. domain), flip the roles: the KEY
    * becomes the item and this degenerates to [[heavyHitters]] on the
    * key column itself.
    */
  def heavyHittersBySource(documents: DataFrame, k: Int = 5,
                           capacity: Int = 1024,
                           guaranteedOnly: Boolean = false): DataFrame = {
    // cores-width matters twice over here: the summary is per
    // (partition, source)
    val toks = Sketch.coalesceToCores(documents)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("tok"))
      .filter(length(col("tok")) > 0)
    val sk = toks.groupBy("source").agg(
      misraGries(col("tok"), capacity).as("cands"),
      count(lit(1)).as("n"))
    val cands = sk.select(col("source").as("csrc"),
        explode(col("cands")).as("c"), col("n"))
      .select(col("csrc"), col("c.item").as("cand"), col("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("cnt").desc, col("tok").asc)
    val ranked = toks.join(broadcast(cands),
        col("source") === col("csrc") && col("tok") === col("cand"))
      .groupBy(col("source"), col("tok"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("source"), col("tok"), col("cnt"), guaranteedCol(capacity))
    if (guaranteedOnly) ranked.filter(col("guaranteed")) else ranked
  }

}
