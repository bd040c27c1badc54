package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for the training-data pipeline (SURVEY.md §7
  * B8): exact hash-dedup, banded MinHash, SimHash, and inverted-index
  * n-gram Jaccard. None of these exists in the reference (§2.7) — they are
  * the LLM-pipeline extension surface.
  *
  * Scale design (the part that matters at 100 TB):
  *  - Exact dedup groups on a 128-bit digest of the content, never the raw
  *    text — the shuffle carries 16-byte keys, not documents.
  *  - MinHash signatures are computed shuffle-free with nested
  *    higher-order functions (transform/array_min) — one map-side pass per
  *    document; only the (doc_id, band_key) pairs shuffle, and LSH banding
  *    keeps candidate generation linear in colliding pairs, never all-pairs
  *    O(n²).
  *  - Jaccard verification never carries shingle arrays through the join:
  *    common-shingle counts come from a count-aggregated inverted index,
  *    set sizes from a tiny per-doc side table.
  *  - SimHash is a single 60-bit fingerprint per doc; near-dup candidates
  *    come from equality joins on 15-bit chunks (pigeonhole: hamming ≤ 3
  *    implies an identical chunk), again never all-pairs.
  *
  * The test corpus has no natural duplicates (500 distinct texts), so
  * [[augmented]] deterministically injects near-duplicates (first token
  * dropped) and exact copies; the DuckDB oracle rebuilds the same corpus.
  */
object DedupOps {

  /** documents ∪ near-dup copies (doc_id+100000, first token dropped, for
    * doc_id % 10 = 0) ∪ exact copies (doc_id+200000, for doc_id % 15 = 0).
    */
  def augmented(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"))
    val near = documents.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val exact = documents.filter(col("doc_id") % 15 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    base.unionAll(near).unionAll(exact)
  }

  /** The [[augmented]] corpus body as DuckDB SQL (keep in lockstep) —
    * factored so the plain and SAMPLED corpus CTEs compose it by
    * construction, never by string surgery. */
  private val augmentedBodySql: String =
    """  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |         substr(text, strpos(text, ' ') + 1) AS text
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, text
      |  FROM documents WHERE doc_id % 15 = 0""".stripMargin

  /** The same corpus as a DuckDB CTE (keep in lockstep with [[augmented]]). */
  val augmentedSql: String =
    s"corpus AS (\n$augmentedBodySql\n)"

  /** [[augmentedSql]] restricted to the content-addressed doc sample of
    * [[sampleBucketCol]]: seeded md5 bucket (0–255) < sampleBuckets. The
    * final CTE is still named `corpus`, so every oracle built over the
    * plain prefix composes unchanged over the sampled one. */
  def sampledAugmentedSql(sampleBuckets: Int, seed: String): String =
    s"""corpus_all AS (
       |$augmentedBodySql
       |),
       |corpus AS (
       |  SELECT * FROM corpus_all
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':r$seed'), 1, 2))::BIGINT < $sampleBuckets
       |)""".stripMargin

  /** CO-ADDRESSED sampled corpus: the bucket is hashed from the BASE id
    * (`doc_id % 100000`), so an original and its planted near/exact
    * copies sample TOGETHER — the form an evaluation needs when the
    * estimand pairs a query with a specific truth document (retrieval
    * recall: dropping a query's truth while keeping the query would
    * turn corpus sampling into forced misses; co-addressing keeps each
    * surviving query's truth in the sampled corpus by construction,
    * exactly as every surviving truth pair of [[dedupRecallSampled]]
    * keeps both endpoints). Final CTE still `corpus`, so every oracle
    * over the plain prefix composes unchanged. */
  def coSampledAugmentedSql(sampleBuckets: Int, seed: String): String =
    s"""corpus_all AS (
       |$augmentedBodySql
       |),
       |corpus AS (
       |  SELECT * FROM corpus_all
       |  WHERE ('0x' || substr(md5(CAST(doc_id % 100000 AS VARCHAR) || ':r$seed'), 1, 2))::BIGINT < $sampleBuckets
       |)""".stripMargin

  /** Spark twin of [[coSampledAugmentedSql]]'s predicate column (0–255
    * bucket of the seeded md5 over the BASE id). */
  def coSampleBucketCol(seed: String): Column =
    conv(substring(md5(concat((col("doc_id") % 100000).cast("string"),
      lit(s":r$seed"))), 1, 2), 16, 10).cast("long")

  /** [[augmented]] with the source dimension KEPT: near-dup copies land
    * on a synthetic mirror source (`source || '_mirror'` — the
    * crawl-mirror contamination shape a cross-source audit exists to
    * expose), exact copies keep their source. Same (doc_id, text) rows
    * as [[augmented]], so every pair-level oracle built on the plain
    * corpus stays valid over this one. */
  def augmentedSourced(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"), col("source"))
    val near = documents.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"),
        concat(col("source"), lit("_mirror")).as("source"))
    val exact = documents.filter(col("doc_id") % 15 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"), col("source"))
    base.unionAll(near).unionAll(exact)
  }

  /** The doc_id → source map of [[augmentedSourced]] as a DuckDB CTE
    * body (keep in lockstep). */
  val sourcedMapSql: String =
    """  SELECT doc_id, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, source || '_mirror' AS source
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, source
      |  FROM documents WHERE doc_id % 15 = 0""".stripMargin

  /** B8a — exact dedup: group on the md5 digest of the content, keep the
    * smallest doc_id. One shuffle on 16-byte keys with map-side partials.
    */
  def exactDedup(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** THE word 3-gram shingle expression (over a `toks` array column) —
    * the ONE definition every shingle consumer shares (minhash pipeline,
    * streaming banded dedup, frequency family, profiler baselines), so
    * the convention cannot silently desynchronize across families
    * (review-caught: four verbatim copies had accumulated).
    */
  val shingleSql: String =
    "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))"

  /** Word 3-gram shingles + their per-doc distinct set, computed map-side
    * with higher-order functions (no explode, no shuffle).
    */
  private def withShingles(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("toks", split(col("text"), " ", -1))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", expr(shingleSql))

  private val shinglesDuck =
    """shingled AS (
      |  SELECT doc_id,
      |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)] AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
      |  WHERE len(toks) >= 3
      |)""".stripMargin

  /** MinHash signature matrix in long form (doc_id, perm, minhash):
    * minhash_p(doc) = min over shingles of hash64(p || ':' || shingle).
    * Permutations are independent hash families derived by prefixing the
    * permutation index — no multiply-mod arithmetic, so no overflow
    * divergence between engines. Entirely map-side per document.
    */
  def minhashSignatures(corpus: DataFrame, numPerm: Int = 16): DataFrame =
    withShingles(corpus)
      .select(col("doc_id"),
        posexplode(graft.functions.native.minhashSig(col("shingles"), numPerm)))
      .select(col("doc_id"), col("pos").cast("long").as("perm"),
        col("col").as("minhash"))

  /** The signature matrix as DuckDB SQL (given `corpus`/`shingled` CTEs). */
  def minhashSignaturesSql(numPerm: Int = 16): String =
    s"""SELECT doc_id, perm,
       |  list_min(list_transform(shingles, s ->
       |    ${Hashing.hash64Duck("CAST(perm AS VARCHAR) || ':' || s")})) AS minhash
       |FROM shingled, range(0, $numPerm) t(perm)""".stripMargin

  /** B8b — banded-LSH MinHash dedup: 4 bands × 4 rows. Docs sharing any
    * band key become candidates; candidates are verified with exact
    * Jaccard over distinct shingle sets, computed via the inverted-index
    * pattern (counts, not arrays, through the shuffle). Returns pairs with
    * jaccard ≥ minJaccard.
    */
  def minhashPairs(corpus: DataFrame, minJaccard: Double = 0.5,
                   cacheLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                   maxBucket: Int = defaultMaxBucket): DataFrame =
    minhashPairsShingled(withShingles(corpus), minJaccard, cacheLevel, maxBucket)

  /** Hot-bucket candidate cap (VERDICT r9 item 3). A band bucket of B
    * docs yields B²/2 candidate pairs — the round-9 ladder measured the
    * clique blowup when a corpus homogenizes (80 → 1.3M pairs at 100×,
    * PLANS.md split-leakage). The streaming dedup has carried a
    * hot-bucket cap + loud sentinel since round 8; this is the batch
    * twin: per (band, band_key) only the `maxBucket` SMALLEST doc_ids
    * enter the self-join (deterministic truncation), so a degenerate
    * bucket costs O(cap²) instead of melting an executor. The default
    * keeps every healthy fixture bucket intact — the cap is a fuse, not
    * a sampler. Overflow is LOUD, not silent: [[minhashBucketStats]] is
    * the registered, oracle-checked audit reporting bucket sizes and
    * dropped counts under the same cap; run it whenever the pair surface
    * feeds a correctness-sensitive consumer.
    */
  val defaultMaxBucket: Int = 1024

  /** [[minhashPairs]] over a PRE-SHINGLED corpus (a `shingles` column as
    * [[withShingles]] derives it) — lets a composed caller
    * ([[dedupRecall]]) shingle once for several pipelines (review-2). */
  private[ops] def minhashPairsShingled(shingled: DataFrame, minJaccard: Double,
                                        cacheLevel: StorageLevel,
                                        maxBucket: Int = defaultMaxBucket): DataFrame = {
    // The shingled+signed corpus is referenced by four plan branches
    // (both self-join sides + both candidate-set joins); without caching,
    // Spark re-scans and re-hashes the corpus once PER REFERENCE (12
    // scans observed in the audit) — at 100 TB that is 12 passes over the
    // dataset. Cache it. `cacheLevel` is the caller's knob: the default
    // MEMORY_AND_DISK spills rather than evicts under pressure; at 100 TB
    // the shingle arrays are O(corpus) so pass DISK_ONLY (or
    // StorageLevel.NONE semantics via recompute) and let the scan win.
    // Caller contract: long-lived sessions must drop the cache after
    // consuming the result (Verify/Bench call spark.catalog.clearCache()
    // between queries).
    // NARROW the cache to exactly what the branches read — (doc_id, sig,
    // shingle_set); carrying text/toks/raw shingles through persist was
    // measured to dominate the materialization cost (r11).
    val sh = shingled
      .withColumn("sig", graft.functions.native.minhashSig(col("shingles"), 16))
      .withColumn("shingle_set", array_distinct(col("shingles")))
      .select(col("doc_id"), col("sig"), col("shingle_set"))
      .persist(cacheLevel)

    val bandsAll = sh.select(col("doc_id"), posexplode(expr(
      "transform(sequence(0, 3), b -> concat_ws(',', slice(sig, b * 4 + 1, 4)))")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key"))

    // hot-bucket fuse (plan corrected in r11 — VERDICT r10 item 1): cap
    // each band bucket at maxBucket docs BEFORE the self-join, via
    // [[BucketCap.capBuckets]]'s overflow-keys-only mechanism. On a
    // healthy corpus (no bucket over the cap — the normal case) the
    // bands plan comes back UNCHANGED: no window, no sort-shuffle, the
    // r9 plan bit-for-bit. Only overflowing keys (detected by a bounded
    // bucket-count pre-pass over the cached corpus) pay the rank, and
    // truncation keeps the smallest doc_ids (deterministic, same
    // semantics as before).
    val bands = BucketCap.capBuckets(bandsAll, Seq("band", "band_key"),
      "doc_id", maxBucket)

    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    // Verify ONLY the LSH candidates (output-sized, tiny relative to the
    // corpus): join each side's distinct shingle set onto the pairs and
    // intersect. Never computes pair stats for non-candidates — at 100 TB
    // this is candidates × set-size work, not corpus² work.
    val sets = sh.select(col("doc_id"), col("shingle_set"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingle_set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingle_set").as("set_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("set_a")).cast("long") + size(col("set_b")).cast("long") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** BUCKET-SKEW AUDIT for the banded-LSH pair surface — the loud half
    * of the hot-bucket cap: the top-k band buckets by size, each with
    * the candidate-pair mass it drives (n·(n−1)/2), the docs the cap
    * would drop, and the overflow verdict. On a healthy corpus every
    * `overflowed` is false and `dropped_n` is 0 — the audit PROVES the
    * cap never bit; on a homogenizing corpus the top rows show exactly
    * where the quadratic mass concentrates, before the pair join runs.
    * One bands pass + a count aggregate keyed by bucket; the global
    * top-k is `orderBy.limit` — TakeOrderedAndProject, a distributed
    * per-partition top-k + k-row driver merge over bucket-count
    * metadata (never doc rows, and never a single-task global window).
    */
  def minhashBucketStats(corpus: DataFrame, k: Int = 20,
                         maxBucket: Int = defaultMaxBucket): DataFrame = {
    val sh = withShingles(corpus)
      .withColumn("sig", graft.functions.native.minhashSig(col("shingles"), 16))
    val bands = sh.select(col("doc_id"), posexplode(expr(
      "transform(sequence(0, 3), b -> concat_ws(',', slice(sig, b * 4 + 1, 4)))")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key"))
    bands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .orderBy(col("bucket_n").desc, col("band").asc, col("band_key").asc)
      .limit(k)
      .select(col("band").cast("long").as("band"), col("band_key"),
        col("bucket_n"),
        expr("bucket_n * (bucket_n - 1) div 2").as("cand_pairs"),
        greatest(col("bucket_n") - maxBucket, lit(0L)).as("dropped_n"),
        (col("bucket_n") > maxBucket).as("overflowed"))
  }

  /** Same bands derivation as [[minhashPairsOracle]], aggregated to
    * bucket sizes with the same cap arithmetic and top-k tiebreak. */
  def minhashBucketStatsOracle(k: Int = 20,
                               maxBucket: Int = defaultMaxBucket): String =
    s"""$corpusShingledCte,
       |sigs AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 16), p ->
       |      list_min(list_transform(shingles, s ->
       |        ${Hashing.hash64Duck("CAST(p AS VARCHAR) || ':' || s")}))) AS sig
       |  FROM shingled),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',') AS band_key
       |  FROM sigs, range(0, 4) t(b)),
       |sized AS (
       |  SELECT band, band_key, CAST(count(*) AS BIGINT) AS bucket_n,
       |    row_number() OVER (ORDER BY count(*) DESC, band ASC, band_key ASC) AS rn
       |  FROM bands GROUP BY 1, 2)
       |SELECT band, band_key, bucket_n,
       |  CAST(bucket_n * (bucket_n - 1) // 2 AS BIGINT) AS cand_pairs,
       |  CAST(greatest(bucket_n - $maxBucket, 0) AS BIGINT) AS dropped_n,
       |  bucket_n > $maxBucket AS overflowed
       |FROM sized WHERE rn <= $k""".stripMargin

  /** SPLIT-LEAKAGE audit — the split-integrity gate a training pipeline
    * runs before shipping data: near-dup pairs whose two documents land
    * in DIFFERENT train/valid/test splits (a test doc with a train
    * near-twin is leaked evaluation signal the hash split cannot see —
    * splits partition doc_ids, near-dups cross them freely). Composes
    * the engine's registered dedup surface ([[minhashPairs]]: banded-LSH
    * candidates, exact-Jaccard verify) with [[TextOps.splitLabel]]'s
    * content-addressed assignment, applied MAP-SIDE to each pair side —
    * the split is a pure function of doc_id, so no join against a split
    * table is needed. Reports per (split_a, split_b) crossing: pair
    * count and the worst (max) Jaccard — max is order-invariant, so the
    * one IEEE division per pair hash-matches DuckDB.
    *
    * Scale shape: everything downstream of the pair set is pair-sized
    * (the LSH verify already bounds that); the labels add two md5s per
    * pair. The fix for a red gate is the dedup/decontaminate family
    * itself — drop or re-split the crossing near-dups. */
  def splitLeakage(corpus: DataFrame, minJaccard: Double = 0.5): DataFrame =
    minhashPairs(corpus, minJaccard)
      .withColumn("split_a", TextOps.splitLabel(TextOps.splitBucket(col("doc_a"))))
      .withColumn("split_b", TextOps.splitLabel(TextOps.splitBucket(col("doc_b"))))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        max("jaccard").as("max_jaccard"))

  /** [[minhashPairsOracle]] embedded verbatim (nested-WITH idiom), pair
    * sides labeled by [[TextOps.splitLabelDuck]] — both the pair
    * derivation and the split rule stay single-sourced. A `def`, not a
    * `val`: it references [[minhashPairsOracle]], declared later in
    * this object (a val here would capture null at init). */
  def splitLeakageOracle: String =
    s"""WITH pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |$minhashPairsOracle
       |  ) mp),
       |lab AS (
       |  SELECT ${TextOps.splitLabelDuck("doc_a")} AS split_a,
       |    ${TextOps.splitLabelDuck("doc_b")} AS split_b, jaccard
       |  FROM pairs)
       |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  max(jaccard) AS max_jaccard
       |FROM lab WHERE split_a <> split_b GROUP BY 1, 2""".stripMargin

  /** LEAKAGE-SAFE SPLIT — the remedy the [[splitLeakage]] audit
    * motivates: assign train/valid/test CLUSTER-atomically instead of
    * per-document. Every doc in a near-dup component shares the
    * component's canonical label ([[nearDupClusters]]: component min
    * doc_id), so the whole clique lands in ONE split and no verified
    * near-dup pair can ever cross the boundary — leakage is zero by
    * construction, transitively (A~B, B~C put all three together even
    * though A~C was never emitted). Un-clustered docs fall back to
    * their own doc_id; both cases go through [[TextOps.splitLabel]]'s
    * content-addressed bucket, so the assignment stays deterministic,
    * engine-independent, and re-shard-stable — never `rand()`.
    *
    * Scale shape: the cluster labeling is pair-graph-sized (see
    * [[nearDupClusters]]) and joins onto the corpus id column under the
    * [[sizedClusterLabels]] regime — broadcast while the label table is
    * under [[DefaultBroadcastMaxLabels]] (the normal case: the corpus
    * never shuffles to be assigned), shuffle join on a duplicate-flooded
    * corpus whose labeling is corpus-scale; the md5 bucket is
    * map-side. The split FRACTIONS drift only by the near-dup mass
    * (a clique's docs all follow one coin flip), which is exactly the
    * trade a leakage-free protocol makes. */
  def leakageSafeSplit(corpus: DataFrame, minJaccard: Double = 0.5,
                       broadcastMaxLabels: Long = DefaultBroadcastMaxLabels): DataFrame =
    corpus.select(col("doc_id"))
      .join(sizedClusterLabels(nearDupClusters(corpus, minJaccard),
        broadcastMaxLabels), Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextOps.splitLabel(
          TextOps.splitBucket(coalesce(col("label"), col("doc_id")))).as("split"))

  /** Broadcast bound for cluster-label tables: 2M (doc_id, label) longs
    * ≈ 32 MB payload — comfortably executor- and driver-heap-sized. The
    * regime selector below exists because the label table is PAIR-GRAPH
    * sized, not constant-sized: on a duplicate-flooded corpus (every doc
    * in some clique) it approaches corpus-sized, and an unconditional
    * broadcast OOMs the driver (VERDICT r10 item 5 / r9 item 5). */
  val DefaultBroadcastMaxLabels: Long = 2000000L

  /** Size-bounded broadcast regime for cluster-label joins — the
    * [[graft.ops.StatsOps.binRegime]] idiom applied to the label table:
    * count the labels (an eager, bounded pre-pass over the persisted
    * labeling — the labeling is consumed by the join anyway, so the
    * materialization is not wasted work), then broadcast ONLY when under
    * the bound; past it the join falls back to a plain shuffle join,
    * which is the correct plan when labels are corpus-scale. Labels are
    * persisted here under the same caller clearCache contract as the
    * pair surfaces' intermediates. */
  private[graft] def sizedClusterLabels(clusters: DataFrame,
                                        broadcastMaxLabels: Long): DataFrame = {
    val cl = clusters.persist(StorageLevel.MEMORY_AND_DISK)
    if (cl.count() <= broadcastMaxLabels) broadcast(cl) else cl
  }

  /** [[clusterCtes]] (the shared pair-graph → component labeling chain)
    * + the same left-join/coalesce/split rule — every piece of the
    * assignment is single-sourced with the audit and cluster oracles. */
  def leakageSafeSplitOracle: String =
    s"""$clusterCtes,
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS sk
       |  FROM corpus d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
       |SELECT doc_id, ${TextOps.splitLabelDuck("sk")} AS split
       |FROM assigned""".stripMargin

  /** CROSS-SOURCE CONTAMINATION MATRIX — per unordered source pair, how
    * many verified near-dup pairs connect the two sources and the worst
    * Jaccard among them. The curation diagnostic that catches mirror
    * sites, cross-source scrape overlap, and license-laundered copies
    * BEFORE mixing rates are chosen — a hot off-diagonal cell means two
    * "independent" sources are partly the same data and their combined
    * mixing weight double-counts it. Input must carry (doc_id, text,
    * source); pairs come from the registered banded-LSH surface
    * ([[minhashPairs]]), and sources are attached in ONE pass over the
    * corpus-sized id→source map (r11): each pair EXPLODES into its two
    * doc legs, the legs join the map once, and a pair-keyed aggregate
    * folds the two tagged legs back into (src_a, src_b). The previous
    * form ran two per-side equi-joins whose broadcast sides differed
    * only by alias — no exchange reuse, so the corpus-sized map was
    * scanned TWICE; at 100 TB that duplicate scan is the dominant term.
    * The legs side is output-sized (2 × pairs) and the pair-keyed
    * re-group shuffles legs only, never the corpus. Cell key is
    * least/greatest so the matrix is orientation-free; max is
    * order-invariant, so the one IEEE division per pair hash-matches. */
  def crossSourceDupMatrix(corpus: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val src = corpus.select(col("doc_id"), col("source"))
    val legs = minhashPairs(corpus.select("doc_id", "text"), minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    legs.join(src, Seq("doc_id"))
      .groupBy("doc_a", "doc_b", "jaccard")
      .agg(min(when(col("doc_id") === col("doc_a"), col("source"))).as("src_a"),
        min(when(col("doc_id") === col("doc_b"), col("source"))).as("src_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        max("jaccard").as("max_jaccard"))
  }

  /** [[minhashPairsOracle]] verbatim (valid over the sourced corpus —
    * same (doc_id, text) rows) + [[sourcedMapSql]] + the same
    * least/greatest cell key. */
  def crossSourceDupMatrixOracle: String =
    s"""WITH srcpairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |$minhashPairsOracle
       |  ) mp),
       |smap AS (
       |$sourcedMapSql),
       |cells AS (
       |  SELECT least(a.source, b.source) AS source_x,
       |    greatest(a.source, b.source) AS source_y, p.jaccard
       |  FROM srcpairs p
       |  JOIN smap a ON p.doc_a = a.doc_id
       |  JOIN smap b ON p.doc_b = b.doc_id)
       |SELECT source_x, source_y, CAST(count(*) AS BIGINT) AS n_pairs,
       |  max(jaccard) AS max_jaccard
       |FROM cells GROUP BY 1, 2""".stripMargin

  /** B8d — inverted-index n-gram Jaccard dedup: candidates are pairs
    * sharing ≥1 shingle (count-aggregated, arrays never shuffled), then
    * Jaccard ≥ threshold. The all-candidates variant of [[minhashPairs]]
    * — higher recall, more candidates; LSH banding is the 100 TB path.
    *
    * The df cap is the scale guard: an uncapped inverted-index self-join
    * emits Σ_shingle df² rows — quadratic in the hottest shingle's
    * frequency, so one stop-shingle ("one of the") in 10⁶ docs melts a
    * reducer at 100×. Shingles with document frequency > `maxShingleDf`
    * are dropped from the index BEFORE the self-join (standard practice),
    * bounding the join at |index|×K; Jaccard is then computed over the
    * rare-shingle space (sizes counted from the same capped index, so the
    * measure stays coherent). While no shingle exceeds the cap — true for
    * every test corpus here, max df 32 at sf0.1 — results are bit-equal
    * to the exhaustive oracle; with the cap active, frequent shingles
    * stop voting for similarity, which is the intended behavior
    * (boilerplate must not make documents "near-duplicates").
    */
  def ngramJaccardPairs(corpus: DataFrame, minJaccard: Double = 0.5,
                        maxShingleDf: Int = 64,
                        cacheLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                        maxHashBuildRows: Long = MaxHashBuildRowsPerPartition): DataFrame =
    ngramJaccardPairsShingled(withShingles(corpus), minJaccard, maxShingleDf,
      cacheLevel, maxHashBuildRows)

  /** Per-partition build-row bound for FORCING the shuffle-hash form of
    * the inverted-index self-join: ~250k (doc_id, shingle) rows ≈
    * 50–80 MB of UnsafeHashedRelation — inside one task's execution-
    * memory share on an 8 GB local heap and trivially inside a cluster
    * executor's. Past it the unspillable forced build is the wrong plan
    * regardless of heap size; sort-merge spills and finishes. */
  val MaxHashBuildRowsPerPartition: Long = 250000L

  /** Headroom divisor applied to [[MaxHashBuildRowsPerPartition]] while
    * AQE partition coalescing is enabled (ADVICE r12): coalescing can
    * merge several probed shuffle partitions into one task, so the probe
    * below under-measures the worst merged build by the coalesce factor.
    * 4 is a heuristic, not a proof — the advisory partition-size target
    * (64 MB default) stops a merge after a handful of partitions of this
    * (long, short-string) row shape — chosen so the mid-scale regime
    * that measured the shuffle-hash win (10x, ~53k rows/partition) still
    * selects the hint while the merged worst case stays inside the
    * measured OOM bound. */
  val AqeCoalesceHeadroom: Long = 4L

  /** [[ngramJaccardPairs]] over a pre-shingled corpus — see
    * [[minhashPairsShingled]]. */
  private[ops] def ngramJaccardPairsShingled(shingled: DataFrame,
                                             minJaccard: Double,
                                             maxShingleDf: Int,
                                             cacheLevel: StorageLevel,
                                             maxHashBuildRows: Long = MaxHashBuildRowsPerPartition): DataFrame = {
    val inv = shingled
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("shingle"))
    // df-cap via a windowed count: shares the shingle hash partitioning
    // with the self-join below (no extra shuffle beyond the sort).
    // Cached: three plan branches (both join sides + sizes) reference it;
    // Verify/Bench clearCache() between queries per the caller contract.
    val rare = inv
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .filter(col("df") <= maxShingleDf)
      .select("doc_id", "shingle")
      .persist(cacheLevel)
    val sizes = rare.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // shuffle-hash, not broadcast: both sides are corpus-sized — at scale
    // a broadcast of the inverted index would OOM the executors, and even
    // locally building a 300k-entry map per task loses to a partitioned
    // hash join on the shingle key. BUT a FORCED hash build cannot spill:
    // the r11 century ladder measured SparkOutOfMemoryError at 100×
    // (583k docs → ~17M index rows → ~530k-row UnsafeHashedRelation per
    // partition, past one 32-task share of an 8 GB heap). Regime-select
    // the hint by the MEASURED index size — the count materializes the
    // persist all three join branches consume anyway, a cache-priming
    // pre-pass, not extra work. Over the per-partition bound, drop the
    // hint and let Spark plan sort-merge, which SPILLS and finishes.
    val parts = math.max(
      shingled.sparkSession.sessionState.conf.numShufflePartitions, 1)
    // Regime-select on the MEASURED MAX per-shuffle-partition build size,
    // not the skew-blind average count/parts (ADVICE r11): a shingle-key
    // distribution where some partitions carry several times the mean
    // could still force the unspillable hash build past the bound.
    // `pmod(hash(shingle), parts)` IS HashPartitioning's partition-id
    // arithmetic (Murmur3, seed 42), so this probe counts the build rows
    // of every shuffle partition of the PRE-COALESCE map-output layout —
    // exact for that layout, but NOT necessarily for the tasks that run:
    // AQE's partition coalescing (on by default) can merge several small
    // probed partitions into one task, whose forced build is their SUM
    // (ADVICE r12). When coalescing is live the decision therefore adds
    // a headroom factor: the advisory byte target stops a merge after a
    // few partitions of this row shape, and 4x keeps the worst merged
    // build comfortably inside the measured bound. Still one aggregate
    // over the persist all three join branches consume anyway (primes
    // the cache exactly as the old count() did); the partial aggregation
    // bounds the exchange at `parts` rows.
    val maxPartRows = rare
      .groupBy(pmod(hash(col("shingle")), lit(parts)).as("__p"))
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(max("__n"), lit(0L)).as("m"))
      .head().getLong(0)
    val sconf = shingled.sparkSession.sessionState.conf
    val coalesceLive = sconf.adaptiveExecutionEnabled && sconf.coalesceShufflePartitionsEnabled
    val buildBound =
      if (coalesceLive) maxHashBuildRows / AqeCoalesceHeadroom else maxHashBuildRows
    val ySide =
      if (maxPartRows <= buildBound)
        rare.as("y").hint("shuffle_hash")
      else rare.as("y")
    rare.as("x").join(ySide,
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** B8c — SimHash: 60-bit fingerprint per document. Each token votes ±1
    * per bit position of its 60-bit hash; bit b of the fingerprint is set
    * iff the vote sum is positive. Computed per-document on the map side.
    */
  def simhash(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      graft.functions.native.simhash60(split(col("text"), " ", -1)).as("simhash"))

  /** B8c-guard — SimHash over 3-gram SHINGLES instead of unigrams: the
    * homogeneity guard (PLANS.md "SimHash homogeneity hazard"). Shingles
    * are rare keys, so a corpus-wide dominant TOKEN (boilerplate,
    * templating) no longer drags every fingerprint together — the
    * measured 153M-pair collapse on a salted 58k corpus cannot happen.
    * Same vote/bit machinery; docs under 3 tokens have no shingles and
    * are excluded (consistent with the other shingle operators).
    */
  def simhashShingles(corpus: DataFrame): DataFrame =
    withShingles(corpus).select(col("doc_id"),
      graft.functions.native.simhash60(col("shingles")).as("simhash"))

  // lazy: corpusShingledCte is declared later in this object
  lazy val simhashShinglesOracle: String =
    s"""$corpusShingledCte,
       |tok AS (
       |  SELECT doc_id, ${Hashing.hash64Duck("unnest(shingles)")} AS h
       |  FROM shingled),
       |votes AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tok, range(0, 60) t(b) GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY 1""".stripMargin

  /** B8c — SimHash near-dup pairs: equality join on 15-bit chunks
    * (pigeonhole guarantees recall for hamming ≤ 3), verify with popcount
    * of the XOR. Never all-pairs.
    */
  def simhashPairs(corpus: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhash(corpus)
    val chunks = sigs.select(col("doc_id"), col("simhash"), posexplode(expr(
      "transform(sequence(0, 3), i -> shiftright(simhash, i * 15) & 32767)")))
      .select(col("doc_id"), col("simhash"), col("pos").as("chunk_id"), col("col").as("chunk"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** B8 — near-duplicate CLUSTERS: connected components over the banded-
    * MinHash pair graph, labeled by the component's min doc_id. This is
    * the step a production dedup pipeline runs after pair generation
    * (keep one doc per cluster), and pairwise output alone can't express
    * it: transitive near-dups (A~B, B~C) must collapse into one cluster
    * even when A~C was never emitted.
    *
    * Components come from [[connectedComponents]] — large-star/small-star
    * alternation — over the pair graph; see there for the scale argument.
    */
  def nearDupClusters(corpus: DataFrame, minJaccard: Double = 0.5,
                      driverMaxEdges: Long = 1000000L): DataFrame = {
    val spark = corpus.sparkSession
    val pairs = minhashPairs(corpus, minJaccard).select("doc_a", "doc_b").persist()
    // The pair graph is orders of magnitude smaller than the corpus
    // (near-dups are the exception — these are VERIFIED pairs, i.e. the
    // operator's own output), so the clustering phase is sized to the
    // MEASURED graph. Two regimes:
    //  - ≤ driverMaxEdges: driver union-find. The iterative distributed
    //    algorithm pays ~10 jobs of scheduling latency per O(log n) round,
    //    which dwarfs the work for a metadata-sized graph; a bounded
    //    collect of the verified pairs is NOT a corpus collect and is the
    //    same cutover GraphFrames-style pipelines use for small graphs.
    //    DRIVER-HEAP SIZING (ADVICE r5): the 1M-edge default costs ~40 MB
    //    of Tuple2 array plus ~2×32 MB of LongMap during union-find —
    //    safe on a default 1g driver. Raise it only with driver memory to
    //    match (~100 MB heap per additional 1M edges).
    //  - above the bound: fully-distributed large-star/small-star
    //    alternation, shuffles sized up to session parallelism.
    val nEdges = pairs.count()
    val out = if (nEdges <= driverMaxEdges) {
      import spark.implicits._
      // typed collect: Array[(Long, Long)] via the tuple encoder (Tuple2 is
      // @specialized on Long), not an Array[Row] of boxed objects
      val labels = localComponents(pairs.as[(Long, Long)].collect())
      spark.createDataset(labels.toSeq).toDF("doc_id", "label")
    } else {
      val sessionParts = spark.sessionState.conf.numShufflePartitions
      val parts = math.max(2L, math.min(sessionParts.toLong, nEdges / 25000)).toInt
      connectedComponents(pairs, parts)
        .select(col("u").as("doc_id"), col("l").as("label"))
    }
    pairs.unpersist()
    out
  }

  /** B8i-canon — CANONICAL representative per near-dup cluster: the step
    * a production pipeline runs right after clustering — keep the longest
    * document of each cluster (tie-break min doc_id, deterministic), and
    * report the cluster's size. Output is CLUSTER-count-sized (the
    * survivors to keep; everything else in a cluster is dropped).
    *
    * Scale shape: the cluster labeling is pair-graph-sized (see
    * [[nearDupClusters]]), joined onto the corpus under the
    * [[sizedClusterLabels]] broadcast regime — the corpus
    * never shuffles for the join while labels are bounded, and a
    * duplicate-flooded corpus-scale labeling falls back to a shuffle
    * join instead of OOMing the driver; the representative ranking then
    * shuffles only the CLUSTERED docs' (doc_id, label, len) triples (a
    * graph-sized set), one exchange on label. Text itself never moves.
    */
  def dedupCanonical(corpus: DataFrame, minJaccard: Double = 0.5): DataFrame =
    dedupCanonicalFrom(corpus, nearDupClusters(corpus, minJaccard))

  /** Representative selection from PRECOMPUTED cluster labels — use this
    * composition point when the labels are already materialized (a
    * pipeline that wants both the labeling and the survivors should not
    * pay for clustering twice). */
  def dedupCanonicalFrom(corpus: DataFrame, clusters: DataFrame,
                         broadcastMaxLabels: Long = DefaultBroadcastMaxLabels): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val meta = corpus.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val w = Window.partitionBy("label")
    val wo = Window.partitionBy("label").orderBy(col("len").desc, col("doc_id").asc)
    meta.join(sizedClusterLabels(clusters, broadcastMaxLabels), Seq("doc_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(wo))
      .filter(col("rn") === 1)
      .select(col("label"), col("doc_id").as("rep_doc_id"),
        col("cluster_size"), col("len").as("rep_len"))
  }

  /** Driver union-find with path compression for metadata-sized pair
    * graphs; attaching the larger root under the smaller makes the final
    * root the component MINIMUM — identical labeling to
    * [[connectedComponents]]. Iterative find: no stack risk on
    * adversarial chains.
    */
  private[graft] def localComponents(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toArray.map(v => (v, find(v)))
  }

  /** Distributed connected components via LARGE-STAR / SMALL-STAR
    * alternation (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — the algorithm behind GraphFrames'
    * `connectedComponents`). `pairs` is an undirected edge list with two
    * numeric columns; returns one row per vertex: (u, l) with `l` = the
    * component's minimum vertex id.
    *
    *  - Large-star: every node u links each LARGER neighbor to
    *    m(u) = min(Γ(u) ∪ u). Cuts long chains toward local minima and —
    *    the skew property — a degree-d hub emits d edges but each target
    *    collapses onto m(u), so degree never grows superlinearly.
    *  - Small-star: with edges oriented high→low, every node links its
    *    smaller neighbors (and itself) to the minimum. Flattens the
    *    partial forest into stars.
    *
    * Alternation converges in O(log n) rounds regardless of component
    * DIAMETER — a 10⁶-node path needs ~20 rounds, where naive min-label
    * propagation needs 10⁶. Each round is two partial-aggregated groupBys
    * + two graph-partitioned equi-joins; lineage is truncated per round
    * (eager localCheckpoint → LogicalRDD), else analysis+codegen time
    * compounds per round even when execution reads cache. On a cluster,
    * swap localCheckpoint for reliable `checkpoint` (survives executor
    * loss). Convergence = the canonical edge set reaches the composite
    * fixpoint (stars are fixpoints of both steps): checked with one
    * count + one exceptAll over two graph-sized LogicalRDDs per round.
    */
  def connectedComponents(pairs: DataFrame, parts: Int): DataFrame = {
    val Seq(ca, cb) = pairs.columns.toSeq.take(2).map(col)
    // Canonical high→low orientation, self-loops dropped, distinct.
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()

    // m(u) over the symmetric neighborhood, joined back on u: the groupBy
    // runs with map-side partials, so a hub's min is computed without
    // gathering its neighbor list anywhere.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(parts, col("u"))
      val m = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))  // v > u >= m: canonical
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val o = canon(e).repartition(parts, col("u"))
      val m = o.groupBy("u").agg(min("v").as("m"))
      o.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))  // v > m: canonical
        .unionAll(m.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var cur = canon(pairs.select(ca.as("u"), cb.as("v")))
      .repartition(parts, col("u")).localCheckpoint()
    var converged = cur.isEmpty
    while (!converged) {
      val next = smallStar(largeStar(cur))
        .repartition(parts, col("u")).localCheckpoint()
      // Both sides are distinct canonical sets: equal counts + empty
      // multiset difference ⇔ identical edge sets. The count() also
      // materializes the checkpoint; the exceptAll job runs only when
      // counts agree (i.e. at or near the fixpoint), so non-final
      // rounds pay one job, not two.
      converged = next.count() == cur.count() && next.exceptAll(cur).isEmpty
      cur = next
    }
    // Star form: non-roots appear as u with their root as v; roots label
    // themselves (they appear only as v).
    cur.select(col("u"), col("v").as("l"))
      .unionAll(cur.select(col("v").as("u"), col("v").as("l")))
      .groupBy("u").agg(min("l").as("l"))
  }

  /** Clusters oracle: same pair graph, components via a recursive CTE
    * (label-set propagation, min at the end) — an independent fixpoint
    * formulation of connectivity, not a mirror of the Spark iteration.
    */
  /** Shared cluster-labeling CTE chain (pair candidates → verified pairs
    * → symmetric edges → recursive label propagation → `clusters`):
    * [[nearDupClustersOracle]] and [[dedupCanonicalOracle]] both compose
    * onto this prefix, so the labeling can never silently diverge.
    */
  private lazy val clusterCtes: String = {
    // compose over the shared pairs CTE chain (round 14 — no more string
    // surgery on the final SELECT; `pairs` carries (doc_a, doc_b,
    // jaccard) and edges read the id columns)
    val pairsCtes = minhashPairsCtesOver(corpusShingledCte)
      .replaceFirst("(?s)^WITH ", "")
    s"""WITH RECURSIVE $pairsCtes,
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |lbl(doc, l) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.b, lbl.l FROM lbl JOIN edges e ON lbl.doc = e.a),
       |clusters AS (
       |  SELECT doc AS doc_id, CAST(min(l) AS BIGINT) AS label
       |  FROM lbl GROUP BY doc)""".stripMargin
  }

  lazy val nearDupClustersOracle: String =
    s"""$clusterCtes
       |SELECT doc_id, label FROM clusters""".stripMargin

  /** Dedup AUDIT histogram over [[nearDupClusters]] — the operational
    * readout a dedup pipeline publishes after each run: for each
    * near-dup cluster size, how many clusters have it and how many
    * documents (= extra copies + survivors) they hold. A shifting size
    * distribution is the canary for template floods and crawler loops;
    * the removable-copy total is `sum((size-1) * n_clusters)`. One
    * cluster-sized aggregation on top of the clustering — cost lives in
    * the clustering itself.
    */
  def clusterSizeHistogram(corpus: DataFrame, minJaccard: Double = 0.5): DataFrame =
    nearDupClusters(corpus, minJaccard)
      .groupBy("label").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(
        count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("size")).as("n_docs"))

  lazy val clusterSizeHistogramOracle: String =
    s"""$clusterCtes,
       |sized AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS size
       |  FROM clusters GROUP BY label)
       |SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(count(*) * size AS BIGINT) AS n_docs
       |FROM sized GROUP BY size""".stripMargin

  lazy val dedupCanonicalOracle: String =
    s"""$clusterCtes,
       |sized AS (
       |  SELECT c.label, c.doc_id, CAST(length(a.text) AS BIGINT) AS len
       |  FROM clusters c JOIN corpus a ON c.doc_id = a.doc_id),
       |ranked AS (
       |  SELECT label, doc_id, len,
       |    count(*) OVER (PARTITION BY label) AS cluster_size,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY len DESC, doc_id ASC) AS rn
       |  FROM sized)
       |SELECT label, doc_id AS rep_doc_id,
       |  CAST(cluster_size AS BIGINT) AS cluster_size, len AS rep_len
       |FROM ranked WHERE rn = 1""".stripMargin

  /** B8j — inter-document PARAGRAPH dedup (the CCNet/RefinedWeb pipeline
    * stage): segment every document, keep only the globally FIRST
    * occurrence of each segment (ordered by (doc_id, position) — boiler-
    * plate sentences repeated across the corpus survive once), and
    * reassemble the surviving segments per document in original order.
    * Documents whose every segment was seen earlier disappear entirely.
    *
    * Scale shape: one shuffle partitioned on the segment DIGEST (uniform
    * keys — no skew even when one sentence repeats in every document;
    * the window per digest ranks only that segment's occurrences), one
    * reassembly shuffle per doc. Segments travel the dedup shuffle once;
    * documents are never joined against documents.
    */
  def paragraphDedup(documents: DataFrame, sep: String = ". "): DataFrame = {
    // `sep` is a LITERAL separator (regex-quoted for the split, passed
    // verbatim to the reassembly), so segmentation and reassembly can
    // never diverge; [[paragraphDedupOracle]] derives from the same value.
    val base = documents.select(col("doc_id"),
      filter(split(col("text"), java.util.regex.Pattern.quote(sep), -1),
        s => length(s) > 0).as("segs"))
      .filter(size(col("segs")) > 0)
      .withColumn("n_total", size(col("segs")).cast("long"))
    val segs = base.select(col("doc_id"), col("n_total"),
      posexplode(col("segs")).as(Seq("pos", "seg")))
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("seg"))).orderBy(col("doc_id"), col("pos"))
    segs
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .groupBy("doc_id", "n_total")
      .agg(count(lit(1)).as("n_kept"),
        // array_sort on struct(pos, seg) orders by pos: deterministic
        // reassembly regardless of collect order
        concat_ws(sep,
          expr("transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"))
          .as("text_dedup"))
      .select(col("doc_id"), col("text_dedup"), col("n_kept"), col("n_total"))
  }

  /** Paragraph-dedup oracle: same literal segmentation, same global
    * first-occurrence rank, string_agg reassembly ordered by position —
    * both sides derive the separator from the same `sep` value.
    * The positional unnest is bounded by the measured max segment count.
    */
  def paragraphDedupOracle(sep: String = ". "): String = {
    val q = sep.replace("'", "''")
    s"""WITH arrs AS (
      |  SELECT doc_id, list_filter(string_split(text, '$q'), s -> len(s) > 0) AS arr
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_total, i AS pos, arr[i] AS seg
      |  FROM arrs, (SELECT unnest(range(1,
      |         (SELECT CAST(max(len(arr)) AS BIGINT) + 1 FROM arrs))) AS i) t
      |  WHERE len(arr) > 0 AND i <= len(arr)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
      |  FROM segs)
      |SELECT doc_id,
      |  string_agg(seg, '$q' ORDER BY pos) AS text_dedup,
      |  count(*) AS n_kept,
      |  n_total
      |FROM ranked WHERE rn = 1
      |GROUP BY doc_id, n_total""".stripMargin
  }

  /** WITHIN-document segment dedup (the per-document half of CCNet's
    * line dedup): inside each document, keep only the FIRST occurrence
    * of every distinct segment and reassemble in original order.
    * Cross-document duplicates are untouched — this is the stage that
    * kills within-page repetition (navigation repeated top and bottom,
    * chorus lines, copy-paste stutter) without any corpus-wide
    * coordination; [[paragraphDedup]] (keep-first corpus-wide) and
    * [[boilerplateStrip]] (drop-all by corpus DF) are the cross-doc
    * complements.
    *
    * Scale design: ZERO shuffles (plan-asserted) — the keep rule is a
    * pure array expression per row (`array_position(segs, seg) == pos`,
    * first-occurrence-wins), so the operator is embarrassingly parallel
    * and composes into any pipeline position for free. Per-row cost is
    * O(segments²) string compares in the worst case — segments per doc
    * are document-length-bounded, and no data moves; idempotent by
    * construction (spec-asserted).
    */
  def lineDedup(documents: DataFrame, sep: String = ". "): DataFrame =
    documents.select(col("doc_id"),
      filter(split(col("text"), java.util.regex.Pattern.quote(sep), -1),
        s => length(s) > 0).as("segs"))
      .filter(size(col("segs")) > 0)
      .withColumn("n_total", size(col("segs")).cast("long"))
      .withColumn("kept", expr(
        """filter(transform(segs, (s, i) -> struct(i AS pos, s AS seg)),
          |  x -> array_position(segs, x.seg) == x.pos + 1)""".stripMargin))
      .select(col("doc_id"),
        concat_ws(sep, expr("transform(kept, x -> x.seg)")).as("text_dedup"),
        size(col("kept")).cast("long").as("n_kept"), col("n_total"))

  /** Same literal-separator derivation contract as [[paragraphDedupOracle]];
    * the keep rule mirrors as `list_position(arr, seg) = pos` (both
    * 1-based first-occurrence indices).
    */
  def lineDedupOracle(sep: String = ". "): String = {
    val q = sep.replace("'", "''")
    s"""WITH arrs AS (
       |  SELECT doc_id, list_filter(string_split(text, '$q'), s -> len(s) > 0) AS arr
       |  FROM documents),
       |segs AS (
       |  SELECT doc_id, arr, CAST(len(arr) AS BIGINT) AS n_total, i AS pos, arr[i] AS seg
       |  FROM arrs, (SELECT unnest(range(1,
       |         (SELECT CAST(max(len(arr)) AS BIGINT) + 1 FROM arrs))) AS i) t
       |  WHERE len(arr) > 0 AND i <= len(arr))
       |SELECT doc_id,
       |  string_agg(seg, '$q' ORDER BY pos) AS text_dedup,
       |  count(*) AS n_kept,
       |  n_total
       |FROM segs WHERE list_position(arr, seg) = pos
       |GROUP BY doc_id, n_total""".stripMargin
  }

  /** B8p-strip — BOILERPLATE removal by corpus document frequency (the
    * CCNet/RefinedWeb line-dedup step): drop every segment that appears
    * in more than `maxDf` distinct documents (navigation chrome, cookie
    * banners, shared headers — content whose *ubiquity* marks it as
    * boilerplate), then reassemble each document from its surviving
    * segments in original order. Differs from [[paragraphDedup]] in
    * kind: that keeps the FIRST occurrence of a duplicated segment and
    * drops the rest; this drops ALL occurrences once a segment is too
    * common — the first copy of boilerplate is still boilerplate.
    *
    * Scale shape: segment DF is one digest-keyed aggregation — the
    * shuffle carries (16-byte md5, doc_id) for the map-side-partial
    * distinct count, never segment text. The strip is a LEFT ANTI join
    * against only the OVER-common digests ([[boilerplateIndex]] — far
    * smaller than the distinct-segment table, and often broadcastable:
    * boilerplate is by definition a thin head of the DF distribution);
    * reassembly is the same single doc_id-keyed aggregation as
    * [[paragraphDedup]], ordered by struct(pos, seg) sort so collect
    * order never matters. Documents whose every segment is boilerplate
    * drop out of the result — the CCNet behavior (and hazard) — visible
    * as n_kept < n_total on partially-stripped survivors. Composed as
    * [[boilerplateIndex]] (derive once) + [[boilerplateStripAgainst]]
    * (apply anywhere) so the index can be frozen and reused — see
    * [[graft.streaming.StreamingClean]] for the ingest-time twin.
    */
  def boilerplateStrip(documents: DataFrame, sep: String = ". ",
                       maxDf: Long = 1L): DataFrame =
    boilerplateStripAgainst(boilerplateIndex(documents, sep, maxDf),
      documents, sep)

  /** The frozen boilerplate INDEX: md5 digests of every segment whose
    * corpus document frequency exceeds `maxDf` — the artifact a
    * production pipeline derives from yesterday's crawl statistics and
    * applies (via [[boilerplateStripAgainst]] or the streaming twin) to
    * today's ingest without rescanning the reference corpus. One
    * digest-keyed countDistinct aggregation; 16 bytes per distinct
    * over-common segment. */
  def boilerplateIndex(documents: DataFrame, sep: String = ". ",
                       maxDf: Long = 1L): DataFrame =
    segments(documents, sep)
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
      .select("h")

  /** Strip every segment whose digest is in `index` (the boilerplate
    * set) from `documents` and reassemble — the application half of
    * [[boilerplateStrip]], usable against a frozen index from a
    * DIFFERENT (reference) corpus. LEFT ANTI on the digest, then the
    * paragraphDedup-style ordered reassembly; documents reduced to
    * nothing drop out. */
  def boilerplateStripAgainst(index: DataFrame, documents: DataFrame,
                              sep: String = ". "): DataFrame =
    segments(documents, sep)
      .join(index, Seq("h"), "left_anti")
      .groupBy("doc_id", "n_total")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep,
          expr("transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"))
          .as("text_clean"))
      .select(col("doc_id"), col("text_clean"), col("n_kept"), col("n_total"))

  /** Non-empty `sep`-segments of each doc, position-indexed and
    * md5-digested — the shared derivation of [[boilerplateIndex]] and
    * [[boilerplateStripAgainst]] (split and lookup can never diverge). */
  private def segments(documents: DataFrame, sep: String): DataFrame =
    documents.select(col("doc_id"),
        filter(split(col("text"), java.util.regex.Pattern.quote(sep), -1),
          s => length(s) > 0).as("segs"))
      .filter(size(col("segs")) > 0)
      .withColumn("n_total", size(col("segs")).cast("long"))
      .select(col("doc_id"), col("n_total"),
        posexplode(col("segs")).as(Seq("pos", "seg")))
      .withColumn("h", md5(col("seg")))

  /** Boilerplate-strip oracle over the [[augmentedSql]] corpus: same
    * literal segmentation, same digest-keyed DF threshold, string_agg
    * reassembly ordered by position — separator and threshold both
    * derive from the same values as the Spark side. */
  def boilerplateStripOracle(sep: String = ". ", maxDf: Long = 1L): String = {
    val q = sep.replace("'", "''")
    s"""WITH $augmentedSql,
      |arrs AS (
      |  SELECT doc_id, list_filter(string_split(text, '$q'), s -> len(s) > 0) AS arr
      |  FROM corpus),
      |segs AS (
      |  SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_total, i AS pos, arr[i] AS seg
      |  FROM arrs, (SELECT unnest(range(1,
      |         (SELECT CAST(max(len(arr)) AS BIGINT) + 1 FROM arrs))) AS i) t
      |  WHERE len(arr) > 0 AND i <= len(arr)),
      |rare AS (
      |  SELECT md5(seg) AS h FROM segs
      |  GROUP BY 1 HAVING count(DISTINCT doc_id) <= $maxDf)
      |SELECT doc_id,
      |  string_agg(seg, '$q' ORDER BY pos) AS text_clean,
      |  count(*) AS n_kept,
      |  n_total
      |FROM segs WHERE md5(seg) IN (SELECT h FROM rare)
      |GROUP BY doc_id, n_total""".stripMargin
  }

  /** B8k — benchmark DECONTAMINATION (the GPT-3/PaLM training-data
    * hygiene step): drop every training document sharing at least one
    * long n-gram (default 8 tokens — long enough that sharing one is
    * overlap, not chance) with a held-out benchmark set. Here the
    * benchmark is the `doc_id % 50 = 0` slice of the corpus (stand-in
    * for an external eval set); output is the surviving documents.
    *
    * Scale shape: the benchmark gram set is eval-corpus-sized (tiny next
    * to training data) — digest it, broadcast it, LEFT SEMI the exploded
    * training grams against it to find contaminated doc_ids, then one
    * LEFT ANTI join back onto the docs. Training documents never join
    * each other, and only 16-byte digests cross the broadcast.
    */
  /** Distinct (doc_id, gram-digest) pairs — shared by [[decontaminate]]
    * and [[contaminationScore]] so the gram derivation cannot diverge. */
  private def gramDigests(df: DataFrame, n: Int): DataFrame = df
    .withColumn("toks", split(col("text"), " ", -1))
    .filter(size(col("toks")) >= n)
    .select(col("doc_id"), explode(expr(
      s"transform(sequence(0, size(toks) - $n), i -> md5(concat_ws(' ', slice(toks, i + 1, $n))))"))
      .as("g"))
    .distinct()

  def decontaminate(documents: DataFrame, n: Int = 8): DataFrame = {
    val bench = gramDigests(documents.filter(col("doc_id") % 50 === 0), n)
      .select("g").distinct()
    val contaminated = gramDigests(documents.filter(col("doc_id") % 50 =!= 0), n)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    documents.filter(col("doc_id") % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** B8k-spans — SPAN-LEVEL decontamination audit: WHERE the benchmark
    * overlap sits, not just which documents carry it. For every training
    * document, the disjoint token intervals [span_start, span_end]
    * (1-based, inclusive) covered by benchmark n-grams, overlapping and
    * adjacent hits merged — the input a surgical pipeline redacts
    * instead of dropping whole documents ([[decontaminate]] is the
    * drop-gate; production pipelines prefer redaction when the
    * contaminated span is a quote inside an otherwise-novel document).
    *
    * Scale shape: the benchmark digest set broadcasts exactly as in
    * [[decontaminate]]; gram POSITIONS are marked map-side by the
    * broadcast semi-join, so the interval-merge windows run over HIT
    * positions only — contamination-mass-sized, not corpus-sized — in
    * one doc_id exchange (the [[substringDedup]] merge idiom, token
    * space instead of character space).
    */
  def decontaminateSpans(documents: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bench = gramDigests(documents.filter(col("doc_id") % 50 === 0), n)
      .select("g").distinct()
    val hits = documents.filter(col("doc_id") % 50 =!= 0)
      .withColumn("toks", split(col("text"), " ", -1))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $n), i -> md5(concat_ws(' ', slice(toks, i + 1, $n))))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"), col("col").as("g"))
      .join(broadcast(bench), Seq("g"), "left_semi")
      .withColumn("e", col("i") + lit(n - 1).cast("long"))
    val wd = Window.partitionBy("doc_id").orderBy("i")
    hits
      .withColumn("prev_max_e",
        max(col("e")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newgrp",
        when(col("prev_max_e").isNull || col("i") > col("prev_max_e") + 1, 1L)
          .otherwise(0L))
      .withColumn("grp",
        sum(col("newgrp")).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("i").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_toks"))
  }

  /** B8k-surgical — SURGICAL decontamination: the redaction
    * [[decontaminateSpans]] feeds — every training document re-emitted
    * with its contaminated token spans removed (clean documents pass
    * through untouched; a fully-contaminated document becomes the empty
    * string, NOT a dropped row — the output is the corpus, row-for-row).
    * Reassembly is map-side per document after one join against the
    * contamination-sized span table: an indexed `filter` drops the
    * covered tokens, `concat_ws` restores the single-space form the
    * tokenizer assumes. Per-token cost is O(spans of that doc) — spans
    * are merged-disjoint, so a pathological doc costs its contamination
    * mass, never its length². */
  def decontaminateSurgical(documents: DataFrame, n: Int = 8): DataFrame = {
    val spans = decontaminateSpans(documents, n)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("ivs"))
    documents.filter(col("doc_id") % 50 =!= 0)
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // coalesce, not a bare when: a null-text doc has no grams, so its
        // ivs is null and the when-branch would pass the NULL through —
        // and the registered query's length guard would then DROP the row
        // while the oracle emits it as '' (ADVICE r11). The row-for-row
        // contract says every training doc survives; null text ≡ ''.
        coalesce(
          when(col("ivs").isNull, col("text")).otherwise(expr(
            """concat_ws(' ', filter(split(text, ' ', -1),
              |  (t, p) -> size(filter(ivs,
              |    iv -> p + 1 >= iv.s AND p + 1 <= iv.e)) = 0))""".stripMargin)),
          lit("")).as("text_clean"))
  }

  /** Positional gram CTE twin of [[gramCtes]] (positions KEPT — spans
    * need them) + the same interval-merge arithmetic as the Spark side. */
  private def gramPosCtes(n: Int): String =
    s"""WITH gpos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    md5(array_to_string(toks[i:i+${n - 1}], ' ')) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |       (SELECT unnest(range(1,
       |          (SELECT CAST(max(len(string_split(text, ' '))) AS BIGINT) FROM documents)))
       |        AS i) t
       |  WHERE len(toks) >= $n AND i <= len(toks) - ${n - 1}),
       |bench AS (SELECT DISTINCT g FROM gpos WHERE doc_id % 50 = 0),
       |hits AS (
       |  SELECT doc_id, i, i + ${n - 1} AS e FROM gpos
       |  WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench)),
       |marked AS (
       |  SELECT doc_id, i, e,
       |    CASE WHEN i > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |      THEN 1 ELSE 0 END AS newgrp
       |  FROM hits),
       |grouped AS (
       |  SELECT doc_id, i, e,
       |    sum(newgrp) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM marked),
       |spans AS (
       |  SELECT doc_id, min(i) AS span_start, max(e) AS span_end
       |  FROM grouped GROUP BY doc_id, grp)""".stripMargin

  def decontaminateSpansOracle(n: Int = 8): String =
    s"""${gramPosCtes(n)}
       |SELECT doc_id, span_start, span_end,
       |  span_end - span_start + 1 AS span_toks
       |FROM spans""".stripMargin

  def decontaminateSurgicalOracle(n: Int = 8): String =
    s"""${gramPosCtes(n)},
       |tok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i, toks[i] AS t
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |        WHERE doc_id % 50 <> 0),
       |       (SELECT unnest(range(1,
       |          (SELECT CAST(max(len(string_split(text, ' '))) AS BIGINT) FROM documents) + 1))
       |        AS i) r
       |  WHERE i <= len(toks)),
       |kept AS (
       |  SELECT tok.doc_id, i, t FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s
       |    WHERE s.doc_id = tok.doc_id AND i BETWEEN s.span_start AND s.span_end)),
       |joined AS (
       |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text_clean
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(j.text_clean, '') AS text_clean
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
       |LEFT JOIN joined j USING (doc_id)""".stripMargin

  /** B8k-frac — FRACTIONAL contamination scoring: [[decontaminate]] is
    * the binary gate; this is the metric pipelines actually report (and
    * threshold more finely than any-overlap): per training document, the
    * fraction of its distinct n-grams that appear in the benchmark set.
    *
    * Scale shape: same broadcast discipline as decontaminate — the
    * eval-sized digest set broadcasts, training grams are marked by a
    * broadcast LEFT join (hit or null), and ONE count-sized shuffle on
    * doc_id aggregates (n_grams, n_hit). The division is a single IEEE
    * op (bitwise-stable across engines); documents never join documents.
    */
  def contaminationScore(documents: DataFrame, n: Int = 8): DataFrame = {
    val bench = gramDigests(documents.filter(col("doc_id") % 50 === 0), n)
      .select("g").distinct()
    gramDigests(documents.filter(col("doc_id") % 50 =!= 0), n)
      .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("frac", col("n_hit").cast("double") / col("n_grams"))
  }

  /** Shared gram-digest CTE prefix (`grams` distinct per doc + `bench`):
    * [[decontaminateOracle]] and [[contaminationScoreOracle]] compose
    * onto it — lockstep with [[gramDigests]]. */
  private def gramCtes(n: Int): String =
    s"""WITH grams AS (
       |  SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+${n - 1}], ' ')) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |       (SELECT unnest(range(1,
       |          (SELECT CAST(max(len(string_split(text, ' '))) AS BIGINT) FROM documents)))
       |        AS i) t
       |  WHERE len(toks) >= $n AND i <= len(toks) - ${n - 1}),
       |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)""".stripMargin

  def decontaminateOracle(n: Int = 8): String =
    s"""${gramCtes(n)},
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id % 50 <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin

  def contaminationScoreOracle(n: Int = 8): String =
    s"""${gramCtes(n)}
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) AS frac
       |FROM grams WHERE doc_id % 50 <> 0
       |GROUP BY doc_id""".stripMargin

  /** B8k-bloom — bloom-prefiltered decontamination: byte-identical output
    * to [[decontaminate]] (the oracle is shared), but the plan is the one
    * that survives a benchmark-set too large to broadcast-join raw. A
    * Bloom filter over the benchmark gram digests (~1.2 bytes/item at 3%
    * FPP vs 16-byte digests — a 13× smaller broadcast) prunes the
    * training grams map-side; only the tiny surviving candidate set
    * reaches the exact semi-join that removes Bloom false positives.
    * Bloom filters have no false negatives, so prefilter + exact-confirm
    * is exactly the [[decontaminate]] result for every fpp.
    *
    * The filter probe is a Scala UDF (Spark's `might_contain` expression
    * is not in the public FunctionRegistry) — off the codegen path, but
    * one branch-free hash probe per gram against a broadcast bitset, and
    * it runs before any shuffle. The benchmark digest set is persisted:
    * it is consumed twice (bloom build — an eager action at plan-build
    * time — then the confirm join); Verify/Bench clearCache() between
    * queries per the caller contract.
    */
  def bloomDecontaminate(documents: DataFrame, n: Int = 8,
                         fpp: Double = 0.03): DataFrame = {
    val bench = gramDigests(documents.filter(col("doc_id") % 50 === 0), n)
      .select("g").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bloom = bench.stat.bloomFilter("g", math.max(bench.count(), 1L), fpp)
    val bBloom = documents.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => bBloom.value.mightContainString(g))
    val contaminated = gramDigests(documents.filter(col("doc_id") % 50 =!= 0), n)
      .filter(mightContain(col("g")))
      .join(bench.hint("shuffle_hash"), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    documents.filter(col("doc_id") % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** B8 — exact duplicated-substring signal (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    * statistic, gram-bucketed instead of suffix-array'd): for every
    * character k-gram position in every document, is that exact k-gram
    * seen anywhere else in the corpus (another doc OR another position of
    * the same doc)? Emits per-document position counts and the duplicated
    * fraction — the gate a training pipeline thresholds on before the
    * expensive span-removal pass.
    *
    * Scale shape: positions never carry text past the map side — each
    * becomes a 16-byte md5 digest immediately. Stage 1 partial-aggregates
    * (doc_id, digest) → local count m (combiner absorbs within-doc
    * repeats); stage 2 is a window SUM over the digest partition (corpus
    * count C) — a shuffle keyed by digest carrying (digest, doc_id, m)
    * triples only; stage 3 re-keys by doc_id for the final roll-up. Three
    * count-sized shuffles, no join-back, no all-pairs anything. A true
    * suffix array finds *maximal* spans; the fixed-k gram statistic is the
    * standard distributed approximation (any duplicated span ≥ k marks
    * exactly its |span|-k+1 covered positions on both sides).
    */
  def substringDup(documents: DataFrame, k: Int = 20): DataFrame = {
    val pos = documents
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${k - 1}), i -> md5(substring(text, i, $k)))"))
        .as("g"))
    val local = pos.groupBy("doc_id", "g").agg(count(lit(1)).as("m"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    local.withColumn("c", sum("m").over(w))
      .groupBy("doc_id")
      .agg(
        sum("m").cast("long").as("n_grams"),
        sum(when(col("c") > 1, col("m")).otherwise(lit(0))).cast("long").as("dup_grams"))
      .withColumn("dup_frac",
        col("dup_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** Same formulation in DuckDB: bounded positional unnest, identical
    * grouping, one IEEE division on exactly-counted integers. */
  def substringDupOracle(k: Int = 20): String =
    s"""WITH pos AS (
       |  SELECT doc_id, md5(substr(text, i, $k)) AS g
       |  FROM documents, (SELECT unnest(range(1,
       |         (SELECT CAST(max(length(text)) AS BIGINT) - ${k - 1} + 1 FROM documents)))
       |       AS i) t
       |  WHERE length(text) >= $k AND i <= length(text) - ${k - 1}),
       |local AS (SELECT doc_id, g, count(*) AS m FROM pos GROUP BY 1, 2),
       |tot AS (SELECT *, sum(m) OVER (PARTITION BY g) AS c FROM local)
       |SELECT doc_id,
       |  CAST(sum(m) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN c > 1 THEN m ELSE 0 END) AS BIGINT) AS dup_grams,
       |  CAST(CAST(sum(CASE WHEN c > 1 THEN m ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) AS dup_frac
       |FROM tot GROUP BY doc_id""".stripMargin

  /** B8s — ExactSubstr span REMOVAL (the transformation [[substringDup]]
    * gates; Lee et al. 2022 §4.1): delete every duplicated k-char gram
    * occurrence EXCEPT the first corpus-wide, and reassemble the
    * surviving text. "First" is the global (doc_id, position) minimum per
    * gram digest — so one copy of every duplicated span survives, in the
    * earliest document that contains it, exactly the keep-first policy of
    * the suffix-array ExactSubstr pass (approximated at fixed-k gram
    * granularity, the same approximation as [[substringDup]]: any
    * duplicated span ≥ k marks all of its covered positions).
    *
    * Output: (doc_id, clean_len, clean_text) for EVERY input document —
    * untouched documents pass through, fully-duplicated documents come
    * back empty (the training-data shape: empty docs are then dropped by
    * the quality gate, not silently lost here).
    *
    * Scale shape: positions shuffle as (16-byte digest, doc_id, i)
    * triples — one digest-keyed shuffle to find first occurrences (window
    * MIN, no join), one doc-keyed shuffle to collect each document's
    * removal intervals (per-doc state is position-count-sized, i.e.
    * bounded by the document's own length — same bound as holding the
    * text), then one join back to the corpus. Reassembly is a single
    * fold over the sorted intervals with a cursor (overlaps collapse via
    * greatest()) — per-document, no char-level explode anywhere on the
    * Spark side.
    */
  def substringDedup(documents: DataFrame, k: Int = 20): DataFrame = {
    val pos = documents
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(text) - ${k - 1}), i -> md5(substring(text, i, $k)))")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    // global first occurrence of each gram = min (doc_id, i) struct;
    // every other occurrence is a duplicated position to remove
    val marked = pos
      .withColumn("first", min(struct(col("doc_id"), col("i"))).over(w))
      .filter(struct(col("doc_id"), col("i")) =!= col("first"))
      .select(col("doc_id"), col("i"))
    // MERGE overlapping/adjacent removal intervals BEFORE the reassembly
    // fold. Without this, a heavily-duplicated document yields ~one
    // interval per CHARACTER and the fold's concat chain does O(L) steps
    // with O(L) string copying each — O(L²) per doc: 545 s on the 10×
    // amplified corpus, 36 s with the merge (23M marked positions
    // collapse to 175k disjoint intervals). Classic SQL interval merge:
    // a new group starts where i exceeds the running max end + 1; both
    // windows and the groupBys share ONE doc_id exchange.
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy("doc_id").orderBy("i")
    val merged = marked
      .withColumn("e", col("i") + lit(k - 1))
      .withColumn("prev_max_e",
        max(col("e")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newgrp",
        when(col("prev_max_e").isNull || col("i") > col("prev_max_e") + 1, 1L)
          .otherwise(0L))
      .withColumn("grp",
        sum(col("newgrp")).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp").agg(min("i").as("s"), max("e").as("e"))
    val ivs = merged.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("ivs"))
    documents.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ivs").isNull, col("text")).otherwise(expr(
          s"""aggregate(ivs,
             |  struct(1 AS cur, '' AS acc),
             |  (st, iv) -> struct(
             |    CAST(greatest(st.cur, iv.e + 1) AS INT) AS cur,
             |    CASE WHEN iv.s > st.cur
             |         THEN concat(st.acc, substring(text, st.cur, iv.s - st.cur))
             |         ELSE st.acc END AS acc),
             |  st -> concat(st.acc, substring(text, st.cur, length(text) - st.cur + 1)))""".stripMargin))
          .as("clean_text"))
      .select(col("doc_id"), length(col("clean_text")).cast("long").as("clean_len"),
        col("clean_text"))
  }

  /** Span-removal oracle — an INDEPENDENT per-character formulation (not a
    * mirror of the interval fold): a char survives iff no duplicated gram
    * occurrence in the same document covers it; survivors are re-joined by
    * position with string_agg. Clearly correct; efficiency irrelevant at
    * oracle scale.
    */
  def substringDedupOracle(k: Int = 20): String =
    s"""WITH pos AS (
       |  SELECT doc_id, i, md5(substr(text, i, $k)) AS g
       |  FROM documents, (SELECT unnest(range(1,
       |         (SELECT CAST(max(length(text)) AS BIGINT) - ${k - 1} + 1 FROM documents)))
       |       AS i) t
       |  WHERE length(text) >= $k AND i <= length(text) - ${k - 1}),
       |marked AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
       |    FROM pos)
       |  WHERE rn > 1),
       |chars AS (
       |  SELECT d.doc_id, d.text, c
       |  FROM documents d, (SELECT unnest(range(1,
       |         (SELECT CAST(max(length(text)) AS BIGINT) + 1 FROM documents))) AS c) t
       |  WHERE c <= length(d.text)),
       |kept AS (
       |  SELECT ch.doc_id, ch.text, ch.c FROM chars ch
       |  WHERE NOT EXISTS (SELECT 1 FROM marked m
       |    WHERE m.doc_id = ch.doc_id AND m.i <= ch.c AND ch.c <= m.i + ${k - 1}))
       |SELECT d.doc_id,
       |  CAST(length(coalesce(kt.clean_text, '')) AS BIGINT) AS clean_len,
       |  coalesce(kt.clean_text, '') AS clean_text
       |FROM documents d
       |LEFT JOIN (
       |  SELECT doc_id, string_agg(substr(text, c, 1), '' ORDER BY c) AS clean_text
       |  FROM kept GROUP BY doc_id) kt ON d.doc_id = kt.doc_id""".stripMargin

  /** Group-level MinHash sketch: the signature of a SET of documents is
    * the elementwise min of the member signatures (min is associative —
    * equal to hashing the union of their shingles). Pure built-ins:
    * long-form signatures → groupBy(group, perm) → min. Enables
    * group-vs-group Jaccard estimation (cluster dedup, source overlap)
    * without touching raw text again; partial aggregation keeps the
    * shuffle at |groups| × numPerm rows.
    */
  def groupSignatures(docs: DataFrame, groupCol: String,
                      numPerm: Int = 16): DataFrame =
    minhashSignatures(docs.select("doc_id", "text"), numPerm)
      .join(docs.select(col("doc_id"), col(groupCol)), "doc_id")
      .groupBy(groupCol, "perm")
      .agg(min("minhash").as("minhash"))

  /** B8h-matrix — pairwise group-overlap Jaccard estimates from the
    * group sketches: est(A, B) = |matching permutations| / numPerm — the
    * standard MinHash estimator applied at the group level (source-vs-
    * source contamination matrix, the triage that decides which source
    * pairs deserve a full document-level dedup pass). Everything after
    * the per-group sketch aggregation is metadata-sized: |groups|×perm
    * rows self-joined on perm — the corpus itself is touched exactly
    * once, by the sketch pass.
    */
  def sourceOverlap(docs: DataFrame, groupCol: String,
                    numPerm: Int = 16): DataFrame = {
    val sigs = groupSignatures(docs, groupCol, numPerm)
    val a = sigs.select(col(groupCol).as("group_a"), col("perm"),
      col("minhash").as("mh_a"))
    val b = sigs.select(col(groupCol).as("group_b"), col("perm"),
      col("minhash").as("mh_b"))
    a.join(b, Seq("perm")).filter(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L))
        .cast("long").as("n_match"))
      .withColumn("jaccard_est",
        col("n_match").cast("double") / lit(numPerm.toDouble))
  }

  /** B8 composite — the full corpus-dedup pipeline a training run
    * executes: exact dedup keeps the min-doc_id copy of identical texts,
    * then banded MinHash removes the fuzzy-duplicate side (doc_b) of
    * every near-dup pair. Output: surviving doc_ids. Each stage is the
    * already-verified operator; the composition is one anti-join.
    */
  def dedupPipeline(corpus: DataFrame, minJaccard: Double = 0.9): DataFrame = {
    val exactKeepers = exactDedup(corpus).select(col("keeper_id").as("doc_id"))
    val fuzzyDrops = minhashPairs(corpus, minJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    exactKeepers.join(fuzzyDrops, Seq("doc_id"), "left_anti")
  }

  lazy val dedupPipelineOracle: String =
    s"""$corpusShingledCte,
       |exact_keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
       |sigs AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 16), p ->
       |      list_min(list_transform(shingles, s ->
       |        ${Hashing.hash64Duck("CAST(p AS VARCHAR) || ':' || s")}))) AS sig
       |  FROM shingled),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',') AS band_key
       |  FROM sigs, range(0, 4) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM shingled),
       |fuzzy_drops AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |    SELECT cand.doc_a, cand.doc_b,
       |      CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
       |        (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) AS jaccard
       |    FROM cand JOIN sets a ON cand.doc_a = a.doc_id
       |              JOIN sets b ON cand.doc_b = b.doc_id)
       |  WHERE jaccard >= 0.9)
       |SELECT doc_id FROM exact_keepers
       |WHERE doc_id NOT IN (SELECT doc_id FROM fuzzy_drops)""".stripMargin

  /** The persisted dedup INDEX for a corpus slice: one row per document,
    * (doc_id, sig ARRAY<BIGINT>) — the full MinHash signature. This is
    * what a production pipeline writes to parquet once per corpus slice;
    * every later increment reads it back and never touches the slice's
    * text again. Signature-only verification (fraction of agreeing
    * permutations — the standard MinHash Jaccard estimator) makes the
    * index self-contained: no shingle sets, no raw text, numPerm longs
    * per document.
    */
  def signatureIndex(corpus: DataFrame, numPerm: Int = 16): DataFrame =
    withShingles(corpus)
      .select(col("doc_id"),
        graft.functions.native.minhashSig(col("shingles"), numPerm).as("sig"))

  /** B8 — INCREMENTAL dedup-against-index: dedup a DELTA slice (today's
    * crawl) against a persisted signature [[signatureIndex]] (the corpus
    * so far) plus the delta's own earlier documents, without re-reading
    * or re-shingling the indexed corpus. The production shape at 100 TB:
    * the corpus is append-only, increments are daily, and re-sketching
    * 100 TB to admit 100 GB is the thing this operator exists to avoid.
    *
    * Candidates come from the same 4-band LSH as [[minhashPairs]]
    * (delta bands ⋈ index bands, plus delta ⋈ earlier-delta); each
    * candidate is verified by SIGNATURE AGREEMENT — |matching perms| /
    * numPerm ≥ `minEst` — so verification needs nothing but the index
    * row itself. Exact duplicates agree on every permutation, so their
    * bands all collide and recall for them is 1 by construction.
    *
    * Output: one row per delta document — (doc_id, dup_of, is_dup) with
    * `dup_of` = the smallest matching document id (index or earlier
    * delta) and -1 for survivors.
    *
    * Scale shape: the index is read once (persisted here — two plan
    * branches reference it: band derivation + verification join); only
    * (doc_id, band_key) pairs and numPerm-long signatures shuffle; the
    * delta side is increment-sized. `index` must carry exactly
    * (doc_id, sig) — enforced, so the corpus CANNOT be re-shingled here.
    */
  def dedupIncremental(index: DataFrame, delta: DataFrame,
                       minEst: Double = 0.5, numPerm: Int = 16,
                       cacheLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(index.columns.sorted.sameElements(Array("doc_id", "sig")),
      s"index must be a signatureIndex (doc_id, sig); got ${index.columns.mkString(",")}")
    require(numPerm % 4 == 0, s"numPerm must be a multiple of 4, got $numPerm")
    val rows = numPerm / 4
    def bandsOf(sigs: DataFrame): DataFrame =
      sigs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, 3), b -> concat_ws(',', slice(sig, b * $rows + 1, $rows)))")))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key"))

    // Inputs are persisted for the DURATION OF THIS CALL only: the operator
    // is eager — it materializes its delta-sized output (persisted at
    // `cacheLevel`) and unpersists both inputs before returning, so a
    // long-lived session never accumulates leaked cached plans (VERDICT r5
    // item 6). The CALLER owns the returned frame: unpersist() it when done.
    val isig = index.persist(cacheLevel)
    val dsig = signatureIndex(delta, numPerm).persist(cacheLevel)
    try {
      val ibands = bandsOf(isig)
      val dbands = bandsOf(dsig)

      val candIdx = dbands.as("d").join(ibands.as("i"),
          col("d.band") === col("i.band") && col("d.band_key") === col("i.band_key"))
        .select(col("d.doc_id").as("delta_id"), col("i.doc_id").as("cand_id"))
      val candDelta = dbands.as("a").join(dbands.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("b.doc_id") < col("a.doc_id"))
        .select(col("a.doc_id").as("delta_id"), col("b.doc_id").as("cand_id"))
      val cand = candIdx.unionAll(candDelta).distinct()

      val allSigs = isig.unionAll(dsig)
      // codegen'd primitive loop (see SigAgree) — integer equality count,
      // identical to the zip_with/aggregate HOF form it replaces
      val nMatch = graft.functions.native.sigAgree(col("sa"), col("sb"))
      val dups = cand
        .join(dsig.select(col("doc_id").as("delta_id"), col("sig").as("sa")), "delta_id")
        .join(allSigs.select(col("doc_id").as("cand_id"), col("sig").as("sb")), "cand_id")
        .withColumn("est", nMatch.cast("double") / lit(numPerm.toDouble))
        .filter(col("est") >= minEst)
        .groupBy("delta_id").agg(min("cand_id").as("dup_of"))

      val out = delta.select(col("doc_id"))
        .join(dups.withColumnRenamed("delta_id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
        .persist(cacheLevel)
      out.count() // materialize while the inputs are still cached
      out
    } finally {
      isig.unpersist()
      dsig.unpersist()
    }
  }

  /** Incremental-dedup oracle over the same partitioned corpus: index =
    * the base documents (doc_id < 100000 in [[augmented]]), delta = the
    * injected copies; identical banding, signature-agreement estimator,
    * min-candidate labeling.
    */
  def dedupIncrementalOracle(minEst: Double = 0.5, numPerm: Int = 16): String = {
    val rows = numPerm / 4
    s"""$corpusShingledCte,
       |sigs AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $numPerm), p ->
       |      list_min(list_transform(shingles, s ->
       |        ${Hashing.hash64Duck("CAST(p AS VARCHAR) || ':' || s")}))) AS sig
       |  FROM shingled),
       |ibands AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b * $rows + 1 : b * $rows + $rows], ',') AS band_key
       |  FROM sigs, range(0, 4) t(b) WHERE doc_id < 100000),
       |dbands AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b * $rows + 1 : b * $rows + $rows], ',') AS band_key
       |  FROM sigs, range(0, 4) t(b) WHERE doc_id >= 100000),
       |cand AS (
       |  SELECT d.doc_id AS delta_id, i.doc_id AS cand_id
       |  FROM dbands d JOIN ibands i ON d.band = i.band AND d.band_key = i.band_key
       |  UNION
       |  SELECT a.doc_id AS delta_id, b.doc_id AS cand_id
       |  FROM dbands a JOIN dbands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND b.doc_id < a.doc_id),
       |est AS (
       |  SELECT delta_id, cand_id,
       |    CAST(len(list_filter(range(1, ${numPerm + 1}),
       |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numPerm.0 AS est
       |  FROM cand
       |  JOIN sigs sa ON cand.delta_id = sa.doc_id
       |  JOIN sigs sb ON cand.cand_id = sb.doc_id),
       |dups AS (
       |  SELECT delta_id, min(cand_id) AS dup_of
       |  FROM est WHERE est >= $minEst GROUP BY 1)
       |SELECT d.doc_id, coalesce(dup_of, -1) AS dup_of,
       |  dup_of IS NOT NULL AS is_dup
       |FROM (SELECT doc_id FROM corpus WHERE doc_id >= 100000) d
       |LEFT JOIN dups ON d.doc_id = dups.delta_id""".stripMargin
  }

  // ---- DuckDB oracle SQL (kept in lockstep with the Spark ops above) ----

  /** Shared CTE prefix (corpus + shingled) over ANY corpus-producing CTE
    * chain whose final CTE is named `corpus` — the composition point the
    * sampled-recall oracle uses to re-derive every pair oracle over the
    * sampled corpus without touching their SQL. */
  def corpusShingledCteOver(corpusCtes: String): String =
    s"WITH $corpusCtes,\n$shinglesDuck"

  /** Shared CTE prefix: corpus + shingled. */
  val corpusShingledCte: String = corpusShingledCteOver(augmentedSql)

  val exactDedupSql: String =
    s"""WITH ${augmentedSql}
       |SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
       |FROM corpus GROUP BY 1""".stripMargin

  val minhashSignaturesOracle: String =
    s"$corpusShingledCte\n${minhashSignaturesSql()}"

  private val jaccardDuck =
    """sizes AS (
      |  SELECT doc_id, CAST(len(list_distinct(shingles)) AS BIGINT) AS n_sh
      |  FROM shingled),
      |inv AS (
      |  SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM shingled),
      |common AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      |  FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT doc_a, doc_b,
      |    CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common) AS jaccard
      |  FROM common
      |  JOIN sizes a ON common.doc_a = a.doc_id
      |  JOIN sizes b ON common.doc_b = b.doc_id)""".stripMargin

  /** The banded-LSH pair derivation as a reusable CTE chain ending in a
    * `pairs` CTE — [[minhashPairsOracleOver]] selects from it directly;
    * the triplet-mining oracle composes negatives on top of it. */
  def minhashPairsCtesOver(prefix: String): String =
    s"""$prefix,
       |sigs AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 16), p ->
       |      list_min(list_transform(shingles, s ->
       |        ${Hashing.hash64Duck("CAST(p AS VARCHAR) || ':' || s")}))) AS sig
       |  FROM shingled),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',') AS band_key
       |  FROM sigs, range(0, 4) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |$jaccardDuck,
       |pairs AS (
       |  SELECT jac.doc_a, jac.doc_b, jaccard
       |  FROM jac JOIN cand ON jac.doc_a = cand.doc_a AND jac.doc_b = cand.doc_b
       |  WHERE jaccard >= 0.5)""".stripMargin

  /** [[minhashPairsOracle]] parameterized over its corpus+shingled CTE
    * prefix ([[corpusShingledCteOver]]) — the sampled-recall oracle
    * composes the same SQL over the sampled corpus. */
  def minhashPairsOracleOver(prefix: String): String =
    s"""${minhashPairsCtesOver(prefix)}
       |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin

  val minhashPairsOracle: String = minhashPairsOracleOver(corpusShingledCte)

  /** [[ngramJaccardOracle]] parameterized over its CTE prefix (same
    * composition point as [[minhashPairsOracleOver]]). */
  def ngramJaccardOracleOver(prefix: String): String =
    s"""$prefix,
       |$jaccardDuck
       |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5""".stripMargin

  val ngramJaccardOracle: String = ngramJaccardOracleOver(corpusShingledCte)

  /** Explode-form simhash oracle — same votes/bits as [[simhash]], written
    * as plain unnest+groupBy SQL (clearly correct; efficiency irrelevant
    * for the oracle).
    */
  val simhashOracle: String =
    s"""WITH ${augmentedSql},
       |tok AS (
       |  SELECT doc_id, ${Hashing.hash64Duck("unnest(string_split(text, ' '))")} AS h
       |  FROM corpus),
       |votes AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tok, range(0, 60) t(b) GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY 1""".stripMargin

  /** Shared candidate CTE chain (corpus → simhash → chunk join → `pairs`):
    * [[simhashPairsOracle]] and [[editDistPairsOracle]] both compose onto
    * this prefix, so the candidate generation can never silently diverge
    * between the two oracles.
    */
  private val simhashCandidateCtes: String =
    s"""WITH ${augmentedSql},
       |tok AS (
       |  SELECT doc_id, ${Hashing.hash64Duck("unnest(string_split(text, ' '))")} AS h
       |  FROM corpus),
       |votes AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tok, range(0, 60) t(b) GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY 1),
       |chunks AS (
       |  SELECT doc_id, simhash, i AS chunk_id, (simhash >> (i * 15)) & 32767 AS chunk
       |  FROM sigs, range(0, 4) t(i)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id)""".stripMargin

  val simhashPairsOracle: String =
    s"""$simhashCandidateCtes
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin

  /** B8 — edit-distance verification of SimHash candidates: unit-cost
    * Levenshtein over a fixed prefix, the second-opinion check a dedup
    * pipeline runs where token-level similarity can false-positive
    * (templated text with different fill-ins). Distance runs ONLY on
    * candidate pairs (never all-pairs) and only on `prefixLen`-char
    * prefixes — O(candidates × prefixLen²), bounded regardless of
    * document length. Unit-cost edit distance is engine-agnostic
    * (identical DP values everywhere), so the oracle mirrors bitwise.
    * The output column is named `prefix_editdist` — it is the distance
    * between PREFIXES, deliberately not whole-document distance.
    */
  def editDistPairs(corpus: DataFrame, maxDist: Int = 20,
                    prefixLen: Int = 40): DataFrame = {
    val texts = corpus.select(col("doc_id"),
      substring(col("text"), 1, prefixLen).as("prefix"))
    simhashPairs(corpus)
      .join(texts.select(col("doc_id").as("doc_a"), col("prefix").as("pa")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("prefix").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        levenshtein(col("pa"), col("pb")).cast("long").as("prefix_editdist"))
      .filter(col("prefix_editdist") <= maxDist)
  }

  /** [[simhashCandidateCtes]] plus the edit-distance verification — the
    * candidate CTE chain is shared by construction, not string surgery. */
  def editDistPairsOracle(maxDist: Int = 20, prefixLen: Int = 40): String =
    s"""$simhashCandidateCtes
       |SELECT doc_a, doc_b, hamming,
       |  CAST(levenshtein(ta.prefix, tb.prefix) AS BIGINT) AS prefix_editdist
       |FROM (SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3) cand
       |JOIN (SELECT doc_id, substr(text, 1, $prefixLen) AS prefix FROM corpus) ta
       |  ON doc_a = ta.doc_id
       |JOIN (SELECT doc_id, substr(text, 1, $prefixLen) AS prefix FROM corpus) tb
       |  ON doc_b = tb.doc_id
       |WHERE levenshtein(ta.prefix, tb.prefix) <= $maxDist""".stripMargin

  /** Measured DEDUP RECALL — the [[graft.ops.SimilarityOps.annRecall]]
    * sibling for the lexical pipeline: how many of the TRUE
    * Jaccard ≥ t pairs ([[ngramJaccardPairs]], exhaustive over the
    * shared shingle space while its df cap is inactive — the test
    * corpora's regime) does banded-LSH MinHash ([[minhashPairs]])
    * recover? Both pipelines verify with the SAME exact Jaccard over
    * the SAME `withShingles` derivation, so found ⊆ truth by
    * construction and the miss set is precisely the banding's
    * candidate-generation misses — the number that tells an operator
    * whether 4×4 banding suffices at their similarity threshold.
    * One summary row: (n_truth, n_found, recall); the division is the
    * single IEEE op, nullif-guarded for an empty truth set.
    *
    * DEPLOYMENT CONTRACT (VERDICT r11 item 4): this exhaustive form is
    * a FIXTURE-SCALE ground-truth check — its truth side is quadratic
    * in pair mass (the term that OOMed the pre-fix 100× ladder and
    * still costs ~225 s at 100× locally). Production evaluation is
    * [[dedupRecallSampled]]: same estimator over a content-addressed
    * doc sample, truth-side pair mass shrinking quadratically with the
    * sample rate, `sampleBuckets` as the recall-vs-cost knob (the
    * 32/64/128 sweep is driver-tracked in PLANS.md).
    */
  def dedupRecall(corpus: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // shingle ONCE for both pipelines (review-2: the composed query
    // otherwise tokenized+shingled the corpus twice — the dominant
    // pass); cached under the same caller clearCache contract as the
    // pipelines' own intermediates
    // coalesce to cluster parallelism before pinning (round 15): the
    // augmented corpus unions 3 branches, so unpinned it materializes at
    // 3× the branch partition count and both pipelines' references pay
    // 3× the tasks. Narrow (no shuffle), full parallelism kept; safe by
    // the harness contract — the exhaustive recall corpus is bounded
    // (dedup_recall_sampled is the scale path).
    val shingled = withShingles(corpus)
      .coalesce(math.max(1,
        corpus.sparkSession.sparkContext.defaultParallelism))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val truth = ngramJaccardPairsShingled(shingled, minJaccard, 64,
      StorageLevel.MEMORY_AND_DISK).select("doc_a", "doc_b")
    val found = minhashPairsShingled(shingled, minJaccard,
      StorageLevel.MEMORY_AND_DISK)
      .select(col("doc_a").as("f_a"), col("doc_b").as("f_b"), lit(1L).as("hit"))
    truth
      .join(found, col("doc_a") === col("f_a") && col("doc_b") === col("f_b"),
        "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_found"))
      .select(col("n_truth").cast("long").as("n_truth"),
        col("n_found").cast("long").as("n_found"),
        (col("n_found").cast("double") /
          nullif(col("n_truth").cast("double"), lit(0.0))).as("recall"))
  }

  /** SAMPLED dedup recall — the 100 TB formulation of [[dedupRecall]]
    * (VERDICT r10 item 4): the exhaustive Jaccard truth side is
    * quadratic-ish in corpus size, so at scale the estimator runs over a
    * content-addressed DOC SAMPLE (seeded md5 bucket < sampleBuckets of
    * 256 — the [[graft.ops.TextOps.stratifiedSample]] shuffle-key idiom:
    * uniform-by-content, identical under any partitioning, retry, or
    * speculation; never `rand()`). Because banded-LSH candidacy is
    * PAIR-LOCAL (a pair shares a band bucket or not, regardless of other
    * docs), minhash-found pairs restricted to sampled endpoints equal
    * minhash pairs OVER the sample — so both pipelines run on the
    * sub-corpus and the estimate is exactly "recall over sampled truth
    * pairs", an unbiased estimate of pair recall under uniform doc
    * sampling. Cost shrinks quadratically with the sample rate; the
    * evaluation harness itself now scales. */
  def dedupRecallSampled(corpus: DataFrame, minJaccard: Double = 0.5,
                         sampleBuckets: Int = 128,
                         seed: String = "42"): DataFrame =
    dedupRecall(corpus.filter(sampleBucketCol(seed) < sampleBuckets),
        minJaccard)
      .select(lit(sampleBuckets.toLong).as("sample_buckets"),
        col("n_truth"), col("n_found"), col("recall"))

  /** The content-addressed sample bucket (0–255) of a doc — seeded md5
    * over the id, in lockstep with the DuckDB predicate inside
    * [[sampledAugmentedSql]]. */
  def sampleBucketCol(seed: String): Column =
    conv(substring(md5(concat(col("doc_id").cast("string"), lit(s":r$seed"))),
      1, 2), 16, 10).cast("long")

  /** Both pair oracles embedded verbatim as nested-WITH CTE subqueries
    * (the annRecall/outputDiff idiom), joined and counted by the same
    * arithmetic — parameterized over the corpus prefix and lead columns
    * so the plain and sampled recall oracles are ONE derivation. */
  private def recallOracleOver(prefix: String, leadCols: String): String =
    s"""WITH truth AS (
       |SELECT doc_a, doc_b FROM (
       |${ngramJaccardOracleOver(prefix)}
       |) tq),
       |found AS (
       |SELECT doc_a, doc_b FROM (
       |${minhashPairsOracleOver(prefix)}
       |) fq),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |    CAST(COALESCE(sum(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END),
       |      0) AS BIGINT) AS n_found
       |  FROM truth t LEFT JOIN found f
       |    ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b)
       |SELECT ${leadCols}n_truth, n_found,
       |  CAST(n_found AS DOUBLE) / NULLIF(CAST(n_truth AS DOUBLE), 0.0)
       |    AS recall
       |FROM agg""".stripMargin

  def dedupRecallOracle(): String = recallOracleOver(corpusShingledCte, "")

  def dedupRecallSampledOracle(sampleBuckets: Int = 128,
                               seed: String = "42"): String =
    recallOracleOver(
      corpusShingledCteOver(sampledAugmentedSql(sampleBuckets, seed)),
      s"CAST($sampleBuckets AS BIGINT) AS sample_buckets, ")
}
