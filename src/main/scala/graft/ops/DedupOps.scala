package graft.ops

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

  /** Spark twin of [[DedupOracles.coSampledAugmentedSql]]'s predicate column (0–255
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

  /** B8a — exact dedup: group on the md5 digest of the content, keep the
    * smallest doc_id. One shuffle on 16-byte keys with map-side partials.
    */
  def exactDedup(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** THE word 3-gram shingle expression (over a `toks` array column) —
    * the ONE definition every shingle consumer shares (minhash pipeline,
    * streaming banded dedup, frequency family, profiler baselines), so
    * the convention cannot desynchronize across families.
    */
  val shingleSql: String =
    "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))"

  // ---- The MinHash/LSH steps, written once: batch, incremental and
  // streaming dedup (StreamingDedup) all go through these helpers, so
  // the shingle convention, the band-key policy and the signature-index
  // contract each live in exactly one place.

  /** Word 3-gram `shingles` (with the `toks` they come from), computed
    * map-side with higher-order functions (no explode, no shuffle).
    * Documents under 3 tokens have no shingle and are dropped. */
  private[graft] def shingled(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " ", -1))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", expr(shingleSql))

  /** Adds `sig`, the `numPerm`-long MinHash signature of `shingles`:
    * sig[p] = min over shingles of hash64(p || ':' || shingle). */
  private[graft] def signed(df: DataFrame, numPerm: Int): DataFrame =
    df.withColumn("sig", graft.functions.native.minhashSig(col("shingles"), numPerm))

  /** LSH banding of a signed frame: one row per document and band —
    * `idCol`, then `carry`, then `band` (0–3) and `band_key`, the
    * band's numPerm/4 signature values joined by ','. The streaming
    * bucket key and the batch band key are this one expression. */
  private[graft] def bands(df: DataFrame, numPerm: Int, idCol: String,
                           carry: Seq[Column] = Nil): DataFrame = {
    // 4 bands of numPerm/4 rows each: a non-multiple would silently drop
    // the trailing signature slots from every band key (recall loss)
    require(numPerm % 4 == 0, s"numPerm must be a multiple of 4, got $numPerm")
    val rows = numPerm / 4
    val keys = posexplode(expr(
      s"transform(sequence(0, 3), b -> concat_ws(',', slice(sig, b * $rows + 1, $rows)))"))
    df.select((col(idCol) +: carry) :+ keys: _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
  }

  /** A persisted signature index holds exactly (doc_id, sig): no text,
    * so nothing can re-shingle the indexed corpus. */
  private[graft] def requireSignatureIndex(index: DataFrame): Unit =
    require(index.columns.sorted.sameElements(Array("doc_id", "sig")),
      s"index must be a signatureIndex (doc_id, sig); got ${index.columns.mkString(",")}")

  /** The MinHash Jaccard estimate: the fraction of the numPerm
    * permutations on which two signatures agree (a codegen'd integer
    * equality count, see SigAgree). */
  private[graft] def agreement(sa: Column, sb: Column, numPerm: Int): Column =
    graft.functions.native.sigAgree(sa, sb).cast("double") / lit(numPerm.toDouble)

  /** MinHash signature matrix in long form (doc_id, perm, minhash):
    * minhash_p(doc) = min over shingles of hash64(p || ':' || shingle).
    * Permutations are independent hash families derived by prefixing the
    * permutation index — no multiply-mod arithmetic, so no overflow
    * divergence between engines. Entirely map-side per document.
    */
  def minhashSignatures(corpus: DataFrame, numPerm: Int = 16): DataFrame =
    signed(shingled(corpus), numPerm)
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("perm"),
        col("col").as("minhash"))

  /** B8b — banded-LSH MinHash dedup: 4 bands × 4 rows. Docs sharing any
    * band key become candidates; candidates are verified with exact
    * Jaccard over distinct shingle sets, computed via the inverted-index
    * pattern (counts, not arrays, through the shuffle). Returns pairs with
    * jaccard ≥ minJaccard.
    */
  def minhashPairs(corpus: DataFrame, minJaccard: Double = 0.5,
                   cacheLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                   maxBucket: Int = defaultMaxBucket): DataFrame =
    minhashPairsShingled(shingled(corpus), minJaccard, cacheLevel, maxBucket)

  /** Hot-bucket candidate cap. A band bucket of B docs yields B²/2
    * candidate pairs, and a homogenizing corpus turns buckets into
    * cliques (80 → 1.3M pairs at 100×, PLANS.md split-leakage). Per
    * (band, band_key) only the `maxBucket` SMALLEST doc_ids enter the
    * self-join (deterministic truncation), so a degenerate bucket costs
    * O(cap²) instead of melting an executor; the streaming dedup caps
    * its buckets the same way. The default keeps every healthy fixture
    * bucket intact — the cap is a fuse, not a sampler. Overflow is LOUD,
    * not silent: [[minhashBucketStats]] is the registered, oracle-checked
    * audit reporting bucket sizes and dropped counts under the same cap;
    * run it whenever the pair surface feeds a correctness-sensitive
    * consumer.
    */
  val defaultMaxBucket: Int = 1024

  /** [[minhashPairs]] over a PRE-SHINGLED corpus (a `shingles` column as
    * [[shingled]] derives it), so a composed caller ([[dedupRecall]])
    * shingles once for several pipelines. */
  private[ops] def minhashPairsShingled(shingledCorpus: DataFrame, minJaccard: Double,
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
    // Caller contract: the caller owns the cache and drops it after
    // consuming the result; for registry queries `graft.QueryRun` is the
    // one place that counts and clears it after each run.
    // The cache holds exactly what the branches read — (doc_id, sig,
    // shingle_set); carrying text/toks/raw shingles through persist
    // dominates the materialization cost.
    val sh = signed(shingledCorpus, 16)
      .withColumn("shingle_set", array_distinct(col("shingles")))
      .select(col("doc_id"), col("sig"), col("shingle_set"))
      .persist(cacheLevel)

    // hot-bucket fuse: cap each band bucket at maxBucket docs BEFORE the
    // self-join, via [[BucketCap.capBuckets]]'s overflow-keys-only
    // mechanism. On a healthy corpus (no bucket over the cap — the
    // normal case) the bands plan comes back UNCHANGED: no window, no
    // sort-shuffle. Only overflowing keys (detected by a bounded
    // bucket-count pre-pass over the cached corpus) pay the rank, and
    // truncation keeps the smallest doc_ids (deterministic).
    val capped = BucketCap.capBuckets(bands(sh, 16, "doc_id"),
      Seq("band", "band_key"), "doc_id", maxBucket)

    val cand = capped.as("a").join(capped.as("b"),
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
                         maxBucket: Int = defaultMaxBucket): DataFrame =
    bands(signed(shingled(corpus), 16), 16, "doc_id")
      .groupBy("band", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .orderBy(col("bucket_n").desc, col("band").asc, col("band_key").asc)
      .limit(k)
      .select(col("band").cast("long").as("band"), col("band_key"),
        col("bucket_n"),
        expr("bucket_n * (bucket_n - 1) div 2").as("cand_pairs"),
        greatest(col("bucket_n") - maxBucket, lit(0L)).as("dropped_n"),
        (col("bucket_n") > maxBucket).as("overflowed"))

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
    * broadcast would OOM the driver. */
  val DefaultBroadcastMaxLabels: Long = 2000000L

  /** Size-bounded broadcast regime for cluster-label joins — the
    * [[graft.ops.StatsOps.binRegime]] idiom applied to the label table:
    * count the labels (an eager, bounded pre-pass over the persisted
    * labeling — the labeling is consumed by the join anyway, so the
    * materialization is not wasted work), then broadcast ONLY when under
    * the bound; past it the join falls back to a plain shuffle join,
    * which is the correct plan when labels are corpus-scale. Labels are
    * persisted here, and the caller owns them as it owns the pair
    * surfaces' intermediates (`graft.QueryRun` counts and clears them
    * after a registry query). */
  private[graft] def sizedClusterLabels(clusters: DataFrame,
                                        broadcastMaxLabels: Long): DataFrame = {
    val cl = clusters.persist(StorageLevel.MEMORY_AND_DISK)
    if (cl.count() <= broadcastMaxLabels) broadcast(cl) else cl
  }

  /** CROSS-SOURCE CONTAMINATION MATRIX — per unordered source pair, how
    * many verified near-dup pairs connect the two sources and the worst
    * Jaccard among them. The curation diagnostic that catches mirror
    * sites, cross-source scrape overlap, and license-laundered copies
    * BEFORE mixing rates are chosen — a hot off-diagonal cell means two
    * "independent" sources are partly the same data and their combined
    * mixing weight double-counts it. Input must carry (doc_id, text,
    * source); pairs come from the registered banded-LSH surface
    * ([[minhashPairs]]), and sources are attached in ONE pass over the
    * corpus-sized id→source map: each pair EXPLODES into its two
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
    ngramJaccardPairsShingled(shingled(corpus), minJaccard, maxShingleDf,
      cacheLevel, maxHashBuildRows)

  /** Per-partition build-row bound for FORCING the shuffle-hash form of
    * the inverted-index self-join: ~250k (doc_id, shingle) rows ≈
    * 50–80 MB of UnsafeHashedRelation — inside one task's execution-
    * memory share on an 8 GB local heap and trivially inside a cluster
    * executor's. Past it the unspillable forced build is the wrong plan
    * regardless of heap size; sort-merge spills and finishes. */
  val MaxHashBuildRowsPerPartition: Long = 250000L

  /** Headroom divisor applied to [[MaxHashBuildRowsPerPartition]] while
    * AQE partition coalescing is enabled: coalescing can
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
    // the caller owns it (`graft.QueryRun` counts and clears it after a
    // registry query).
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
    // the 100× ladder measured SparkOutOfMemoryError
    // (583k docs → ~17M index rows → ~530k-row UnsafeHashedRelation per
    // partition, past one 32-task share of an 8 GB heap). Regime-select
    // the hint by the MEASURED index size — the count materializes the
    // persist all three join branches consume anyway, a cache-priming
    // pre-pass, not extra work. Over the per-partition bound, drop the
    // hint and let Spark plan sort-merge, which SPILLS and finishes.
    val parts = math.max(
      shingled.sparkSession.sessionState.conf.numShufflePartitions, 1)
    // Regime-select on the MEASURED MAX per-shuffle-partition build size,
    // not the skew-blind average count/parts: a shingle-key
    // distribution where some partitions carry several times the mean
    // could still force the unspillable hash build past the bound.
    // `pmod(hash(shingle), parts)` IS HashPartitioning's partition-id
    // arithmetic (Murmur3, seed 42), so this probe counts the build rows
    // of every shuffle partition of the PRE-COALESCE map-output layout —
    // exact for that layout, but NOT necessarily for the tasks that run:
    // AQE's partition coalescing (on by default) can merge several small
    // probed partitions into one task, whose forced build is their SUM.
    // When coalescing is live the decision therefore adds
    // a headroom factor: the advisory byte target stops a merge after a
    // few partitions of this row shape, and 4x keeps the worst merged
    // build comfortably inside the measured bound. Still one aggregate
    // over the persist all three join branches consume anyway (primes
    // the cache as a count() would); the partial aggregation
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
    shingled(corpus).select(col("doc_id"),
      graft.functions.native.simhash60(col("shingles")).as("simhash"))

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
    //    DRIVER-HEAP SIZING: the 1M-edge default costs ~40 MB
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
    // never diverge; [[DedupOracles.paragraphDedupOracle]] derives from the same value.
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
        // while the oracle emits it as ''. The row-for-row
        // contract says every training doc survives; null text ≡ ''.
        coalesce(
          when(col("ivs").isNull, col("text")).otherwise(expr(
            """concat_ws(' ', filter(split(text, ' ', -1),
              |  (t, p) -> size(filter(ivs,
              |    iv -> p + 1 >= iv.s AND p + 1 <= iv.e)) = 0))""".stripMargin)),
          lit("")).as("text_clean"))
  }

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
    * time — then the confirm join); the caller owns it, and
    * `graft.QueryRun` counts and clears it after a registry query.
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
    signed(shingled(corpus), numPerm).select(col("doc_id"), col("sig"))

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
    requireSignatureIndex(index)
    // Inputs are persisted for the DURATION OF THIS CALL only: the operator
    // is eager — it materializes its delta-sized output (persisted at
    // `cacheLevel`) and unpersists both inputs before returning, so a
    // long-lived session never accumulates leaked cached plans. The
    // CALLER owns the returned frame: unpersist() it when done.
    val isig = index.persist(cacheLevel)
    val dsig = signatureIndex(delta, numPerm).persist(cacheLevel)
    try {
      val ibands = bands(isig, numPerm, "doc_id")
      val dbands = bands(dsig, numPerm, "doc_id")

      val candIdx = dbands.as("d").join(ibands.as("i"),
          col("d.band") === col("i.band") && col("d.band_key") === col("i.band_key"))
        .select(col("d.doc_id").as("delta_id"), col("i.doc_id").as("cand_id"))
      val candDelta = dbands.as("a").join(dbands.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("b.doc_id") < col("a.doc_id"))
        .select(col("a.doc_id").as("delta_id"), col("b.doc_id").as("cand_id"))
      val cand = candIdx.unionAll(candDelta).distinct()

      val allSigs = isig.unionAll(dsig)
      val dups = cand
        .join(dsig.select(col("doc_id").as("delta_id"), col("sig").as("sa")), "delta_id")
        .join(allSigs.select(col("doc_id").as("cand_id"), col("sig").as("sb")), "cand_id")
        .withColumn("est", agreement(col("sa"), col("sb"), numPerm))
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

  /** Measured DEDUP RECALL — the [[graft.ops.SimilarityOps.annRecall]]
    * sibling for the lexical pipeline: how many of the TRUE
    * Jaccard ≥ t pairs ([[ngramJaccardPairs]], exhaustive over the
    * shared shingle space while its df cap is inactive — the test
    * corpora's regime) does banded-LSH MinHash ([[minhashPairs]])
    * recover? Both pipelines verify with the SAME exact Jaccard over
    * the SAME [[shingled]] derivation, so found ⊆ truth by
    * construction and the miss set is precisely the banding's
    * candidate-generation misses — the number that tells an operator
    * whether 4×4 banding suffices at their similarity threshold.
    * One summary row: (n_truth, n_found, recall); the division is the
    * single IEEE op, nullif-guarded for an empty truth set.
    *
    * DEPLOYMENT CONTRACT: this exhaustive form is
    * a FIXTURE-SCALE ground-truth check — its truth side is quadratic
    * in pair mass (the term that OOMed the pre-fix 100× ladder and
    * still costs ~225 s at 100× locally). Production evaluation is
    * [[dedupRecallSampled]]: same estimator over a content-addressed
    * doc sample, truth-side pair mass shrinking quadratically with the
    * sample rate, `sampleBuckets` as the recall-vs-cost knob (the
    * 32/64/128 sweep is driver-tracked in PLANS.md).
    */
  def dedupRecall(corpus: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // shingle ONCE for both pipelines (tokenizing and shingling is the
    // dominant pass); cached and owned by the caller like the pipelines'
    // own intermediates (`graft.QueryRun` counts and clears them).
    // Coalesce to cluster parallelism before pinning: the augmented
    // corpus unions 3 branches, so unpinned it materializes at 3× the
    // branch partition count and both pipelines' references pay 3× the
    // tasks. Narrow (no shuffle), full parallelism kept; safe by the
    // harness contract — the exhaustive recall corpus is bounded
    // (dedup_recall_sampled is the scale path).
    val sh = shingled(corpus)
      .coalesce(math.max(1,
        corpus.sparkSession.sparkContext.defaultParallelism))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val truth = ngramJaccardPairsShingled(sh, minJaccard, 64,
      StorageLevel.MEMORY_AND_DISK).select("doc_a", "doc_b")
    val found = minhashPairsShingled(sh, minJaccard,
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

  /** SAMPLED dedup recall — the 100 TB formulation of [[dedupRecall]]:
    * the exhaustive Jaccard truth side is
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
    * [[DedupOracles.sampledAugmentedSql]]. */
  def sampleBucketCol(seed: String): Column =
    conv(substring(md5(concat(col("doc_id").cast("string"), lit(s":r$seed"))),
      1, 2), 16, 10).cast("long")

}
