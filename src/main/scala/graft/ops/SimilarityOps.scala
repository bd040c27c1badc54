package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over `embeddings.parquet` (SURVEY.md §7 B9):
  * brute-force cosine top-k as the correctness baseline, and an IVF-style
  * label-partitioned variant as the scale path.
  *
  * Numerics: embeddings are Array[Float]; both engines cast element-wise to
  * double and accumulate with a LEFT FOLD (Spark `aggregate`, DuckDB
  * `list_reduce`) so every intermediate IEEE operation is identical and the
  * scores hash-match bitwise — no rounding anywhere.
  *
  * Scale design: the query side is tiny and broadcast, so the corpus never
  * shuffles for scoring. Top-k runs per-query-partitioned windows (never a
  * global `Window.orderBy`, which would serialize onto one task). For
  * 100 TB the brute-force path becomes IVF: [[ivfTopK]] prunes the corpus
  * to the query's coarse cell (here the `label` column stands in for the
  * nearest-centroid assignment); real deployments add nprobe > 1 by
  * unioning cells. Pre-normalizing vectors once and storing the norm
  * (done here via [[withNorm]]) halves the per-pair flops.
  */
object SimilarityOps {

  /** Left-fold dot product — native [[graft.functions.DotFold]], bit-
    * identical to `aggregate(zip_with(...))` and DuckDB's list_reduce
    * (strict sequential IEEE accumulation), ~20× the interpreted HOF speed.
    */
  private def dot(a: String, b: String): Column =
    graft.functions.native.dotFold(expr(a), expr(b))

  /** Corpus with embeddings cast to double + precomputed L2 norm. */
  def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("norm", sqrt(dot("emb", "emb")))

  /** The corpus side of the cosine searches: (vec_id, emb, norm). */
  private def vectors(embeddings: DataFrame): DataFrame =
    withNorm(embeddings).select(col("vec_id"), col("emb"), col("norm"))

  /** The query side of the cosine searches: the `corpus` rows with
    * vec_id < nQueries as (q_id, q_emb, q_norm), then `extra`. */
  private def querySide(corpus: DataFrame, nQueries: Int, extra: Column*): DataFrame =
    corpus.filter(col("vec_id") < nQueries)
      .select(Seq(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm")) ++ extra: _*)

  /** The one scorer of the cosine searches: each (query, candidate) pair
    * of `pairs` scores exact cosine `dot(emb, q_emb) / (norm · q_norm)`,
    * and each query keeps its top k by (score DESC, vec_id ASC). Output:
    * (q_id, vec_id, score, rank). */
  private def cosineRanks(pairs: DataFrame, k: Int): DataFrame =
    Ranking.topK(
        pairs.withColumn("score", dot("emb", "q_emb") / (col("norm") * col("q_norm"))),
        "q_id", Seq(col("score").desc, col("vec_id").asc), k)
      .select("q_id", "vec_id", "score", "rank")

  /** [[cosineRanks]] over the corpus rows that meet the BROADCAST query
    * side on `candidate`: the corpus never shuffles for scoring. */
  private def cosineScan(corpus: DataFrame, queries: DataFrame, candidate: Column,
                         k: Int): DataFrame =
    cosineRanks(corpus.join(broadcast(queries), candidate), k)

  /** B9 — brute-force cosine top-k: queries = vec_id < nQueries, scored
    * against the whole corpus (self excluded).
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val corpus = vectors(embeddings)
    cosineScan(corpus, querySide(corpus, nQueries), col("vec_id") =!= col("q_id"), k)
  }

  /** B9 — IVF-style ANN: prune the corpus to the query's coarse cell
    * (`label` = nearest-centroid assignment) before scoring; the join key
    * carries the partition pruning.
    */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val corpus = withNorm(embeddings).select(col("vec_id"), col("label"), col("emb"), col("norm"))
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("norm").as("q_norm"))
    cosineScan(corpus, queries,
      col("label") === col("q_label") && col("vec_id") =!= col("q_id"), k)
  }

  /** The cell ANCHOR convention shared by the probed-IVF search and the
    * ingest composite: each cell's min-vec_id member (deterministic,
    * unlike a mean centroid whose float-summation order could never
    * hash-match an oracle). One source of truth — the `anchors` CTE of
    * [[graft.oracle.SimilarityOracles]] is the SQL twin.
    */
  private def cellAnchors(corpus: DataFrame): DataFrame = {
    val wCell = Window.partitionBy("label").orderBy(col("vec_id").asc)
    corpus.withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("label").as("a_label"), col("emb").as("a_emb"),
        col("norm").as("a_norm"))
  }

  /** B9 — IVF with nprobe > 1: score each query against every cell's
    * ANCHOR ([[cellAnchors]]), probe the nProbe best cells, then scan
    * only those cells. The standard recall knob of IVF: probing 2 cells
    * roughly halves the missed-neighbor rate at 2× candidate cost.
    *
    * Scale shape: anchors are |cells| rows (broadcast); the query×cell
    * ranking is bounded by nQueries × |cells| — metadata-sized, never
    * data-sized — and the corpus is touched only via the probed-cell
    * equi-join on `label`.
    */
  def ivfTopKProbed(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                    nProbe: Int = 2): DataFrame = {
    val corpus = withNorm(embeddings).select(col("vec_id"), col("label"), col("emb"), col("norm"))
    val anchors = cellAnchors(corpus)
    val wq = Window.partitionBy("q_id").orderBy(col("a_score").desc, col("a_label").asc)
    val probed = querySide(corpus, nQueries).crossJoin(broadcast(anchors))
      .withColumn("a_score", dot("q_emb", "a_emb") / (col("q_norm") * col("a_norm")))
      .withColumn("cell_rank", row_number().over(wq))
      .filter(col("cell_rank") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("a_label").as("p_label"))
    cosineScan(corpus, probed,
      col("label") === col("p_label") && col("vec_id") =!= col("q_id"), k)
  }

  /** Deterministic random-hyperplane coefficients for LSH bucketing:
    * coef(p,d) = hash60("p:d") / 2^59 - 1.0 ∈ [-1, 1). Division by a
    * power of two and the subtraction are exact IEEE ops, and the DuckDB
    * oracle embeds the identical literals (Double.toString round-trips),
    * so bucket assignments match bit-for-bit.
    */
  def lshPlanes(nPlanes: Int = 8, dims: Int = 64, table: Int = 0): Seq[Seq[Double]] =
    (0 until nPlanes).map(p => (0 until dims).map { d =>
      // table 0 keeps the original seed keys (existing oracles embed the
      // resulting literals); tables > 0 salt the key for independence.
      val key = if (table == 0) s"$p:$d" else s"t$table:$p:$d"
      graft.functions.Hashing.hash64Jvm(key).toDouble / math.pow(2, 59) - 1.0
    })

  /** Sign-bit bucket id from the [[lshPlanes]] hyperplanes (expects an
    * `emb` column; one map-side pass, codegen'd DotFold per plane).
    */
  private[graft] def bucketExpr(nPlanes: Int, table: Int = 0): Column =
    lshPlanes(nPlanes, table = table).zipWithIndex
      .map { case (coef, p) =>
        when(graft.functions.native.dotFold(col("emb"), typedlit(coef)) > 0.0,
          lit(1L << p)).otherwise(lit(0L)) }
      .reduce(_ + _)

  /** The buckets at hamming distance ≤ 1 from a `bucket` column: the
    * bucket itself, then each of its nPlanes bits flipped. Pairwise
    * distinct, so probing them yields no duplicate candidates. */
  private[graft] def hammingProbes(nPlanes: Int): Column =
    array((col("bucket") +: (0 until nPlanes)
      .map(p => expr(s"bucket ^ ${1L << p}"))): _*)

  /** B9 scale path — random-hyperplane LSH ANN: bucket = sign bits of the
    * plane dot products; candidates share the query's bucket (probe-1).
    * 2^nPlanes buckets; at 100 TB add multi-probe (flip one bit) and/or
    * more tables by unioning buckets. Bucketing is one map-side pass;
    * only (bucket, vec) pairs meet in the join.
    */
  def lshTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
              nPlanes: Int = 8): DataFrame = {
    val c = vectors(embeddings).withColumn("bucket", bucketExpr(nPlanes))
    cosineScan(c, querySide(c, nQueries, col("bucket").as("q_bucket")),
      col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"), k)
  }

  /** B9 — multi-probe LSH: also probe the buckets at hamming distance 1
    * from the query's bucket (flip each plane bit). Standard recall
    * recovery for probe-1 LSH: probes × candidates work instead of more
    * tables, no extra storage. Each corpus vector still has ONE bucket, so
    * probes produce no duplicate candidates.
    */
  def lshTopKMultiProbe(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                        nPlanes: Int = 8): DataFrame = {
    val c = vectors(embeddings).withColumn("bucket", bucketExpr(nPlanes))
    cosineScan(c, querySide(c, nQueries, explode(hammingProbes(nPlanes)).as("q_probe")),
      col("bucket") === col("q_probe") && col("vec_id") =!= col("q_id"), k)
  }

  /** B9 — multi-TABLE LSH: L independent hyperplane sets (salted seeds),
    * one bucket id per table; candidates share the query's bucket in ANY
    * table. The recall knob orthogonal to multi-probe: L tables drive
    * miss probability down exponentially (miss ⇒ missed in every
    * independent table) at L× bucketing+candidate cost and zero extra
    * probes per table. Implementation: buckets explode to (table, bucket)
    * rows, candidates come from an EQUI-join on (table, bucket) per table
    * — never an OR-condition nested-loop — then pairs dedup before
    * scoring, so a pair colliding in several tables is scored once.
    */
  def lshTopKMultiTable(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                        nPlanes: Int = 8, nTables: Int = 2): DataFrame = {
    val c = vectors(embeddings)
      .withColumn("buckets",
        array((0 until nTables).map(t => bucketExpr(nPlanes, t)): _*))
    val tb = c.select(col("vec_id"), col("emb"), col("norm"),
      posexplode(col("buckets")).as(Seq("t", "bucket")))
    val queries = querySide(tb, nQueries, col("t").as("q_t"), col("bucket").as("q_bucket"))
    cosineRanks(tb.join(broadcast(queries),
        col("t") === col("q_t") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("emb"), col("norm"),
        col("q_emb"), col("q_norm"))
      .distinct(), k)
  }

  /** Embeddings ∪ exact copies (vec_id+10000 for vec_id % 25 = 0) so the
    * near-dup detector has true positives; oracle rebuilds the same corpus.
    */
  def augmentedEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings.select("vec_id", "embedding", "label")
      .unionAll(embeddings.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label")))

  /** B8e — embedding-cosine near-duplicate pairs: candidates bucketed by
    * the coarse cell (label), verified with cosine ≥ minCos. This is the
    * correctness baseline — all-pairs WITHIN a cell; the 100 TB path is
    * [[embeddingNearDupLsh]], which buckets on an LSH signature instead.
    */
  def embeddingNearDup(embeddings: DataFrame, minCos: Double = 0.999): DataFrame = {
    val c = withNorm(augmentedEmbeddings(embeddings))
      .select(col("vec_id"), col("label"), col("emb"), col("norm"))
    c.as("a").join(c.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dot("a.emb", "b.emb") / (col("a.norm") * col("b.norm"))).as("score"))
      .filter(col("score") >= minCos)
  }

  /** B8e scale path — LSH-bucketed embedding near-dup: bucket on the
    * random-hyperplane sign signature (2^nPlanes buckets) instead of the
    * coarse cell, so per-bucket candidate counts stay bounded as the
    * corpus grows — a cell is O(corpus/|cells|) rows, a signature bucket
    * is O(corpus/2^nPlanes) and nPlanes scales with log(corpus). Near-
    * identical vectors (cos ≥ 0.999 ⇒ angle ≤ ~2.6°) land in the same
    * bucket unless a hyperplane splits that tiny angle, so recall at this
    * threshold is near-1 with probe-1; verification is exact cosine.
    */
  def embeddingNearDupLsh(embeddings: DataFrame, minCos: Double = 0.999,
                          nPlanes: Int = 8,
                          maxBucket: Int = DedupOps.defaultMaxBucket,
                          cacheLevel: org.apache.spark.storage.StorageLevel =
                            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    // hot-bucket fuse against embedding homogeneity (a corpus whose
    // vectors crowd into a few signature buckets turns the pair join
    // quadratic): same overflow-keys-only mechanism as the lexical pair
    // surface ([[graft.ops.BucketCap.capBuckets]]); a healthy corpus
    // keeps this exact plan unchanged, a flooded bucket is truncated to
    // its maxBucket smallest vec_ids (deterministic) and audited by the
    // registered `embedding_bucket_stats` query.
    // PERSISTED before the fuse: capBuckets's eager overflow pre-pass
    // would otherwise recompute the full augment+norm+bucket pipeline (a
    // corpus scan with per-plane dot products) a second time even when
    // healthy — the minhash twin amortizes its pre-pass through the
    // persisted `sh` cache, and this projection (vec_id, emb, norm,
    // bucket) is the same narrow shape.
    // CACHE LIFECYCLE — the minhash twin's: the entry cannot be
    // unpersisted here (the returned plan still reads it, and the eager
    // overflow pre-pass is the only part consumed inside this call), so
    // the CALLER owns it. For a registry query `graft.QueryRun`, the one
    // place that counts and clears cached state, drops it after the run;
    // a long-lived session gets `StorageLevel.NONE`-equivalent semantics
    // by calling spark.catalog.clearCache() (or unpersisting via
    // spark.sharedState.cacheManager) after materializing the pairs.
    val proj = withNorm(augmentedEmbeddings(embeddings))
      .select(col("vec_id"), col("emb"), col("norm"))
      .withColumn("bucket", bucketExpr(nPlanes))
      .persist(cacheLevel)
    val c = BucketCap.capBuckets(proj, Seq("bucket"), "vec_id", maxBucket)
    c.as("a").join(c.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dot("a.emb", "b.emb") / (col("a.norm") * col("b.norm"))).as("score"))
      .filter(col("score") >= minCos)
  }

  /** BUCKET-SKEW AUDIT for the embedding LSH pair surface — the loud
    * half of its hot-bucket cap and the [[DedupOps.minhashBucketStats]]
    * twin: top-k signature buckets by population over the SAME augmented
    * corpus the pair op sees, with the candidate-pair mass each drives,
    * the vectors the cap would drop, and the overflow verdict. Healthy
    * corpus ⇒ every `overflowed` false, `dropped_n` 0 — the audit PROVES
    * the cap never bit. One bucketing pass (map-side DotFold per plane)
    * + a count aggregate keyed by bucket; top-k via `orderBy.limit`
    * (TakeOrderedAndProject over bucket-count metadata, never vectors).
    */
  def embeddingBucketStats(embeddings: DataFrame, k: Int = 20,
                           nPlanes: Int = 8,
                           maxBucket: Int = DedupOps.defaultMaxBucket): DataFrame =
    withNorm(augmentedEmbeddings(embeddings))
      .withColumn("bucket", bucketExpr(nPlanes))
      .groupBy("bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .orderBy(col("bucket_n").desc, col("bucket").asc)
      .limit(k)
      .select(col("bucket"), col("bucket_n"),
        expr("bucket_n * (bucket_n - 1) div 2").as("cand_pairs"),
        greatest(col("bucket_n") - maxBucket, lit(0L)).as("dropped_n"),
        (col("bucket_n") > maxBucket).as("overflowed"))

  /** SEMANTIC split-leakage audit — the embedding-space twin of
    * [[DedupOps.splitLeakage]]: near-identical VECTORS whose ids land in
    * different train/valid/test splits (paraphrases and re-encodes leak
    * evaluation signal without sharing a single shingle, so the lexical
    * audit alone under-reports). Pairs from the registered scale path
    * ([[embeddingNearDupLsh]] — signature buckets, exact-cosine verify),
    * split labels applied map-side per side (pure function of vec_id),
    * max cosine per crossing as the severity. Pair-sized work past the
    * bucketed join; max is exact selection over single fixed-order
    * folds, so the row hash-matches DuckDB. */
  def splitLeakageSemantic(embeddings: DataFrame,
                           minCos: Double = 0.999): DataFrame =
    embeddingNearDupLsh(embeddings, minCos)
      .withColumn("split_a", TextOps.splitLabel(TextOps.splitBucket(col("vec_a"))))
      .withColumn("split_b", TextOps.splitLabel(TextOps.splitBucket(col("vec_b"))))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        max("score").as("max_score"))

  /** Scalar int8-range quantization of the embedding column — the vector
    * STORAGE compression step of an ANN system (a 64-dim float vector
    * becomes 64 bytes + two floats; IVF-PQ systems layer product
    * quantization on the same shape). Per-vector (min, max) affine codes:
    * q = floor((x - vmin) · 255 / (vmax - vmin) + 0.5), constant vectors
    * code to 0. Reconstruction x' = vmin + q · (vmax - vmin)/255 is
    * within half a step of x (spec-asserted). Entirely map-side; every
    * operation is a single IEEE op in fixed order, so codes hash-match
    * the DuckDB oracle bitwise.
    */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("vmin", array_min(col("emb")))
      .withColumn("vmax", array_max(col("emb")))
      .withColumn("q", expr(
        """transform(emb, x -> CASE WHEN vmax = vmin THEN 0L
          |  ELSE CAST(floor(((x - vmin) * 255.0D) / (vmax - vmin) + 0.5D) AS LONG) END)""".stripMargin))
      .select(col("vec_id"), col("vmin"), col("vmax"), col("q"))

  /** Inverse of [[quantizeEmbeddings]] for error analysis: x' = vmin +
    * q · (vmax − vmin)/255.
    */
  def dequantizeEmbeddings(quantized: DataFrame): DataFrame =
    quantized.withColumn("emb", expr(
      "transform(q, c -> vmin + (CAST(c AS DOUBLE) * (vmax - vmin)) / 255.0D)"))
      .select(col("vec_id"), col("emb"))

  /** Oracle-twin projection of [[quantizeEmbeddings]]: one row per
    * (vector, dimension) — the driver compare handles scalar columns
    * only, same convention as `minhash_signatures`.
    */
  def quantizeEmbeddingsRows(embeddings: DataFrame): DataFrame =
    quantizeEmbeddings(embeddings)
      .select(col("vec_id"), col("vmin"), col("vmax"), posexplode(col("q")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("col").as("code"), col("vmin"), col("vmax"))

  /** Deterministic ±1 Johnson-Lindenstrauss sign matrix: sign(j,d) from
    * the parity of hash64("jl:j:d"). Multiplying by ±1.0 is EXACT in
    * IEEE, so unlike general Gaussian projections the reduced vectors
    * carry no rounding beyond the left-fold sums both engines share —
    * the oracle embeds the identical literals and hash-matches bitwise.
    */
  def jlSigns(outDims: Int = 16, dims: Int = 64): Seq[Seq[Double]] =
    (0 until outDims).map(j => (0 until dims).map { d =>
      if ((graft.functions.Hashing.hash64Jvm(s"jl:$j:$d") & 1L) == 0L) 1.0 else -1.0
    })

  /** The projected vector as ONE map-side array expression over an `emb`
    * column: outDims codegen'd DotFolds against the sign rows.
    */
  private[graft] def projExpr(outDims: Int): Column =
    array(jlSigns(outDims).map(s =>
      graft.functions.native.dotFold(col("emb"), typedlit(s))): _*)

  /** JL dimensionality reduction 64 → outDims: the vector-compression
    * step that makes billion-scale ANN affordable — a 4× smaller column
    * whose inner products approximate the original's (distortion
    * ~1/sqrt(outDims), Johnson-Lindenstrauss). Entirely map-side, no
    * shuffle; at 100 TB the projection is computed once at ingest and
    * stored as its own column so coarse search never reads full vectors.
    * Output is row-per-(vector, dim), the driver-compare convention for
    * array results (`minhash_signatures`).
    */
  def projectEmbeddings(embeddings: DataFrame, outDims: Int = 16): DataFrame =
    embeddings
      .withColumn("emb", col("embedding").cast("array<double>"))
      .select(col("vec_id"), posexplode(projExpr(outDims)))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").as("value"))

  /** B9 — the coarse-to-fine ANN funnel: stage 1 ranks the WHOLE corpus
    * per query on the [[projectEmbeddings]] vectors only (outDims-wide
    * reads — at 100 TB this scan touches the small projection column,
    * never the full vectors), keeps a `shortlist`-deep candidate set,
    * and stage 2 fetches full vectors for shortlist ids alone (a
    * broadcast equi-join of nQueries × shortlist ids against the
    * corpus) to produce the exact-cosine top-k. This is the funnel
    * every production vector store runs (SCaNN/DiskANN shape):
    * cheap-approximate over everything, exact over almost nothing.
    * Both stages' scores are shared-fold IEEE, so ranks — and therefore
    * the emitted exact scores — hash-match the oracle bitwise.
    */
  def annProjectRerank(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                       outDims: Int = 16, shortlist: Int = 20): DataFrame = {
    val full = vectors(embeddings)
    val projected = full
      .withColumn("proj", projExpr(outDims))
      .withColumn("p_norm", sqrt(graft.functions.native.dotFold(col("proj"), col("proj"))))
      .select(col("vec_id"), col("proj"), col("p_norm"))
    val queries = projected.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("proj").as("q_proj"),
        col("p_norm").as("q_pnorm"))
    val wc = Window.partitionBy("q_id").orderBy(col("c_score").desc, col("vec_id").asc)
    val short = projected.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("c_score",
        dot("proj", "q_proj") / (col("p_norm") * col("q_pnorm")))
      .withColumn("c_rank", row_number().over(wc))
      .filter(col("c_rank") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    cosineRanks(full.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(querySide(full, nQueries)), Seq("q_id")), k)
  }

  /** B9 FLAGSHIP composite — the vector-side ingest pipeline a 100 TB
    * ANN deployment runs end to end, as ONE declarative plan (the
    * embedding sibling of `corpus_prep`): coarse-quantizer assignment
    * (best anchor by cosine — the IVF cell this vector will be listed
    * under), hyperplane-LSH bucket (the alternative coarse path), and
    * PQ codes + quantization error (the compressed representation ADC
    * scans). Each stage already has its own oracle-checked query; the
    * composite verifies their INTERACTIONS — one consistent vec_id
    * spine through assignment, bucketing, and coding, exactly the table
    * you would persist at scale.
    *
    * Scale shape: anchors and the codebook are metadata (broadcast);
    * assignment/bucketing/coding are map-side over the corpus; the
    * final assembly is two vec_id-keyed equi-joins (co-partitioned at
    * scale — AQE picks broadcast at this SF).
    */
  def embeddingPipeline(embeddings: DataFrame, nPlanes: Int = 8): DataFrame = {
    val corpus = withNorm(embeddings)
      .select(col("vec_id"), col("label"), col("emb"), col("norm"))
    val anchors = cellAnchors(corpus)
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("a_score").desc, col("a_label").asc)
    val assigned = corpus.crossJoin(broadcast(anchors))
      .withColumn("a_score", dot("emb", "a_emb") / (col("norm") * col("a_norm")))
      .withColumn("cell_rank", row_number().over(wAssign))
      .filter(col("cell_rank") === 1)
      .select(col("vec_id"), col("a_label").as("cell"))
    val bucketed = corpus
      .select(col("vec_id"), bucketExpr(nPlanes).as("bucket"))
    PqOps.pqEncode(embeddings)
      .join(assigned, Seq("vec_id"))
      .join(bucketed, Seq("vec_id"))
      .select("vec_id", "cell", "bucket", "sub", "code", "qerr")
  }

  /** Measured ANN RECALL@k — the evaluation operator an ANN deployment
    * tunes its probe/table/cell knobs against: per query, the fraction
    * of the exact brute-force top-k ([[cosineTopK]] — the documented
    * baseline) that probe-1 [[lshTopK]] retrieves. Joining the two
    * deterministic result sets (both oracle-green, both with fixed
    * tie-breaks) and counting hits is exact integer work; the single
    * division by the query's TRUTH-SET size — min(k, corpus−1), counted,
    * not the constant k, so a corpus smaller than k+1 vectors still
    * reports a perfect retriever as 1.0 — is the one
    * IEEE op, hash-matching DuckDB. The LEFT join keeps 0-recall
    * queries visible (an ANN config that strands a query must not
    * vanish from its own evaluation report).
    *
    * Scale shape: both sides are query-set-sized results (nQueries × k
    * rows), so the join and per-query aggregate are metadata-sized; the
    * real cost is the two retrieval pipelines it composes — each
    * already audited (broadcast query sets, bucket-bounded candidates).
    */
  def annRecall(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    recallAtK(cosineTopK(embeddings, nQueries, k),
      lshTopK(embeddings, nQueries, k))

  /** Measured recall@k of the MULTI-PROBE LSH path: same exact
    * brute-force truth side, retrieval side = [[lshTopKMultiProbe]]
    * (probe the query bucket plus every hamming-1 neighbor). Probing is a strict superset of probe-1's
    * candidate set, so this recall is ≥ [[annRecall]]'s on the same
    * corpus BY CONSTRUCTION — the driver-tracked number that prices the
    * probes × candidates cost against its recall recovery. */
  def annRecallMultiProbe(embeddings: DataFrame, nQueries: Int = 10,
                          k: Int = 5): DataFrame =
    recallAtK(cosineTopK(embeddings, nQueries, k),
      lshTopKMultiProbe(embeddings, nQueries, k))

  /** Measured recall@k of the IVF-PQ path: truth = exact cosine top-k
    * over the stored vectors; retrieval = [[PqOps.annIvfPq]] — cell-pruned ADC scan over PQ codes, the
    * layout the 100 TB ANN story actually ships. Unlike the LSH
    * variants this measures BOTH approximation sources at once (cell
    * pruning drops out-of-cell truth; ADC's quantized inner product
    * reranks within the cell), so it is the end-to-end number a
    * deployment compares against its recall SLO. */
  def annRecallIvfPq(embeddings: DataFrame, nQueries: Int = 10,
                     k: Int = 5): DataFrame =
    recallAtK(cosineTopK(embeddings, nQueries, k),
      PqOps.annIvfPq(embeddings, nQueries = nQueries, topK = k))

  /** Measured recall@k of the MULTI-TABLE LSH path: L independent
    * hyperplane tables (union of candidate buckets). Independent tables
    * recover recall orthogonally to multi-probe's hamming-1 expansion —
    * a table re-draws ALL planes where a probe flips one bit — so a
    * deployment prices tables × memory against probes × latency with
    * this number next to [[annRecallMultiProbe]]'s. */
  def annRecallMultiTable(embeddings: DataFrame, nQueries: Int = 10,
                          k: Int = 5): DataFrame =
    recallAtK(cosineTopK(embeddings, nQueries, k),
      lshTopKMultiTable(embeddings, nQueries, k))

  /** Measured recall@k of the COARSE-TO-FINE FUNNEL — the last tuned
    * retrieval config the driver wasn't tracking: [[annProjectRerank]]
    * shortlists in the 16-dim JL projection and reranks the shortlist
    * with exact full-dim cosine. Its only approximation source is the
    * shortlist (rerank scoring is exact), so this number isolates the
    * projection's recall cost — the knob a funnel deployment trades
    * against scanning 4× fewer dimensions per candidate. Same truth
    * side and [[recallAtK]] arithmetic as the other three. */
  def annRecallFunnel(embeddings: DataFrame, nQueries: Int = 10,
                      k: Int = 5): DataFrame =
    recallAtK(cosineTopK(embeddings, nQueries, k),
      annProjectRerank(embeddings, nQueries, k))

  /** Measured recall@1 of the PERSISTED-INDEX incremental ANN path —
    * the quality number of the retrieval path that never rereads raw
    * vectors: truth = the EXACT squared-L2 nearest index vector per delta
    * vector (brute force over raw vectors, the same exhaustive-truth
    * contract as [[graft.ops.DedupOps.dedupRecall]] — an evaluation
    * operator, not a production query); found =
    * [[graft.ops.PqOps.annIndexIncremental]]'s probe-1 ADC pick over the
    * persisted codes. Same [[recallAtK]] arithmetic as the other recall
    * queries (LEFT join keeps every delta vector visible), so a
    * bucket-orphan delta row — (nn_id = -1, null dist) — can never match
    * a truth row and COUNTS AS A MISS, exactly the failure mode probe-1
    * routing owns. Index/delta split, codebook derivation, and bucket
    * routing are [[graft.ops.PqOps.annSplitIsIndex]]'s registered
    * convention, so this measures the exact configuration
    * `ann_index_incremental` ships.
    *
    * Scale shape: the found side is the audited incremental path
    * (bucket-keyed join, codes only); the truth side is delta × index
    * exhaustive — quadratic BY DESIGN, priced on the evaluation corpus
    * (the sampled-recall estimator is the production pattern when even
    * the evaluation corpus outgrows it).
    */
  def annRecallIncremental(embeddings: DataFrame, m: Int = 4, k: Int = 16,
                           nPlanes: Int = 8): DataFrame =
    annRecallIncrementalWith(embeddings, m, k, nPlanes,
      PqOps.annIndexIncremental(_, _, _, nPlanes))

  /** Recall@1 of the MULTI-PROBE incremental path — the measured lift
    * the hamming-1 expansion buys over [[annRecallIncremental]]'s
    * probe-1 routing (the probe-1 number is chance-level on this
    * near-orthogonal synthetic corpus — see PLANS.md). Candidate set is
    * a strict superset of probe-1's, so this recall dominates it BY
    * CONSTRUCTION (spec-asserted). */
  def annRecallIncrementalMultiProbe(embeddings: DataFrame, m: Int = 4,
                                     k: Int = 16, nPlanes: Int = 8): DataFrame =
    annRecallIncrementalWith(embeddings, m, k, nPlanes,
      PqOps.annIndexIncrementalMultiProbe(_, _, _, nPlanes))

  /** CLUSTERED-geometry recall@1 of the persisted-index incremental
    * path — the near-orthogonal synthetic corpus is the worst case for
    * ANY quantized index (recall ≤ .156 even at 96 code bits, PLANS.md
    * knob sheet), so this row measures the SAME
    * shipped pipeline — [[graft.ops.PqOps.annIndex]] + frozen seed
    * codebook + hamming-1 multiprobe routing + ADC scoring, the knob
    * sheet's recipe (multiprobe, m=8/k=64) as defaults — on the
    * geometry deployments actually have: tight clusters far apart.
    *
    * The fixture is [[clusteredGeometry]]: an integer product-grid over
    * the driver's vec_id domain. Cluster offsets dominate every LSH
    * hyperplane dot product (so query and true NN share bucket bits —
    * the routing property real clustered embeddings have), and the
    * within-cluster structure is a per-subspace grid the k=64 seed
    * codebook covers EXACTLY (zero quantization error, all arithmetic
    * on integers ≤ 2^20 — exact in doubles in both engines). ADC
    * ranking therefore equals exact ranking, and the measured recall
    * isolates the one approximation the clustered regime leaves:
    * bucket routing. The contrast with [[annRecallIncremental]] on the
    * near-orthogonal corpus is the point — same code, two geometries,
    * chance-level vs deployment-grade.
    */
  def annRecallIncrementalClustered(embeddings: DataFrame, m: Int = 8,
                                    k: Int = 64, nPlanes: Int = 8): DataFrame = {
    // Pin the derived fixture ONCE: the truth cross-join and the
    // index/delta/codebook branches otherwise EACH re-derive the
    // 64-expression geometry projection from the parquet scan (4+
    // scans × 64 array exprs × the m=8/k=64 encode behind them), and
    // that recompute dominates the query's time and its run-to-run
    // spread on a loaded host. Same eager-materialize
    // + caller-owns-output lifecycle as retrievalRecall/bm25Prf.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val geo = clusteredGeometry(embeddings).persist(lvl)
    try {
      geo.count()
      val out = annRecallIncrementalWith(geo, m, k, nPlanes,
        PqOps.annIndexIncrementalMultiProbe(_, _, _, nPlanes)).persist(lvl)
      out.count() // materialize while the geometry spine is still cached
      out
    } finally geo.unpersist()
  }

  /** The clustered evaluation corpus, derived from the embeddings
    * table's id domain alone: 8 clusters (vec_id % 8) at pairwise-far
    * offsets, and within each cluster a per-subspace fine grid
    * f_s ∈ [0, 8) whose mixing function guarantees the first 64 ids —
    * the frozen seed codebook — cover every (cluster, fine) codeword
    * pair in every subspace. Integer-only arithmetic so Spark and
    * DuckDB produce bit-identical doubles and every distance /
    * tiebreak comparison is exact ([[SimilarityOracles.clusteredGeometrySql]] is the
    * verbatim SQL twin). emb[d] = (c+1)·64 + f_{d/8}(vec_id). */
  def clusteredGeometry(embeddings: DataFrame): DataFrame = {
    val i = col("vec_id")
    def idiv(n: Int) = (i / n).cast("long") // exact: power-of-2 divisor
    val dims = (0 until 64).map { d =>
      val s = d / 8
      (((i % 8) + 1) * 64 +
        (idiv(8) + (i % 8) * (s + 1) + idiv(64) * (2 * s + 1)) % 8)
        .cast("double")
    }
    embeddings.select(i, array(dims: _*).as("embedding"))
  }

  private def annRecallIncrementalWith(embeddings: DataFrame, m: Int, k: Int,
                                       nPlanes: Int,
                                       retrieve: (DataFrame, DataFrame,
                                         Array[Array[Seq[Double]]]) => DataFrame): DataFrame = {
    val base = embeddings.filter(PqOps.annSplitIsIndex(k))
    val delta = embeddings.filter(!PqOps.annSplitIsIndex(k))
    val cb = PqOps.trainCodebook(base, m, k)
    if (cb(0).isEmpty)
      return embeddings.select(col("vec_id").as("q_id"),
        lit(0.0).as("recall_at_k")).limit(0)
    val idx = base.withColumn("i_emb", col("embedding").cast("array<double>"))
      .select(col("vec_id").as("nn_id"), col("i_emb"))
    val q = delta.withColumn("emb", col("embedding").cast("array<double>"))
      .select(col("vec_id").as("q_id"), col("emb"))
    // exact truth: same (x·x − 2·x·y) + y·y composition (strict left
    // folds) as the ADC distance, full 64 dims, ties to the smaller nn_id
    val distT = (graft.functions.native.dotFold(col("emb"), col("emb"))
      - lit(2.0) * graft.functions.native.dotFold(col("emb"), col("i_emb"))) +
      graft.functions.native.dotFold(col("i_emb"), col("i_emb"))
    // index/delta are disjoint by the split predicate, so no
    // self-exclusion is needed; the query (delta) side broadcasts — the
    // corpus-sized index never shuffles, same shape as cosineTopK.
    // min(struct(dist, nn_id)) ≡ the (dist ASC, nn_id ASC) row_number
    // pick (lexicographic struct ordering; dist is a squared distance,
    // never NaN/-0.0) but aggregates MAP-SIDE: the exchange carries one
    // partial min per (q_id, partition) instead of every candidate pair
    // — the shuffle-volume bound of the whole recall family
    val truth = idx.crossJoin(broadcast(q))
      .withColumn("dist", distT)
      .groupBy("q_id")
      .agg(min(struct(col("dist"), col("nn_id"))).as("m"))
      .select(col("q_id"), col("m.nn_id").as("vec_id"))
    val approx = retrieve(PqOps.annIndex(base, cb, nPlanes), delta, cb)
      .select(col("vec_id").as("q_id"), col("nn_id").as("vec_id"))
    recallAtK(truth, approx)
  }

  /** The ONE recall@k computation, shared by all four registered recall
    * queries so a tuned config can never be scored by different
    * arithmetic than the baseline: LEFT join truth→approx on (q_id,
    * vec_id) keeps 0-recall queries visible; the denominator is the
    * query's counted truth-set size (min(k, corpus−1)), not the
    * constant k. Both sides are query-set-sized (nQueries × k rows), so
    * this harness is metadata work — the cost is the two retrieval
    * pipelines it composes. */
  private[graft] def recallAtK(truthTopK: DataFrame, approxTopK: DataFrame): DataFrame = {
    val truth = truthTopK.select("q_id", "vec_id")
    val approx = approxTopK
      .select(col("q_id").as("a_q"), col("vec_id").as("a_v"), lit(1L).as("hit"))
    truth.join(approx,
        col("q_id") === col("a_q") && col("vec_id") === col("a_v"), "left")
      .groupBy("q_id")
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
        count(lit(1)).cast("double")).as("recall_at_k"))
  }

}
