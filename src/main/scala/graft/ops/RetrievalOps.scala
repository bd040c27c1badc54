package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** B10+ — RETRIEVAL family: ranked sparse (BM25) and dense (hashed-TF
  * cosine) channels over the documents corpus, reciprocal-rank-fusion
  * hybrid retrieval, a persisted inverted-index lifecycle with
  * incremental merge, and a planted-contamination recall evaluation.
  *
  * The retrieval shape in a training-data pipeline is the
  * decontamination / near-match audit (the [[TextOps.bm25TopK]]
  * contract): suspect documents are QUERIES against the corpus.
  * Hybrid sparse+dense fusion is the standard recipe when neither
  * channel alone is reliable — lexical BM25 misses paraphrases, dense
  * vectors miss rare-term exact matches; RRF (Cormack et al. 2009)
  * fuses the two rank lists without score calibration.
  *
  * Scale design (100 TB), shared across the family:
  *  - the query side is always bounded (suspect set) and BROADCAST:
  *    BM25 broadcasts the query vocabulary onto the index postings and
  *    df ([[Bm25Index]], built in-query or read back), the dense channel
  *    broadcasts the query vectors onto the document vectors
  *    (≤ |queries| rows of dims longs).
  *  - channel top-k are per-query windows (WindowGroupLimit partial +
  *    final around the q_id exchange — no input partition forwards
  *    more than k rows per query), so candidate volume never
  *    concentrates.
  *  - fusion joins two k-bounded rank lists — trivially small however
  *    large the corpus.
  *  - the dense channel here is the BRUTE-FORCE baseline (one corpus
  *    pass per query batch); at scale the fusion input contract
  *    ([[rrfFuse]] takes any (q_id, doc_id, rank) frame) slots in the
  *    [[SimilarityOps]] ANN family (IVF/LSH/PQ) unchanged — the
  *    registered cosine_topk/ann_* baseline-vs-scale-path pairing.
  *
  * Cross-engine reproducibility (the repo-wide oracle contract):
  * LINEAR idf, ordered term folds and single-IEEE-op score arithmetic
  * as documented on [[TextOps.bm25TopK]]; the dense channel's dot
  * product and squared norms are EXACT INTEGER sums (term frequencies
  * are integers, so Σ tf·tf commutes exactly — no float-order hazard),
  * converted to a double only for the final one-division-two-sqrt
  * cosine; RRF contributions are one IEEE add + one division per
  * channel, summed in a fixed (sparse, dense) order.
  */
object RetrievalOps {

  private def toksCol = split(col("text"), " ", -1)

  /** Eager-pin helper for METADATA-SIZED frames (feedback ids, channel
    * rank lists, expansion tables — all queries×k-bounded by contract):
    * repartition(1) before persist. Cached plans skip AQE partition
    * coalescing (spark.sql.optimizer.
    * canChangeCachedPlanOutputPartitioning is false by default), so a
    * pinned frame otherwise materializes at the session's shuffle
    * partition count and EVERY downstream reference pays that many
    * tasks to read a handful of rows. One partition is the right shape
    * for these frames at any scale — they are the broadcast-class
    * metadata of the family. Data-sized pins (the recall harness's
    * evaluation corpus) deliberately do NOT use this. */
  private def pinTiny(df: DataFrame): DataFrame =
    df.repartition(1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  // ---------------------------------------------------------------
  // Sparse channel (BM25)
  // ---------------------------------------------------------------

  /** Query-term table (q_id, word): distinct space-split tokens of the
    * corpus rows selected by `isQuery` (a doc_id predicate). */
  def queryTerms(corpus: DataFrame, isQuery: Column): DataFrame =
    corpus.filter(isQuery)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(toksCol)).as("word"))

  /** Generalized [[TextOps.bm25TopK]]: BM25 top-k of each query
    * document (rows matching `isQuery`, a doc_id predicate) against all
    * OTHER corpus documents, scored by [[bm25RanksFromIndex]] over an
    * in-query [[bm25BuildIndex]] of the corpus. Output: (q_id, doc_id,
    * n_terms, score, rank), rank ≤ k per query.
    */
  def bm25Ranks(corpus: DataFrame, isQuery: Column, k: Int = 5): DataFrame =
    bm25RanksFromIndex(bm25BuildIndex(corpus), queryTerms(corpus, isQuery), k)

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (RM3-lite query expansion),
    * [[bm25PrfFromIndex]] over an in-query [[bm25BuildIndex]] of the
    * corpus. The caller owns the returned (tiny, persisted) frame.
    */
  def bm25Prf(corpus: DataFrame, isQuery: Column, m: Int = 3, e: Int = 5,
              k: Int = 5): DataFrame =
    bm25PrfFromIndex(bm25BuildIndex(corpus), queryTerms(corpus, isQuery), m, e, k)

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK over an index: the first pass
    * retrieves the top-`m` feedback documents per query; the `e` best
    * expansion terms across them that are NOT already query terms join
    * the query; the second pass scores the EXPANDED term set with the
    * same BM25 arithmetic. The standard recipe when the query document
    * under-specifies its topic — the lexical analogue of the dense
    * channel's paraphrase tolerance.
    *
    * Expansion terms are ranked by feedback-frequency × LINEAR idf
    * (one integer count times the house `((N−df)+0.5)/(df+0.5)` — a
    * single IEEE multiply over a single division, bitwise
    * reproducible), (score DESC, word ASC) tiebreak. The idf factor is
    * LOAD-BEARING, not just quality: raw frequency ranking picks the
    * corpus-common (stopword-like) terms of the feedback docs, whose
    * expanded match set approaches corpus × queries, and the second
    * pass then costs several first passes.
    *
    * Everything reads the index: both scoring passes
    * ([[bm25RanksFromIndex]]), the feedback weights (`sum(tf)` over the
    * feedback docs' postings — the token counts of those docs) and the
    * candidate idf (`idx.df`, `n` from doclens). Corpus text is never
    * touched, so a persisted index is never re-tokenized. The feedback
    * ids, the feedback candidates, the expanded term table and the
    * 1-row (n, avgdl) are pinned for the call ([[pinTiny]]) and released
    * on return; each is referenced several times and unpinned would
    * re-run the pass that made it. The caller owns the returned (tiny,
    * persisted) frame, the [[DedupOps.dedupIncremental]] lifecycle.
    */
  def bm25PrfFromIndex(idx: Bm25Index, qtermsIn: DataFrame, m: Int = 3,
                       e: Int = 5, k: Int = 5): DataFrame = {
    val qterms = pinTiny(qtermsIn)
    // one (n, avgdl) for both scoring passes and the expansion's n_docs
    val nAvg = pinTiny(idxNAvg(idx))
    val fbIds = pinTiny(bm25RanksFromIndex(idx, qterms, m, nAvg)
      .select(col("q_id"), col("doc_id")))
    // queries×feedback-vocab rows, read by the expansion twice (the esc
    // join and the candidate-vocab broadcast of cdf)
    val fbCand = pinTiny(idx.postings
      .join(broadcast(fbIds), "doc_id")
      .groupBy("q_id", "word").agg(sum("tf").as("w"))
      .join(qterms, Seq("q_id", "word"), "left_anti"))
    // queries×(query-terms+e) rows — the second pass's term table, read
    // three times by it (postings filter, df filter, qterms join)
    var expanded: DataFrame = null
    try {
      fbIds.count()
      val nDocs = nAvg.select(col("n").as("n_docs"))
      val cdf = idx.df
        .join(broadcast(fbCand.select("word").distinct()), "word")
      // each query's top `e` candidates by w · idf, ties to the smaller word
      val expW = Window.partitionBy("q_id")
        .orderBy(col("esc").desc, col("word").asc)
      val exp = fbCand
        .join(broadcast(cdf.withColumnRenamed("df", "cdf")), "word")
        .crossJoin(broadcast(nDocs))
        .withColumn("esc", col("w").cast("double") *
          (((col("n_docs") - col("cdf")).cast("double") + lit(0.5)) /
            (col("cdf").cast("double") + lit(0.5))))
        .withColumn("r", row_number().over(expW))
        .filter(col("r") <= e)
        .select("q_id", "word")
      expanded = pinTiny(qterms.unionAll(exp))
      expanded.count()
      val out = pinTiny(bm25RanksFromIndex(idx, expanded, k, nAvg))
      out.count() // materialize while the pinned inputs are still cached
      out
    } finally {
      fbIds.unpersist(); fbCand.unpersist(); qterms.unpersist()
      nAvg.unpersist()
      if (expanded != null) expanded.unpersist()
    }
  }

  // ---------------------------------------------------------------
  // Persisted inverted index + incremental merge
  // ---------------------------------------------------------------

  /** The BM25 index of a corpus slice — the one source of BM25 term
    * statistics. [[bm25Ranks]] and [[bm25Prf]] build it in-query; a
    * production pipeline writes it once per slice so that queries and
    * later increments never re-tokenize the corpus (the
    * [[DedupOps.signatureIndex]] / [[PqOps]] persisted-index
    * discipline, applied to lexical retrieval):
    *  - postings: (doc_id, word, tf) — the inverted index;
    *  - doclens:  (doc_id, dl) — length normalization;
    *  - df:       (word, df) — document frequency, slice-local.
    * Corpus stats (N, avgdl) are derived from the skinny doclens at
    * query time; df is ADDITIVE across doc-disjoint slices, so an
    * increment is a union + one vocabulary-sized merge — the corpus
    * postings are never rebuilt.
    *
    * INVARIANT: df(word) == the number of postings rows for word, and df
    * has a row for exactly the words postings has. Every constructor here
    * keeps it; [[writeBm25Index]] relies on it and fails when it is broken.
    */
  final case class Bm25Index(postings: DataFrame, doclens: DataFrame,
                             df: DataFrame)

  def bm25BuildIndex(corpus: DataFrame): Bm25Index = {
    val postings = corpus
      .select(col("doc_id"), explode(toksCol).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val doclens = corpus.select(col("doc_id"),
      size(toksCol).cast("long").as("dl"))
    val dfT = postings.groupBy("word").agg(count(lit(1)).as("df"))
    Bm25Index(postings, doclens, dfT)
  }

  /** Fold a doc-disjoint increment into an index: postings/doclens
    * append, df merges by word (full-outer sum — additive because no
    * document is in both slices). The merge cost is delta-plus-vocab
    * sized, independent of the corpus postings volume.
    */
  def bm25MergeIndex(a: Bm25Index, b: Bm25Index): Bm25Index = Bm25Index(
    a.postings.unionAll(b.postings),
    a.doclens.unionAll(b.doclens),
    mergeDf(a.df, b.df))

  /** The word-keyed df sum on its own (the streaming index loop merges
    * df generations without unioning postings). */
  def mergeDf(a: DataFrame, b: DataFrame): DataFrame =
    a.withColumnRenamed("df", "df_a")
      .join(b.withColumnRenamed("df", "df_b"), Seq("word"), "full")
      .select(col("word"),
        (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L)))
          .as("df"))

  /** Persist an index to `dir` with ONE corpus tokenization and NO
    * data-sized cache: write postings first, then derive the df artifact
    * by reading the just-written postings parquet back (persisting the
    * corpus-sized postings instead would spill a second copy to disk at
    * scale). REQUIRES the Bm25Index invariant df(word) ≡ postings rows
    * per word — which every constructor maintains ([[bm25BuildIndex]]
    * counts postings rows; [[bm25MergeIndex]] unions doc-disjoint
    * postings and sums df, equal to a recount of the union) — so the
    * written df values are bit-identical to idx.df's (spec-pinned in
    * RetrievalOpsSpec). The invariant is checked after the write: the
    * written df's (rows, Σdf) must equal idx.df's, else an
    * IllegalStateException names both. */
  def writeBm25Index(idx: Bm25Index, dir: String): Unit = {
    idx.postings.write.mode("overwrite").parquet(dir + "/postings")
    idx.doclens.write.mode("overwrite").parquet(dir + "/doclens")
    val spark = idx.postings.sparkSession
    spark.read.parquet(dir + "/postings")
      .groupBy("word").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(dir + "/df")
    val written = dfTotals(spark.read.parquet(dir + "/df"))
    val expected = dfTotals(idx.df)
    if (written != expected) throw new IllegalStateException(
      s"writeBm25Index: the Bm25Index invariant df(word) == postings rows per word " +
        s"is broken: idx.df has (rows, sum df) = $expected, the postings give $written")
  }

  /** (rows, Σdf) of a df frame. */
  private def dfTotals(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("df"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def readBm25Index(spark: SparkSession, dir: String): Bm25Index = Bm25Index(
    spark.read.parquet(dir + "/postings"),
    spark.read.parquet(dir + "/doclens"),
    spark.read.parquet(dir + "/df"))

  /** BM25 top-k from a built, persisted or merged index, never touching
    * corpus text: postings and df are filtered by the BROADCAST query
    * vocabulary, dl is joined once onto the filtered postings, and
    * (n, avgdl) is the 1-row doclens aggregate. For query words the
    * slice-summed df equals the full-corpus df and per-doc tf rows are
    * slice-unique, so a merged index scores bit-identically to one built
    * over the concatenated corpus (spec-pinned; the registered
    * `bm25_incremental` oracle IS the full-corpus `bm25_topk` SQL).
    * Arithmetic, the [[TextOps.bm25TopK]] contract: idf = ((N − df) +
    * 0.5) / (df + 0.5) [linear]; norm = 0.25 + 0.75·(dl/avgdl);
    * contribution = idf · (tf·2.2)/(tf + 1.2·norm) [k1 = 1.2, b = 0.75];
    * per-(query, doc) score = term-lexicographic strict left fold from
    * 0.0; ties rank by doc_id.
    */
  def bm25RanksFromIndex(idx: Bm25Index, qterms: DataFrame,
                         k: Int = 5): DataFrame =
    bm25RanksFromIndex(idx, qterms, k, idxNAvg(idx))

  /** The index's 1-row (n, avgdl) corpus-stats aggregate — exact integer
    * count/sum with one IEEE division; [[bm25PrfFromIndex]] derives it
    * once for its two scoring passes and the expansion's n_docs. */
  private def idxNAvg(idx: Bm25Index): DataFrame =
    idx.doclens.agg(count(lit(1)).as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))

  private def bm25RanksFromIndex(idx: Bm25Index, qterms: DataFrame,
                                 k: Int, nAvg: DataFrame): DataFrame = {
    val qvocab = qterms.select("word").distinct()
    // the join's left side is already query-bounded, and the
    // corpus-sized doclens side streams through unshuffled when the
    // planner picks a broadcast of the filtered postings
    val tf = idx.postings.join(broadcast(qvocab), "word")
      .join(idx.doclens, "doc_id")
    val dfT = idx.df.join(broadcast(qvocab), "word")
    val idf = ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val norm = lit(0.25) + (lit(0.75) * (col("dl").cast("double") / col("avgdl")))
    val contrib = idf *
      ((col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + (lit(1.2) * norm)))
    val scored = tf.join(broadcast(dfT), "word")
      .join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(nAvg))
      .withColumn("c", contrib)
      .groupBy("q_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        expr("""aggregate(transform(array_sort(collect_list(struct(word, c))),
               |  x -> x.c), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
          .as("score"))
    Ranking.topK(scored, "q_id", Seq(col("score").desc, col("doc_id").asc), k)
      .select("q_id", "doc_id", "n_terms", "score", "rank")
  }

  // ---------------------------------------------------------------
  // Dense channel (hashed-TF cosine) + RRF fusion
  // ---------------------------------------------------------------

  /** Densified per-document hashed-TF vector (ARRAY<BIGINT>[dims]) —
    * ONE corpus aggregation; the long-typed twin of
    * [[SemanticOps.hashedEmbeddings]] (kept integral so dots/norms
    * stay exact). In a persisted deployment this is the document-side
    * vector index.
    *
    * PRECONDITION: `doc_id` must be unique in `corpus`. The native
    * kernel emits one vector per ROW, while the hashedTf-derived DuckDB
    * oracles group by doc_id and would merge token counts across
    * duplicate doc_id rows, so the two agree only under uniqueness.
    * Every registered corpus (documents and its
    * [[DedupOps.augmented]] variants) is doc_id-unique by construction;
    * a future non-unique corpus must pre-aggregate text per doc_id
    * first. */
  def denseVectors(corpus: DataFrame, dims: Int = 64): DataFrame =
    // ONE map-side pass per document, no shuffle: the native kernel
    // builds the long[dims] vector row-locally, equal to exploding to
    // (doc, token) rows and counting by (doc, dim). Docs with no valid
    // token yield NULL (no hashedTf rows) and are filtered, so the
    // document set and every vector value equal the hashedTf-derived
    // DuckDB twins'.
    corpus.select(col("doc_id"),
        graft.functions.native.hashedTfVec(split(col("text"), " ", -1), dims)
          .as("v"))
      .filter(col("v").isNotNull)

  /** Squared norm of the integer vector column `v`: an exact integer
    * fold through the native codegen'd kernel. The queries × corpus loop
    * is the dense channel's hot path, and a higher-order-function fold
    * would interpret lambdas and build an array per candidate pair. */
  private def n2(v: String): Column =
    graft.functions.native.dotFoldLong(col(v), col(v))

  /** The dense query side: the [[denseVectors]] of the rows matching
    * `isQuery` as (q_id, qv, n2q), then `extra`. */
  private def denseQueries(corpus: DataFrame, isQuery: Column, dims: Int,
                           extra: Column*): DataFrame =
    denseVectors(corpus.filter(isQuery), dims)
      .select(Seq(col("doc_id").as("q_id"), col("v").as("qv"),
        n2("v").as("n2q")) ++ extra: _*)

  /** The one scorer of the dense channels: each (query, document) pair
    * of `pairs` that shares a hashed dimension (integer dot > 0 — the
    * candidate set a sparse-entry equi-join on dim would produce, which
    * is what the DuckDB twins express) scores cos = dot / (√n2q · √n2d),
    * one division over two sqrt's of exact integer sums, and each query
    * keeps its top k by (cos DESC, doc_id ASC). Output:
    * (q_id, doc_id, cos, rank). */
  private def denseCosineRanks(pairs: DataFrame, k: Int): DataFrame =
    Ranking.topK(pairs
        .withColumn("dot",
          graft.functions.native.dotFoldLong(col("v"), col("qv")))
        .filter(col("dot") > 0L)
        .withColumn("cos", col("dot").cast("double") /
          (sqrt(col("n2q").cast("double")) * sqrt(col("n2d").cast("double")))),
        "q_id", Seq(col("cos").desc, col("doc_id").asc), k)
      .select("q_id", "doc_id", "cos", "rank")

  /** Dense ranked channel: cosine top-k over the model-free
    * [[SemanticOps.hashedTf]] document vectors (feature hashing to
    * `dims` buckets). Plan shape: ONE corpus aggregation to per-doc
    * integer vectors ([[denseVectors]]), query vectors built from the
    * query slice alone and BROADCAST, dots and norms computed MAP-SIDE
    * as exact integer folds (tf is integral, so Σ a·b commutes — no
    * float-order hazard), top-k a per-query window (WindowGroupLimit
    * brackets the q_id exchange). Every other document is a candidate;
    * [[denseCosineRanks]] scores them. Output: (q_id, doc_id, cos, rank).
    */
  def denseRanks(corpus: DataFrame, isQuery: Column, k: Int = 5,
                 dims: Int = 64): DataFrame =
    denseCosineRanks(denseVectors(corpus, dims)
      .withColumn("n2d", n2("v"))
      .crossJoin(broadcast(denseQueries(corpus, isQuery, dims)))
      .filter(col("doc_id") =!= col("q_id")), k)

  /** ±1 hyperplane coefficients for the bucket-routed dense channel:
    * parity of the house 60-bit hash (the JL-projection idiom,
    * [[SimilarityOps]]). INTEGER coefficients over the integer TF
    * vectors keep every plane dot an exact integer sum — bucket
    * assignment has no float hazard at all. */
  private[graft] def denseLshCoefs(planes: Int,
                                 dims: Int): Seq[Seq[Long]] =
    (0 until planes).map(p => (0 until dims).map { d =>
      if ((Hashing.hash64Jvm(s"dlsh:$p:$d") & 1L) == 0L) 1L else -1L
    })

  /** The SCALE PATH for the dense channel: candidates are restricted
    * to documents sharing the query's hyperplane sign bucket (probe-1,
    * 2^`planes` buckets) before the exact integer cosine verify — the
    * [[SimilarityOps.lshTopK]] recipe applied to the hashed-TF doc
    * vectors, so the corpus-wide per-query candidate set of
    * [[denseRanks]] shrinks to bucket slices. Registered fused as
    * `hybrid_rrf_lsh`, the proof that [[rrfFuse]]'s dense slot takes a
    * bucketed ANN list, not just the brute-force baseline. Recall
    * knob: more planes → smaller buckets (precision) — fewer planes,
    * multi-probe, or more tables recover recall exactly as in the
    * [[SimilarityOps]] family. Output: (q_id, doc_id, cos, rank).
    */
  def denseRanksLsh(corpus: DataFrame, isQuery: Column, k: Int = 5,
                    dims: Int = 64, planes: Int = 8): DataFrame = {
    // plane coefficients are array<long> literals, so plane dots are
    // native integer folds too
    val bucketCol = denseLshCoefs(planes, dims).zipWithIndex.map {
      case (cs, p) =>
        when(graft.functions.native.dotFoldLong(col("v"), typedlit(cs)) > 0L,
          lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val qvecs = denseQueries(corpus, isQuery, dims, bucketCol.as("q_bucket"))
    denseCosineRanks(denseVectors(corpus, dims)
      .withColumn("n2d", n2("v")).withColumn("bucket", bucketCol)
      .join(broadcast(qvecs), col("bucket") === col("q_bucket") &&
        col("doc_id") =!= col("q_id")), k)
  }

  /** Hybrid retrieval on the SCALE PATH: BM25 fused with the
    * bucket-routed dense channel. */
  def hybridRrfLsh(corpus: DataFrame, isQuery: Column, kChannel: Int = 10,
                   k: Int = 5): DataFrame =
    rrfFuse(bm25Ranks(corpus, isQuery, kChannel),
      denseRanksLsh(corpus, isQuery, kChannel), k)

  /** The documents' hashed-TF vectors as 64-dim DOUBLE embeddings —
    * the bridge from the retrieval corpus to the [[PqOps]] persisted-
    * index machinery (whose contract is (vec_id, embedding)). Entries
    * are small integer term frequencies cast to double — exact in
    * doubles on both engines, so every downstream codebook / ADC
    * comparison is float-hazard-free. */
  def denseDocEmbeddings(corpus: DataFrame, dims: Int = 64): DataFrame =
    denseVectors(corpus, dims).select(col("doc_id").as("vec_id"),
      expr("transform(v, x -> CAST(x AS DOUBLE))").as("embedding"))

  /** The dense channel the 100 TB deployment actually runs: a
    * per-query TOP-K over a [[PqOps.annIndex]] of the document
    * vectors — frozen seed codebook, hyperplane routing with
    * hamming-1 multiprobe, ADC scoring from the stored codes alone
    * ([[PqOps.annIndexTopK]]). Compared to [[denseRanksLsh]] (which
    * re-reads raw vectors per query batch), the index side here moves
    * only (vec_id, bucket, m codes) rows — the persisted layout that
    * never rescans the corpus. Output (q_id, doc_id, adc_dist, rank),
    * [[rrfFuse]]-shaped. Pass a pre-built `index` (read back from
    * parquet) to score the PERSISTED artifact; None builds it inline.
    */
  def denseRanksAnnIndex(corpus: DataFrame, isQuery: Column, k: Int = 5,
                         dims: Int = 64, m: Int = 4, kCode: Int = 16,
                         nPlanes: Int = 8,
                         prebuilt: Option[(DataFrame, Array[Array[Seq[Double]]])] =
                           None): DataFrame = {
    val cb = prebuilt.map(_._2)
      .getOrElse(PqOps.trainCodebook(denseDocEmbeddings(corpus, dims), m,
        kCode))
    if (cb(0).isEmpty)
      return corpus.select(col("doc_id").as("q_id"), col("doc_id"),
        lit(0.0).as("adc_dist"), lit(0L).as("rank")).limit(0)
    val idx = prebuilt.map(_._1)
      .getOrElse(PqOps.annIndex(denseDocEmbeddings(corpus, dims), cb,
        nPlanes))
    PqOps.annIndexTopK(idx, denseDocEmbeddings(corpus.filter(isQuery), dims),
        cb, nPlanes, k)
      .select(col("q_id"), col("nn_id").as("doc_id"), col("adc_dist"),
        col("rank"))
  }

  /** Hybrid retrieval over the PRODUCTION dense channel: BM25 fused
    * with the persisted-index multiprobe ADC top-k. The ANN index is
    * written to `indexDir` and read back before scoring, so the
    * registered row exercises the real persisted artifact — the
    * `bm25_incremental` discipline applied to the dense slot. */
  def hybridRrfIndexPersisted(spark: SparkSession, corpus: DataFrame,
                              isQuery: Column, indexDir: String,
                              kChannel: Int = 10, k: Int = 5,
                              dims: Int = 64, m: Int = 4, kCode: Int = 16,
                              nPlanes: Int = 8): DataFrame = {
    val vecs = denseDocEmbeddings(corpus, dims)
    val cb = PqOps.trainCodebook(vecs, m, kCode)
    PqOps.annIndex(vecs, cb, nPlanes).write.mode("overwrite")
      .parquet(indexDir)
    val dense = denseRanksAnnIndex(corpus, isQuery, kChannel, dims, m,
      kCode, nPlanes, prebuilt = Some((spark.read.parquet(indexDir), cb)))
    rrfFuse(bm25Ranks(corpus, isQuery, kChannel), dense, k)
  }

  /** Reciprocal rank fusion (Cormack et al. 2009, c = 60): rrf =
    * Σ_channels 1/(c + rank), absent channel contributes 0, summed in
    * fixed (sparse, dense) order. Takes ANY two ranked (q_id, doc_id,
    * …, rank) frames — the dense slot accepts the brute-force baseline
    * or any [[SimilarityOps]] ANN top-k. Ranks carried through as
    * `sparse_rank`/`dense_rank` (−1 = not retrieved by that channel).
    */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, k: Int = 5,
              c: Double = 60.0): DataFrame = {
    val s = sparse.select(col("q_id"), col("doc_id"), col("rank").as("s_rank"))
    val d = dense.select(col("q_id"), col("doc_id"), col("rank").as("d_rank"))
    val fused = s.join(d, Seq("q_id", "doc_id"), "full")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("s_rank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("d_rank").cast("double")), lit(0.0)))
    Ranking.topK(fused, "q_id", Seq(col("rrf").desc, col("doc_id").asc), k)
      .select(col("q_id"), col("doc_id"),
        coalesce(col("s_rank"), lit(-1L)).as("sparse_rank"),
        coalesce(col("d_rank"), lit(-1L)).as("dense_rank"),
        col("rrf"), col("rank"))
  }

  /** Hybrid retrieval: fuse the BM25 and hashed-TF-cosine channel
    * top-kChannel lists by RRF, keep the fused top-k. */
  def hybridRrf(corpus: DataFrame, isQuery: Column, kChannel: Int = 10,
                k: Int = 5): DataFrame =
    rrfFuse(bm25Ranks(corpus, isQuery, kChannel),
      denseRanks(corpus, isQuery, kChannel), k)

  // ---------------------------------------------------------------
  // Planted-contamination recall evaluation
  // ---------------------------------------------------------------

  /** Retrieval-recall evaluation on PLANTED near-duplicates (the
    * retrieval-based-decontamination quality question: "if a benchmark
    * document leaked into the corpus with light edits, does the audit
    * retrieve the source at rank ≤ k?"). Corpus = [[DedupOps.augmented]]
    * (originals ∪ first-word-stripped near copies at +100000 ∪ exact
    * copies at +200000); queries = the 8 smallest near copies; truth
    * for query q is its original q − 100000. One row per channel
    * (sparse / dense / hybrid): (channel, n_queries, n_hits, recall).
    * Evaluation-harness class: cost is bounded by the fixed query set,
    * not the corpus (both channels stay query-broadcast).
    */
  def retrievalRecall(documents: DataFrame, kChannel: Int = 10,
                      k: Int = 5, lsh: Boolean = false): DataFrame =
    retrievalRecallOver(DedupOps.augmented(documents), kChannel, k, lsh)

  /** The 100 TB formulation of [[retrievalRecall]] (the
    * [[DedupOps.dedupRecallSampled]] pattern): the harness runs
    * over a CO-ADDRESSED content sample — bucket hashed from the BASE
    * id, so each planted query samples together with its truth
    * original ([[DedupOps.coSampleBucketCol]]) — and every downstream
    * cost (both channels' corpus explodes/aggregations, df, avgdl, the
    * candidate windows) shrinks with the sample rate while the query
    * side stays the surviving subset of the same planted set. The
    * estimate is exact recall of the sampled harness, and it BRACKETS
    * the exhaustive number from above in expectation: surviving
    * queries keep their truth by construction while the distractor
    * mass shrinks, so per-query retrieval only gets easier (a spec pins
    * sampled ≥ exhaustive per channel on the test corpus).
    * `sample_buckets` (of 256) is the cost-vs-fidelity knob, carried in
    * the output like [[DedupOps.dedupRecallSampled]].
    */
  def retrievalRecallSampled(documents: DataFrame, kChannel: Int = 10,
                             k: Int = 5, sampleBuckets: Int = 128,
                             seed: String = "42",
                             lsh: Boolean = false): DataFrame =
    retrievalRecallOver(
        DedupOps.augmented(documents)
          .filter(DedupOps.coSampleBucketCol(seed) < sampleBuckets),
        kChannel, k, lsh)
      .select(lit(sampleBuckets.toLong).as("sample_buckets"),
        col("channel"), col("n_queries"), col("n_hits"), col("recall"))

  /** The planted-truth recall of the PRODUCTION configuration: dense
    * channel = the persisted-index multiprobe ADC top-k
    * ([[denseRanksAnnIndex]]) instead of the brute-force baseline —
    * the quality number for the fusion `hybrid_rrf_index` actually
    * ships. Same planted truth,
    * same [[rrfFuse]], same hit arithmetic; the registered row sits
    * next to `retrieval_recall` / `retrieval_recall_lsh` so the three
    * dense-channel variants (exhaustive / probe-1 LSH / persisted-
    * index multiprobe PQ) are priced on one scale. */
  def retrievalRecallAnnIndex(documents: DataFrame, kChannel: Int = 10,
                              k: Int = 5): DataFrame =
    retrievalRecallChan(DedupOps.augmented(documents), kChannel, k,
      denseRanksAnnIndex(_, _, _))

  private def retrievalRecallOver(corpus: DataFrame, kChannel: Int,
                                  k: Int, lsh: Boolean): DataFrame =
    retrievalRecallChan(corpus, kChannel, k,
      if (lsh) denseRanksLsh(_, _, _) else denseRanks(_, _, _))

  private def retrievalRecallChan(corpus: DataFrame, kChannel: Int, k: Int,
                                  denseChannel: (DataFrame, Column, Int) =>
                                    DataFrame): DataFrame = {
    val isQuery = col("doc_id") >= 100000L && col("doc_id") < 100080L
    // Each channel feeds BOTH the fusion and its own hit count — pin
    // the queries×kChannel rank lists so the channel pipelines run
    // once, not twice (the [[bm25PrfFromIndex]] /
    // [[DedupOps.dedupIncremental]] lifecycle: eager-materialize, caller
    // owns the tiny output).
    // `lsh = true` evaluates the SCALE PATH's dense channel
    // ([[denseRanksLsh]], probe-1 bucket routing) on the same planted
    // truth — the registered twin rows price what probe-1 costs in
    // recall next to the brute-force channel's ceiling.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Pin the EVALUATION corpus itself for the harness's duration:
    // between them the two channels + nq evaluate the corpus
    // expression 6+ times (qterms / postings / doclens on the sparse
    // side, two dense-vector passes on the dense side), and the
    // corpus here is never a raw table — it is the 3-scan augmented
    // union, optionally behind the sampled filter. Caching it is safe
    // by the harness contract: this is evaluation-class code whose
    // corpus is bounded (the sampled twin IS the 100 TB path, and its
    // sampled corpus is knob-bounded); production retrieval paths
    // (hybridRrf*, bm25RanksFromIndex) do NOT cache their corpus.
    // Coalesce the pinned corpus back to cluster parallelism before
    // caching: the augmented corpus is a 3-branch union, so it would
    // materialize at 3× the per-branch partition count and every
    // downstream reference (qterms, postings, doclens, both dense
    // passes, nq) pay 3× the tasks to read it. coalesce is narrow (no
    // shuffle) and keeps full parallelism; safe here by the harness
    // contract — the evaluation corpus is bounded (the sampled twin IS
    // the scale path).
    val dp = math.max(1,
      corpus.sparkSession.sparkContext.defaultParallelism)
    val c = corpus.coalesce(dp).persist(lvl)
    val s = pinTiny(bm25Ranks(c, isQuery, kChannel))
    val d = pinTiny(denseChannel(c, isQuery, kChannel))
    try {
      s.count(); d.count()
      val h = rrfFuse(s, d, k)
      val nQ = c.filter(isQuery).agg(count(lit(1)).as("n_queries"))
      def hits(ranked: DataFrame, name: String): DataFrame = ranked
        .filter(col("rank") <= k && col("doc_id") === col("q_id") - 100000L)
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("channel"), col("n_hits"))
      val out = pinTiny(hits(s, "sparse").unionAll(hits(d, "dense"))
        .unionAll(hits(h, "hybrid"))
        .crossJoin(broadcast(nQ))
        .select(col("channel"), col("n_queries"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_queries").cast("double"))
            .as("recall")))
      out.count() // materialize while the channel lists are still cached
      out
    } finally { s.unpersist(); d.unpersist(); c.unpersist() }
  }
}
