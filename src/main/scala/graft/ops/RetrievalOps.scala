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
  *    BM25 broadcasts the query vocabulary onto the token stream
  *    (corpus explode filtered map-side), the dense channel broadcasts
  *    the query TF entries onto the postings (≤ |queries|·dims rows).
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
    * repartition(1) before persist (round 15). Cached plans skip AQE
    * partition coalescing (spark.sql.optimizer.
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
    * OTHER corpus documents. Identical arithmetic and plan shape — the
    * query vocabulary is broadcast so the corpus-side explode is
    * filtered MAP-SIDE before tf/df ever shuffle; see the scale notes
    * on [[TextOps.bm25TopK]]. Output: (q_id, doc_id, n_terms, score,
    * rank), rank ≤ k per query.
    */
  def bm25Ranks(corpus: DataFrame, isQuery: Column, k: Int = 5): DataFrame =
    bm25RanksForTerms(corpus, queryTerms(corpus, isQuery), k)

  /** [[bm25Ranks]] against an EXPLICIT (q_id, word) term table — the
    * entry point query-expansion passes reuse. */
  def bm25RanksForTerms(corpus: DataFrame, qterms: DataFrame,
                        k: Int = 5): DataFrame = {
    val qvocab = qterms.select("word").distinct()
    // dl is ATTACHED AT THE EXPLODE (round 15, guide §2.4 "remove
    // shuffles outright"): size(toks) rides along as one extra long per
    // exploded row and survives the tf aggregation as max(dl) (constant
    // per doc, so max = the value). The previous formulation joined a
    // separate corpus-wide (doc_id, dl) frame onto tf inside
    // scoreAndRank — locally a second scan+repartition+broadcast per
    // scoring pass, at 100 TB a corpus-sized shuffle join (doclens is
    // data-sized, not broadcastable). Values are identical, so the
    // oracle SQL is untouched.
    val toks = corpus
      .select(col("doc_id"), size(toksCol).cast("long").as("dl"),
        explode(toksCol).as("word"))
      .join(broadcast(qvocab), "word")
    val tf = toks.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    // df = distinct docs per word = ROWS of tf per word (tf is one row
    // per (doc, word)) — the same derivation [[bm25BuildIndex]] uses.
    // Deriving from tf instead of a second countDistinct over toks lets
    // ReuseExchange serve BOTH consumers from ONE explode+join+agg
    // (round 15: the duplicated toks evaluation was ~25% of the whole
    // channel at the 100× ladder), and drops the countDistinct expand.
    val dfT = tf.groupBy("word").agg(count(lit(1)).as("df"))
    scoreAndRank(tf, dfT, corpusNAvg(corpus), qterms, k)
  }

  /** (n, avgdl) from the corpus in ONE skinny aggregate — count and the
    * exact integer token-count sum (commutes in any order) with one IEEE
    * division, bit-identical to the previous dl-frame derivation. */
  private def corpusNAvg(corpus: DataFrame): DataFrame =
    corpus.agg(count(lit(1)).as("n"),
      (sum(size(toksCol).cast("long")).cast("double") / count(lit(1)))
        .as("avgdl"))

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (RM3-lite query expansion):
    * first pass retrieves the top-`m` feedback documents per query;
    * the `e` best expansion terms across them that are NOT already
    * query terms join the query; the second pass scores the EXPANDED
    * term set with the same BM25 arithmetic. The standard recipe when
    * the query document under-specifies its topic — the lexical
    * analogue of the dense channel's paraphrase tolerance.
    *
    * Expansion terms are ranked by feedback-frequency × LINEAR idf
    * (one integer count times the house `((N−df)+0.5)/(df+0.5)` — a
    * single IEEE multiply over a single division, bitwise
    * reproducible), (score DESC, word ASC) tiebreak. The idf factor is
    * LOAD-BEARING, not just quality: raw frequency ranking picks the
    * corpus-common (stopword-like) terms of the feedback docs, whose
    * expanded match set approaches corpus × queries — the first ladder
    * cut measured 542 s at 100× (5× the plain pass) before the idf
    * weighting pulled expansion to rare terms and the second pass back
    * to first-pass cost.
    *
    * Scale: first pass is [[bm25Ranks]]; feedback docs are queries×m
    * ids BROADCAST onto the corpus before the explode (only the ≤ 8·m
    * feedback documents are ever re-tokenized); candidate df is one
    * corpus pass filtered map-side by the feedback-vocab broadcast;
    * the second pass is one more [[bm25RanksForTerms]].
    */
  def bm25Prf(corpus: DataFrame, isQuery: Column, m: Int = 3, e: Int = 5,
              k: Int = 5): DataFrame = {
    // qt is queries×terms-bounded and referenced ~5× across the two
    // passes (qvocab, scoreAndRank join, anti-join, union vocab, final
    // term table) — pin it for the call like the feedback ids (round 15)
    val qt = pinTiny(queryTerms(corpus, isQuery))
    // The feedback ids are referenced by several downstream branches
    // (fb tokenization twice, expansion ranking, second-pass vocab);
    // WITHOUT pinning them, each reference re-executes the ENTIRE
    // first pass — the second ladder cut measured 657 s at 100× (~4
    // first passes) vs ~2 passes' worth after this persist. queries×m
    // rows — metadata-sized. Eager-materialize + unpersist-on-return,
    // the [[DedupOps.dedupIncremental]] lifecycle contract: the CALLER
    // owns the returned (tiny, persisted) frame.
    val fbIds = pinTiny(bm25RanksForTerms(corpus, qt, m)
      .select(col("q_id"), col("doc_id")))
    try {
      fbIds.count()
      val out = pinTiny(bm25PrfFromFeedback(corpus, qt, fbIds, e, k))
      out.count() // materialize while the feedback ids are still cached
      out
    } finally { fbIds.unpersist(); qt.unpersist() }
  }

  /** [[bm25Prf]] as a PURE INDEX CONSUMER (VERDICT r14 item 2): both
    * scoring passes, the feedback-candidate weights, AND the
    * expansion-term idf ranking read the persisted [[Bm25Index]] —
    * corpus text is never touched, nothing is ever re-tokenized. The
    * production PRF shape at 100 TB: the inline [[bm25Prf]] pays two
    * full corpus explodes (the round-14 ladder prices it at 167.8 s at
    * 100×, ≈1.6× a single pass); from the index each pass is a
    * broadcast-vocabulary filter over postings (≈6× cheaper — the
    * `bm25_incremental` ladder's 17.8 s vs 106.5 s inline, twice).
    *
    * BIT-PARITY with [[bm25Prf]] by construction, term by term:
    *  - feedback weights: inline counts token occurrences of the
    *    feedback docs (Σ over docs of tf) — here `sum(tf)` over the
    *    feedback docs' posting rows, the same integers;
    *  - candidate idf: inline computes df over the union-vocab explode,
    *    which for any word equals the full-corpus df — here `idx.df`
    *    IS the full-corpus df; `n_docs` = doclens count = corpus count;
    *  - both scoring passes share [[scoreAndRank]] via
    *    [[bm25RanksFromIndex]] (tf/df/dl values identical — parquet
    *    round-trips longs exactly).
    * The registered `bm25_prf_index` row pins this: its oracle is the
    * SAME SQL as `bm25_prf`'s.
    */
  def bm25PrfFromIndex(idx: Bm25Index, qtermsIn: DataFrame, m: Int = 3,
                       e: Int = 5, k: Int = 5): DataFrame = {
    // qterms pinned for the call — referenced by both passes' vocab
    // filters, the anti-join and the final term table (round 15)
    val qterms = pinTiny(qtermsIn)
    // ONE (n, avgdl) derivation for the whole call (round 16, guide
    // §2.4): both scoring passes and the expansion's n_docs used to
    // each aggregate the corpus-sized doclens — three full doclens
    // scans for the same 1-row scalar. Pinned (1 row, the broadcast-
    // class metadata pinTiny exists for); materialized by the first
    // pass's count below; unpersisted with the other pins.
    val nAvg = pinTiny(idxNAvg(idx))
    // queries×m rows — the same pinned-feedback lifecycle as [[bm25Prf]]
    val fbIds = pinTiny(bm25RanksFromIndex(idx, qterms, m, nAvg)
      .select(col("q_id"), col("doc_id")))
    // queries×feedback-vocab rows. PINNED because the expansion DAG
    // references it twice (the esc join and the candidate-vocab
    // broadcast inside cdf) and each evaluation costs a postings scan —
    // and because the EXPANDED TERM TABLE below is referenced three
    // times by the second scoring pass (tf filter, df filter,
    // scoreAndRank's qterms join): unpinned, the 10× ladder measured
    // 26.5 s (≈ the inline two-explode PRF — six hidden postings scans
    // re-deriving the expansion), pinned it is the ~2-scoring-passes
    // cost the index-backed formulation exists for.
    val fbCand = pinTiny(idx.postings
      .join(broadcast(fbIds), "doc_id")
      .groupBy("q_id", "word").agg(sum("tf").as("w"))
      .join(qterms, Seq("q_id", "word"), "left_anti"))
    // queries×(query-terms+e) rows — the second pass's term table
    var expanded: DataFrame = null
    try {
      fbIds.count()
      // n_docs == doclens count == nAvg's n (bit-identical long)
      val nDocs = nAvg.select(col("n").as("n_docs"))
      val cdf = idx.df
        .join(broadcast(fbCand.select("word").distinct()), "word")
        .withColumnRenamed("df", "cdf")
      val expW = Window.partitionBy("q_id")
        .orderBy(col("esc").desc, col("word").asc)
      val exp = fbCand
        .join(broadcast(cdf), "word")
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

  /** The expansion + second pass given pinned feedback ids (split out
    * so [[bm25Prf]]'s persist lifecycle wraps exactly the references
    * that need it). */
  private def bm25PrfFromFeedback(corpus: DataFrame, qt: DataFrame,
                                  fbIds: DataFrame, e: Int,
                                  k: Int): DataFrame = {
    val fbToks = corpus
      .join(broadcast(fbIds.select("doc_id").distinct()), "doc_id")
      .select(col("doc_id"), explode(toksCol).as("word"))
      .join(broadcast(fbIds), "doc_id")
    val fbCand = fbToks.groupBy("q_id", "word").agg(count(lit(1)).as("w"))
      .join(qt, Seq("q_id", "word"), "left_anti")
    // ONE shared second explode over the UNION vocabulary (query ∪
    // candidate terms): it serves both the candidate-idf ranking and
    // the final scoring pass — a dedicated candidate-df pass was a
    // third full corpus explode for the same df values (first ladder
    // cut). tf rows of unchosen candidates are dropped by
    // scoreAndRank's qterms join, so scores are unchanged.
    val vocab2 = qt.select("word").unionAll(fbCand.select("word")).distinct()
    // dl attached at the explode, as in [[bm25RanksForTerms]] (round 15)
    val toks2 = corpus
      .select(col("doc_id"), size(toksCol).cast("long").as("dl"),
        explode(toksCol).as("word"))
      .join(broadcast(vocab2), "word")
    val tf2 = toks2.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    // df from tf, as in [[bm25RanksForTerms]]: one shared toks2 pass
    val df2 = tf2.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    val expW = Window.partitionBy("q_id")
      .orderBy(col("esc").desc, col("word").asc)
    val exp = fbCand
      .join(broadcast(df2.withColumnRenamed("df", "cdf")), "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("esc", col("w").cast("double") *
        (((col("n_docs") - col("cdf")).cast("double") + lit(0.5)) /
          (col("cdf").cast("double") + lit(0.5))))
      .withColumn("r", row_number().over(expW))
      .filter(col("r") <= e)
      .select("q_id", "word")
    scoreAndRank(tf2, df2, corpusNAvg(corpus), qt.unionAll(exp), k)
  }

  /** The scoring tail shared by the inline ([[bm25Ranks]]) and
    * persisted-index ([[bm25RanksFromIndex]]) formulations — ONE
    * composition, so the two paths are bit-identical by construction:
    * idf = ((N − df) + 0.5) / (df + 0.5) [linear]; norm = 0.25 +
    * 0.75·(dl/avgdl); contribution = idf · (tf·2.2)/(tf + 1.2·norm)
    * [k1 = 1.2, b = 0.75]; per-(query, doc) score = term-lexicographic
    * strict left fold from 0.0.
    */
  private def scoreAndRank(tf: DataFrame, dfT: DataFrame, nAvg: DataFrame,
                           qterms: DataFrame, k: Int): DataFrame = {
    // `tf` carries (doc_id, word, tf, dl): inline passes attach dl at
    // the explode; the index path joins doclens once before calling
    // (round 15 — the per-pass corpus-wide dl join is gone, guide §2.4).
    // `nAvg` is the 1-row (n, avgdl) aggregate, broadcast.
    val idf = ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val norm = lit(0.25) + (lit(0.75) * (col("dl").cast("double") / col("avgdl")))
    val contrib = idf *
      ((col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + (lit(1.2) * norm)))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(broadcast(dfT), "word")
      .join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(nAvg))
      .withColumn("c", contrib)
      .groupBy("q_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        expr("""aggregate(transform(array_sort(collect_list(struct(word, c))),
               |  x -> x.c), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
          .as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "doc_id", "n_terms", "score", "rank")
  }

  // ---------------------------------------------------------------
  // Persisted inverted index + incremental merge
  // ---------------------------------------------------------------

  /** The persisted BM25 index of a corpus slice — what a production
    * pipeline writes once per slice so that queries and later
    * increments never re-tokenize the corpus (the
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
    * data-sized cache (round 16, replacing round 15's
    * persist(MEMORY_AND_DISK) of the corpus-sized postings frame —
    * which achieved the single tokenization but roughly doubled the
    * index build's disk footprint via cache spill at scale, the exact
    * data-sized-cache pattern the rest of the engine rejects): write
    * postings first, then derive the df artifact by reading the
    * just-written postings parquet back. REQUIRES the Bm25Index
    * invariant df(word) ≡ postings rows per word — which every
    * constructor maintains ([[bm25BuildIndex]] counts postings rows;
    * [[bm25MergeIndex]] unions doc-disjoint postings and sums df, equal
    * to a recount of the union) — so the written df values are
    * bit-identical to idx.df's (spec-pinned in RetrievalOpsSpec). The
    * invariant is checked after the write: the written df's
    * (rows, Σdf) must equal idx.df's, else an IllegalStateException
    * names both. */
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

  /** BM25 top-k from a persisted/merged index, never touching corpus
    * text: postings and df are filtered by the BROADCAST query
    * vocabulary (map-side, so only query-term posting rows survive the
    * scan), then the shared [[scoreAndRank]] tail. For query words the
    * slice-summed df equals the full-corpus df and per-doc tf rows are
    * slice-unique, so the result is bit-identical to [[bm25Ranks]] on
    * the concatenated corpus (spec-pinned; the registered
    * `bm25_incremental` oracle IS the full-corpus `bm25_topk` SQL).
    */
  def bm25RanksFromIndex(idx: Bm25Index, qterms: DataFrame,
                         k: Int = 5): DataFrame =
    bm25RanksFromIndex(idx, qterms, k, idxNAvg(idx))

  /** The index's 1-row (n, avgdl) corpus-stats aggregate — split out
    * (round 16) so a multi-pass consumer ([[bm25PrfFromIndex]]: two
    * scoring passes + the expansion's n_docs) derives it ONCE from one
    * doclens scan instead of once per pass. Same expression as before —
    * exact integer count/sum with one IEEE division. */
  private def idxNAvg(idx: Bm25Index): DataFrame =
    idx.doclens.agg(count(lit(1)).as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))

  private def bm25RanksFromIndex(idx: Bm25Index, qterms: DataFrame,
                                 k: Int, nAvg: DataFrame): DataFrame = {
    val qvocab = qterms.select("word").distinct()
    // dl joined ONCE onto the vocab-filtered postings (the artifact
    // keeps doclens separate — the standard inverted-index layout); the
    // join's left side is already query-bounded, and the corpus-sized
    // doclens side streams through unshuffled when the planner picks a
    // broadcast of the filtered postings.
    val tf = idx.postings.join(broadcast(qvocab), "word")
      .join(idx.doclens, "doc_id")
    val dfT = idx.df.join(broadcast(qvocab), "word")
    scoreAndRank(tf, dfT, nAvg, qterms, k)
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
    * PRECONDITION (ADVICE r15): `doc_id` must be unique in `corpus`.
    * The native kernel emits one vector per ROW; the pre-round-15
    * explode→count→re-group derivation grouped by doc_id and would
    * have merged token counts across duplicate doc_id rows, so the two
    * forms (and the hashedTf-derived DuckDB oracles) agree only under
    * uniqueness. Every registered corpus (documents and its
    * [[DedupOps.augmented]] variants) is doc_id-unique by construction;
    * a future non-unique corpus must pre-aggregate text per doc_id
    * first. */
  def denseVectors(corpus: DataFrame, dims: Int = 64): DataFrame =
    // ONE map-side pass per document (round 15, guide §2.4): the
    // previous derivation exploded to (doc, token) rows, counted by
    // (doc, dim) and re-grouped to densify — TWO corpus-wide shuffles
    // per call (and every dense channel calls this twice: corpus +
    // query sides). The native kernel builds the same long[dims]
    // vector row-locally; docs with no valid token yield NULL (they
    // produced no hashedTf rows before) and are filtered, so the
    // document set and every vector value are bit-identical — the
    // hashedTf-derived DuckDB twins are untouched.
    corpus.select(col("doc_id"),
        graft.functions.native.hashedTfVec(split(col("text"), " ", -1), dims)
          .as("v"))
      .filter(col("v").isNotNull)

  /** Dense ranked channel: cosine top-k over the model-free
    * [[SemanticOps.hashedTf]] document vectors (feature hashing to
    * `dims` buckets). Plan shape: ONE corpus aggregation to per-doc
    * integer vectors ([[denseVectors]]), query vectors built from the
    * query slice alone and BROADCAST, dots and norms computed MAP-SIDE
    * as exact integer folds (tf is integral, so Σ a·b commutes — no
    * float-order hazard), cosine one division over two sqrt's, top-k a
    * per-query window (WindowGroupLimit brackets the q_id exchange).
    * Pairs sharing no hashed dimension have dot = 0 and are dropped —
    * exactly the candidate set a sparse-entry equi-join on dim would
    * produce, which is what the DuckDB twin expresses. Output:
    * (q_id, doc_id, cos, rank).
    */
  def denseRanks(corpus: DataFrame, isQuery: Column, k: Int = 5,
                 dims: Int = 64): DataFrame = {
    // dots/norms through the native codegen'd integer fold (round 15):
    // the aggregate(zip_with(...)) HOFs interpreted two lambdas and
    // materialized an intermediate array PER CANDIDATE PAIR in the
    // queries × corpus loop — the channel's hot path. Exact integer
    // sums, so the values (and the DuckDB twins) are unchanged.
    def n2(v: String) =
      graft.functions.native.dotFoldLong(col(v), col(v))
    val qvecs = denseVectors(corpus.filter(isQuery), dims)
      .select(col("doc_id").as("q_id"), col("v").as("qv"),
        n2("v").as("n2q"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    denseVectors(corpus, dims)
      .withColumn("n2d", n2("v"))
      .crossJoin(broadcast(qvecs))
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("dot",
        graft.functions.native.dotFoldLong(col("v"), col("qv")))
      .filter(col("dot") > 0L)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("n2q").cast("double")) * sqrt(col("n2d").cast("double"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "doc_id", "cos", "rank")
  }

  /** ±1 hyperplane coefficients for the bucket-routed dense channel:
    * parity of the house 60-bit hash (the JL-projection idiom,
    * [[SimilarityOps]]). INTEGER coefficients over the integer TF
    * vectors keep every plane dot an exact integer sum — bucket
    * assignment has no float hazard at all. */
  private[ops] def denseLshCoefs(planes: Int,
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
    // native integer folds for norms, plane dots and pair dots — the
    // same swap as [[denseRanks]] (round 15); plane coefficients become
    // array<long> literals, values unchanged.
    def n2(v: String) =
      graft.functions.native.dotFoldLong(col(v), col(v))
    val bucketCol = denseLshCoefs(planes, dims).zipWithIndex.map {
      case (cs, p) =>
        when(graft.functions.native.dotFoldLong(col("v"), typedlit(cs)) > 0L,
          lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val qvecs = denseVectors(corpus.filter(isQuery), dims)
      .withColumn("n2q", n2("v")).withColumn("q_bucket", bucketCol)
      .select(col("doc_id").as("q_id"), col("v").as("qv"), col("n2q"),
        col("q_bucket"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    denseVectors(corpus, dims)
      .withColumn("n2d", n2("v")).withColumn("bucket", bucketCol)
      .join(broadcast(qvecs), col("bucket") === col("q_bucket") &&
        col("doc_id") =!= col("q_id"))
      .withColumn("dot",
        graft.functions.native.dotFoldLong(col("v"), col("qv")))
      .filter(col("dot") > 0L)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("n2q").cast("double")) * sqrt(col("n2d").cast("double"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "doc_id", "cos", "rank")
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

  /** The dense channel the 100 TB deployment actually runs (VERDICT
    * r14 item 5): a per-query TOP-K over a [[PqOps.annIndex]] of the
    * document vectors — frozen seed codebook, hyperplane routing with
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
    val w = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    s.join(d, Seq("q_id", "doc_id"), "full")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("s_rank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("d_rank").cast("double")), lit(0.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
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

  /** The 100 TB formulation of [[retrievalRecall]] (VERDICT r14 item
    * 1, the [[DedupOps.dedupRecallSampled]] pattern): the harness runs
    * over a CO-ADDRESSED content sample — bucket hashed from the BASE
    * id, so each planted query samples together with its truth
    * original ([[DedupOps.coSampleBucketCol]]) — and every downstream
    * cost (both channels' corpus explodes/aggregations, df, avgdl, the
    * candidate windows) shrinks with the sample rate while the query
    * side stays the surviving subset of the same planted set. The
    * estimate is exact recall of the sampled harness, and it BRACKETS
    * the exhaustive number from above in expectation: surviving
    * queries keep their truth by construction while the distractor
    * mass shrinks, so per-query retrieval only gets easier (the
    * Round15 spec pins sampled ≥ exhaustive per channel on the driver
    * corpus). `sample_buckets` (of 256) is the cost-vs-fidelity knob,
    * carried in the output like [[DedupOps.dedupRecallSampled]].
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
    * ships (VERDICT r14 item 5's second half). Same planted truth,
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
    // once, not twice (the [[bm25Prf]] / [[DedupOps.dedupIncremental]]
    // lifecycle: eager-materialize, caller owns the tiny output).
    // `lsh = true` evaluates the SCALE PATH's dense channel
    // ([[denseRanksLsh]], probe-1 bucket routing) on the same planted
    // truth — the registered twin rows price what probe-1 costs in
    // recall next to the brute-force channel's ceiling.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Pin the EVALUATION corpus itself for the harness's duration
    // (round 15): between them the two channels + nq evaluate the
    // corpus expression 6+ times (qterms / toks / dl on the sparse
    // side, two hashedTf aggregations on the dense side), and the
    // corpus here is never a raw table — it is the 3-scan augmented
    // union, optionally behind the sampled filter. Caching it is safe
    // by the harness contract: this is evaluation-class code whose
    // corpus is bounded (the sampled twin IS the 100 TB path, and its
    // sampled corpus is knob-bounded); production retrieval paths
    // (hybridRrf*, bm25RanksFromIndex) do NOT cache their corpus.
    // Coalesce the pinned corpus back to cluster parallelism before
    // caching (round 15): the augmented corpus is a 3-branch union, so
    // it materializes at 3× the per-branch partition count and every
    // downstream reference (qterms, toks, nAvg, both dense passes, nq)
    // paid 3× the tasks to read it. coalesce is narrow (no shuffle) and
    // keeps full parallelism; safe here by the harness contract — the
    // evaluation corpus is bounded (the sampled twin IS the scale path).
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

  // ---------------------------------------------------------------
  // DuckDB twins
  // ---------------------------------------------------------------

  /** Sparse-channel CTE chain (expects a `corpus(doc_id, text)` CTE in
    * scope); terminal CTE `stop` = (q_id, doc_id, n_terms, score,
    * rank ≤ kChannel). Same semi-join vocabulary filter, single-IEEE-op
    * composition, term-ordered left fold and (score DESC, doc_id ASC)
    * tiebreak as [[bm25Ranks]]. */
  def sparseCtes(queryPred: String, kChannel: Int): String =
    sparseChain("", qtermsBody(queryPred), kChannel)

  private def qtermsBody(queryPred: String): String =
    s"""SELECT DISTINCT doc_id AS q_id, unnest(string_split(text, ' ')) AS word
       |  FROM corpus WHERE $queryPred""".stripMargin

  /** The sparse chain with a caller-supplied query-term CTE body and a
    * name suffix, so a second scoring pass (PRF) can coexist with the
    * first in one statement. */
  def sparseChain(sfx: String, qtermsSql: String, kChannel: Int): String =
    s"""qterms$sfx AS (
       |  $qtermsSql),
       |toks$sfx AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus)
       |  WHERE word IN (SELECT word FROM qterms$sfx)),
       |tf$sfx AS (SELECT doc_id, word, count(*) AS tf FROM toks$sfx GROUP BY 1, 2),
       |df$sfx AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks$sfx GROUP BY 1),
       |dl$sfx AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |       FROM corpus),
       |navg$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl
       |         FROM dl$sfx),
       |contribs$sfx AS (
       |  SELECT q.q_id, tf.doc_id, tf.word,
       |    ((CAST(navg.n - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
       |    * ((CAST(tf.tf AS DOUBLE) * 2.2)
       |       / (CAST(tf.tf AS DOUBLE)
       |          + (1.2 * (0.25 + (0.75 * (CAST(dl.dl AS DOUBLE) / navg.avgdl))))))
       |    AS c
       |  FROM tf$sfx tf
       |  JOIN df$sfx df ON tf.word = df.word
       |  JOIN qterms$sfx q ON tf.word = q.word
       |  JOIN dl$sfx dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN navg$sfx navg
       |  WHERE tf.doc_id <> q.q_id),
       |sscored$sfx AS (
       |  SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY word)),
       |                (acc, x) -> acc + x) AS score
       |  FROM contribs$sfx GROUP BY 1, 2),
       |stop$sfx AS (
       |  SELECT q_id, doc_id, n_terms, score, rank FROM (
       |    SELECT q_id, doc_id, n_terms, score,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       |    FROM sscored$sfx)
       |  WHERE rank <= $kChannel)""".stripMargin

  /** DuckDB twin of [[bm25Prf]]: first chain at k = m, feedback-doc
    * re-tokenize, occurrence-ranked non-query expansion terms, second
    * chain over the expanded term table. */
  def bm25PrfOracle(nQueries: Int = 8, m: Int = 3, e: Int = 5,
                    k: Int = 5): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${sparseChain("", qtermsBody(s"doc_id < $nQueries"), m)},
       |fbdocs AS (SELECT q_id, doc_id FROM stop),
       |fbtoks AS (
       |  SELECT f.q_id, t.word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus) t
       |  JOIN fbdocs f ON t.doc_id = f.doc_id),
       |fbcand AS (SELECT q_id, word, CAST(count(*) AS BIGINT) AS w
       |           FROM fbtoks GROUP BY 1, 2),
       |fbnew AS (
       |  SELECT c.q_id, c.word, c.w FROM fbcand c
       |  WHERE NOT EXISTS (SELECT 1 FROM qterms q
       |                    WHERE q.q_id = c.q_id AND q.word = c.word)),
       |cdf AS (
       |  SELECT word, count(DISTINCT doc_id) AS cdf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus)
       |  WHERE word IN (SELECT word FROM fbnew) GROUP BY 1),
       |ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM corpus),
       |expterms AS (
       |  SELECT q_id, word FROM (
       |    SELECT f.q_id, f.word, CAST(row_number() OVER (PARTITION BY f.q_id
       |      ORDER BY CAST(f.w AS DOUBLE)
       |        * ((CAST(ndocs.n_docs - cdf.cdf AS DOUBLE) + 0.5)
       |           / (CAST(cdf.cdf AS DOUBLE) + 0.5)) DESC,
       |        f.word ASC) AS BIGINT) AS r
       |    FROM fbnew f JOIN cdf ON f.word = cdf.word CROSS JOIN ndocs)
       |  WHERE r <= $e),
       |${sparseChain("2",
          "SELECT q_id, word FROM qterms UNION ALL SELECT q_id, word FROM expterms",
          k)}
       |SELECT q_id, doc_id, n_terms, score, rank FROM stop2""".stripMargin

  /** Dense-channel CTE chain (expects `corpus`); terminal CTE `dtop` =
    * (q_id, doc_id, cos, rank ≤ kChannel). Mirrors
    * [[SemanticOps.hashedTfOracle]]'s hash and [[denseRanks]]'s exact
    * integer dot/norm² with the one-division-two-sqrt cosine. */
  def denseCtes(queryPred: String, kChannel: Int, dims: Int): String =
    s"""dtf AS (
       |  SELECT doc_id, ${Hashing.hash64Duck("w")} % $dims AS dim,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
       |  WHERE len(w) > 0 GROUP BY 1, 2),
       |qdtf AS (SELECT doc_id AS q_id, dim, tf AS qtf FROM dtf WHERE $queryPred),
       |n2 AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
       |       FROM dtf GROUP BY 1),
       |ddot AS (
       |  SELECT q.q_id, t.doc_id, CAST(sum(t.tf * q.qtf) AS BIGINT) AS dot
       |  FROM dtf t JOIN qdtf q ON t.dim = q.dim
       |  WHERE t.doc_id <> q.q_id GROUP BY 1, 2),
       |dscored AS (
       |  SELECT d.q_id, d.doc_id,
       |    CAST(d.dot AS DOUBLE)
       |      / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE))) AS cos
       |  FROM ddot d
       |  JOIN n2 nq ON d.q_id = nq.doc_id
       |  JOIN n2 nd ON d.doc_id = nd.doc_id),
       |dtop AS (
       |  SELECT q_id, doc_id, cos, rank FROM (
       |    SELECT q_id, doc_id, cos,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank
       |    FROM dscored)
       |  WHERE rank <= $kChannel)""".stripMargin

  /** Bucket-routed dense-channel CTE chain (expects `corpus`);
    * terminal CTE `dtop`, same shape as [[denseCtes]] so [[rrfCtes]]
    * composes unchanged. The ±1 plane coefficients are embedded as a
    * VALUES table from the SAME [[denseLshCoefs]] the Spark side
    * compiles in; plane dots and the bucket id are exact integer
    * arithmetic on both engines. */
  def denseLshCtes(queryPred: String, kChannel: Int, dims: Int,
                   planes: Int): String = {
    val coefRows = denseLshCoefs(planes, dims).zipWithIndex.flatMap {
      case (cs, p) => cs.zipWithIndex.map { case (c, d) => s"($p, $d, $c)" }
    }.mkString(", ")
    s"""dtf AS (
       |  SELECT doc_id, ${Hashing.hash64Duck("w")} % $dims AS dim,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
       |  WHERE len(w) > 0 GROUP BY 1, 2),
       |hcoef(plane, dim, coef) AS (VALUES $coefRows),
       |dbucket AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << plane)
       |                               ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT t.doc_id, h.plane, CAST(sum(t.tf * h.coef) AS BIGINT) AS pd
       |    FROM dtf t JOIN hcoef h ON t.dim = h.dim GROUP BY 1, 2)
       |  GROUP BY 1),
       |qdtf AS (SELECT doc_id AS q_id, dim, tf AS qtf FROM dtf WHERE $queryPred),
       |n2 AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
       |       FROM dtf GROUP BY 1),
       |ddot AS (
       |  SELECT q.q_id, t.doc_id, CAST(sum(t.tf * q.qtf) AS BIGINT) AS dot
       |  FROM dtf t
       |  JOIN qdtf q ON t.dim = q.dim
       |  JOIN dbucket bt ON bt.doc_id = t.doc_id
       |  JOIN dbucket bq ON bq.doc_id = q.q_id AND bq.bucket = bt.bucket
       |  WHERE t.doc_id <> q.q_id GROUP BY 1, 2),
       |dscored AS (
       |  SELECT d.q_id, d.doc_id,
       |    CAST(d.dot AS DOUBLE)
       |      / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE))) AS cos
       |  FROM ddot d
       |  JOIN n2 nq ON d.q_id = nq.doc_id
       |  JOIN n2 nd ON d.doc_id = nd.doc_id),
       |dtop AS (
       |  SELECT q_id, doc_id, cos, rank FROM (
       |    SELECT q_id, doc_id, cos,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank
       |    FROM dscored)
       |  WHERE rank <= $kChannel)""".stripMargin
  }

  /** Persisted-index ANN dense-channel CTE chain (expects `corpus`);
    * terminal CTE `dtop` = (q_id, doc_id, adc_dist, rank ≤ kChannel),
    * so [[rrfCtes]] composes unchanged. The full [[denseRanksAnnIndex]]
    * derivation in SQL: hashed-TF 64-dim vectors, seed codebook
    * (vec_id < kCode, code = seed id — [[PqOps.trainCodebook]]'s
    * convention), per-subspace argmin code assignment, hyperplane
    * buckets ([[SimilarityOps.duckBucket]] — identical plane
    * literals), hamming-≤1 multiprobe candidacy as an INDEPENDENT
    * xor+popcount formulation of the Spark side's probe-array explode,
    * ADC terms summed by an ORDERED fold over s, self excluded,
    * (adc_dist ASC, nn_id ASC) tiebreak. `queryPredVec` is a predicate
    * over the query-side alias `d` (e.g. "d.vec_id < 8"). */
  def annDocCtes(queryPredVec: String, kChannel: Int, dims: Int = 64,
                 m: Int = 4, kCode: Int = 16, nPlanes: Int = 8): String = {
    val subDim = 64 / m
    def dotR(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, ${subDim + 1}), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])), (acc, x) -> acc + x)""".stripMargin
    s"""adtf AS (
       |  SELECT doc_id, ${Hashing.hash64Duck("w")} % $dims AS dim,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
       |  WHERE len(w) > 0 GROUP BY 1, 2),
       |abase AS (
       |  SELECT doc_id AS vec_id,
       |    list_transform(range(0, $dims), d ->
       |      CAST(coalesce(element_at(mp, d)[1], 0) AS DOUBLE)) AS emb
       |  FROM (SELECT doc_id, map_from_entries(list({'k': dim, 'v': tf})) AS mp
       |        FROM adtf GROUP BY 1)),
       |asubs AS (
       |  SELECT vec_id, s, emb[CAST(s * $subDim + 1 AS INT):CAST(s * $subDim + $subDim AS INT)] AS xs
       |  FROM abase, (SELECT unnest(range(0, $m)) AS s)),
       |acb AS (SELECT s, vec_id AS code, xs AS cs FROM asubs WHERE vec_id < $kCode),
       |aidists AS (
       |  SELECT d.vec_id, d.s, c.code,
       |    (${dotR("d.xs", "d.xs")} - 2.0 * ${dotR("d.xs", "c.cs")}) + ${dotR("c.cs", "c.cs")} AS dist
       |  FROM asubs d JOIN acb c ON d.s = c.s),
       |aicodes AS (
       |  SELECT vec_id, s, code
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |                                     ORDER BY dist ASC, code ASC) AS rn
       |        FROM aidists)
       |  WHERE rn = 1),
       |abucketed AS (
       |  SELECT vec_id, ${SimilarityOps.duckBucket(nPlanes)} AS bucket FROM abase),
       |aterms AS (
       |  SELECT d.vec_id AS q_id, w.vec_id AS nn_id, w.s,
       |    (${dotR("d.xs", "d.xs")} - 2.0 * ${dotR("d.xs", "c.cs")}) + ${dotR("c.cs", "c.cs")} AS term
       |  FROM asubs d
       |  JOIN abucketed db ON db.vec_id = d.vec_id
       |  JOIN aicodes w ON w.s = d.s AND w.vec_id <> d.vec_id
       |  JOIN abucketed wb ON wb.vec_id = w.vec_id
       |   AND bit_count(xor(wb.bucket, db.bucket)) <= 1
       |  JOIN acb c ON c.s = w.s AND c.code = w.code
       |  WHERE $queryPredVec),
       |ascored AS (
       |  SELECT q_id, nn_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY s)),
       |                (acc, x) -> acc + x) AS adc_dist
       |  FROM aterms GROUP BY 1, 2),
       |dtop AS (
       |  SELECT q_id, nn_id AS doc_id, adc_dist, rank FROM (
       |    SELECT q_id, nn_id, adc_dist,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY adc_dist ASC, nn_id ASC) AS BIGINT) AS rank
       |    FROM ascored)
       |  WHERE rank <= $kChannel)""".stripMargin
  }

  def hybridRrfIndexOracle(nQueries: Int = 8, kChannel: Int = 10,
                           k: Int = 5, dims: Int = 64, m: Int = 4,
                           kCode: Int = 16, nPlanes: Int = 8): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${sparseCtes(s"doc_id < $nQueries", kChannel)},
       |${annDocCtes(s"d.vec_id < $nQueries", kChannel, dims, m, kCode, nPlanes)},
       |${rrfCtes(k)}
       |SELECT q_id, doc_id, sparse_rank, dense_rank, rrf, rank FROM htop""".stripMargin

  def hybridRrfLshOracle(nQueries: Int = 8, kChannel: Int = 10, k: Int = 5,
                         dims: Int = 64, planes: Int = 8): String = {
    val pred = s"doc_id < $nQueries"
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${sparseCtes(pred, kChannel)},
       |${denseLshCtes(pred, kChannel, dims, planes)},
       |${rrfCtes(k)}
       |SELECT q_id, doc_id, sparse_rank, dense_rank, rrf, rank FROM htop""".stripMargin
  }

  /** RRF fusion CTEs over `stop` ⋈ `dtop`; terminal CTE `htop` =
    * (q_id, doc_id, sparse_rank, dense_rank, rrf, rank ≤ k). */
  def rrfCtes(k: Int): String =
    s"""fused AS (
       |  SELECT COALESCE(s.q_id, d.q_id) AS q_id,
       |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
       |    COALESCE(s.rank, CAST(-1 AS BIGINT)) AS sparse_rank,
       |    COALESCE(d.rank, CAST(-1 AS BIGINT)) AS dense_rank,
       |    COALESCE(CAST(1.0 AS DOUBLE)
       |        / (CAST(60.0 AS DOUBLE) + CAST(s.rank AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE))
       |    + COALESCE(CAST(1.0 AS DOUBLE)
       |        / (CAST(60.0 AS DOUBLE) + CAST(d.rank AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM stop s FULL JOIN dtop d
       |    ON s.q_id = d.q_id AND s.doc_id = d.doc_id),
       |htop AS (
       |  SELECT q_id, doc_id, sparse_rank, dense_rank, rrf, rank FROM (
       |    SELECT q_id, doc_id, sparse_rank, dense_rank, rrf,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
       |    FROM fused)
       |  WHERE rank <= $k)""".stripMargin

  def hybridRrfOracle(nQueries: Int = 8, kChannel: Int = 10, k: Int = 5,
                      dims: Int = 64): String = {
    val pred = s"doc_id < $nQueries"
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${sparseCtes(pred, kChannel)},
       |${denseCtes(pred, kChannel, dims)},
       |${rrfCtes(k)}
       |SELECT q_id, doc_id, sparse_rank, dense_rank, rrf, rank FROM htop""".stripMargin
  }

  def retrievalRecallOracle(kChannel: Int = 10, k: Int = 5,
                            dims: Int = 64, lsh: Boolean = false): String =
    retrievalRecallOracleOver(DedupOps.augmentedSql, "", kChannel, k, dims,
      lsh)

  /** Sampled twin — the SAME derivation over the co-addressed sampled
    * corpus CTE (terminal CTE is still `corpus`, so the whole chain
    * composes unchanged), with the knob as a lead column. */
  def retrievalRecallSampledOracle(kChannel: Int = 10, k: Int = 5,
                                   dims: Int = 64, sampleBuckets: Int = 128,
                                   seed: String = "42",
                                   lsh: Boolean = false): String =
    retrievalRecallOracleOver(
      DedupOps.coSampledAugmentedSql(sampleBuckets, seed),
      s"CAST($sampleBuckets AS BIGINT) AS sample_buckets, ",
      kChannel, k, dims, lsh)

  /** Recall oracle over the PRODUCTION dense channel
    * ([[retrievalRecallAnnIndex]]'s twin): same hits tail, dense CTE
    * chain = [[annDocCtes]] over the augmented corpus. */
  def retrievalRecallAnnIndexOracle(kChannel: Int = 10, k: Int = 5,
                                    dims: Int = 64, m: Int = 4,
                                    kCode: Int = 16,
                                    nPlanes: Int = 8): String =
    retrievalRecallOracleWith(DedupOps.augmentedSql, "",
      annDocCtes("d.vec_id >= 100000 AND d.vec_id < 100080", kChannel,
        dims, m, kCode, nPlanes),
      kChannel, k)

  private def retrievalRecallOracleOver(corpusCte: String, leadCols: String,
                                        kChannel: Int, k: Int, dims: Int,
                                        lsh: Boolean): String = {
    val pred = "doc_id >= 100000 AND doc_id < 100080"
    retrievalRecallOracleWith(corpusCte, leadCols,
      if (lsh) denseLshCtes(pred, kChannel, dims, 8)
      else denseCtes(pred, kChannel, dims),
      kChannel, k)
  }

  private def retrievalRecallOracleWith(corpusCte: String, leadCols: String,
                                        denseCteChain: String,
                                        kChannel: Int, k: Int): String = {
    val pred = "doc_id >= 100000 AND doc_id < 100080"
    s"""WITH $corpusCte,
       |${sparseCtes(pred, kChannel)},
       |$denseCteChain,
       |${rrfCtes(k)},
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
       |       FROM corpus WHERE $pred),
       |shits AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM stop
       |          WHERE rank <= $k AND doc_id = q_id - 100000),
       |dhits AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM dtop
       |          WHERE rank <= $k AND doc_id = q_id - 100000),
       |hhits AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM htop
       |          WHERE rank <= $k AND doc_id = q_id - 100000)
       |SELECT ${leadCols}channel, n_queries, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_queries AS DOUBLE) AS recall
       |FROM (
       |  SELECT 'sparse' AS channel, nq.n_queries, s.n_hits
       |  FROM shits s CROSS JOIN nq
       |  UNION ALL
       |  SELECT 'dense' AS channel, nq.n_queries, d.n_hits
       |  FROM dhits d CROSS JOIN nq
       |  UNION ALL
       |  SELECT 'hybrid' AS channel, nq.n_queries, h.n_hits
       |  FROM hhits h CROSS JOIN nq)""".stripMargin
  }
}
