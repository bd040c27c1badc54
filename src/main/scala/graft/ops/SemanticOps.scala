package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) dedup and decontamination — the SemDeDup
  * recipe (Abbas et al. 2023, arXiv:2303.09540): partition the corpus into
  * k centroid cells, then inside each cell drop every member whose cosine
  * to a kept member exceeds a threshold, keeping the members FARTHEST from
  * the centroid first (the paper's keep-low-centroid-similarity rule —
  * dup groups collapse onto their most "atypical" representative, which
  * preserves diversity better than keeping the medoid). None of this
  * exists in the reference (SURVEY.md §2.7) — it is part of the
  * LLM-pipeline extension surface, alongside [[SimilarityOps]].
  *
  * Scale design (100 TB):
  *  - Cluster ASSIGNMENT is map-side: the k centroids are collected to the
  *    driver (k × 64 doubles — metadata, exactly what any distributed
  *    k-means broadcasts per iteration) and embedded as literals, so the
  *    corpus is never shuffled to be labeled and the argmax is one
  *    codegen'd fold per row. k scales with corpus size (the paper uses
  *    ~N/10k clusters) keeping cells ~constant-sized, so the within-cell
  *    pair step is N × cellSize = O(N), never O(N²).
  *  - The within-cell self-join carries (vec_id, prio, emb, norm) and
  *    equi-joins on the cell id; verification is exact cosine on
  *    candidates only — the same bucket-then-verify shape as every other
  *    dedup family in this engine.
  *  - [[kmeansFit]] is real distributed Lloyd's: each iteration is one
  *    map-side assignment plus one partially-aggregated (cluster, dim)
  *    mean — the shuffle carries k × dims × partials, never vectors.
  *    It is spec-verified (not oracle-checked: float mean accumulation
  *    order is engine-specific); the ORACLE-checked queries use the
  *    deterministic seed-centroid assignment, which is one Lloyd
  *    assignment pass and bitwise-reproducible in DuckDB.
  *
  * Numerics: same contract as [[SimilarityOps]] — left-fold dot products
  * (native DotFold <-> DuckDB list_reduce), division only; centroid
  * literals round-trip exactly through Double.toString, so scores
  * hash-match bitwise.
  */
object SemanticOps {

  private def dot(a: Column, b: Column): Column =
    graft.functions.native.dotFold(a, b)

  /** Deterministic seed centroids: the k lowest-vec_id vectors (cast to
    * double) with their norms. Driver-side rows are k — bounded metadata,
    * documented collect.
    */
  private def seeds(corpus: DataFrame, k: Int): Array[(Seq[Double], Double)] =
    corpus.filter(col("vec_id") < k).orderBy("vec_id")
      .select(col("emb"), col("norm")).collect()
      .map(r => (r.getSeq[Double](0), r.getDouble(1)))

  /** Map-side argmax-cosine assignment against literal centroids.
    * The k scores go through an ARRAY + array_max/array_position argmax
    * (linear-size expression; a when/otherwise fold would reference its
    * accumulator twice per step — a 2^k tree that OOMs analysis at
    * k = 32). array_position returns the FIRST index of the max, so ties
    * keep the LOWEST seed id — identical to `row_number() OVER (ORDER BY
    * score DESC, seed ASC)`. Codegen CSEs the shared array, so the k
    * DotFolds evaluate once per row. Adds `cluster` (long) and `c_score`.
    */
  private def assign(df: DataFrame, cents: Array[(Seq[Double], Double)]): DataFrame = {
    val scores: Array[Column] = cents.map { case (emb, nrm) =>
      dot(col("emb"), typedlit(emb)) / (col("norm") * lit(nrm)) }
    df.withColumn("sc", array(scores.toIndexedSeq: _*))
      .withColumn("c_score", array_max(col("sc")))
      .withColumn("cluster", (array_position(col("sc"), col("c_score")) - 1).cast("long"))
      .drop("sc")
  }

  /** Corpus normalized and cluster-labeled. Takes the corpus AS GIVEN —
    * fixture augmentation (planted copies for the oracle-checked queries)
    * happens at the SparkEntry registration site, never inside the
    * operator, so production callers label exactly what they pass.
    */
  private def labeledCorpus(embeddings: DataFrame, k: Int): DataFrame = {
    val corpus = SimilarityOps.withNorm(embeddings)
      .select(col("vec_id"), col("emb"), col("norm"))
    val s = seeds(corpus, k)
    // An empty corpus has no seeds and dedups to empty — return the
    // output schema rather than letting the argmax fold throw on a
    // zero-length centroid list (EmptyInputSpec contract).
    if (s.isEmpty)
      corpus.withColumn("cluster", lit(0L)).withColumn("c_score", lit(0.0)).limit(0)
    else assign(corpus, s)
  }

  /** Cluster assignment + centroid similarity per vector — the SemDeDup
    * partition stage on its own (useful for cluster-size diagnostics).
    */
  def semanticClusters(embeddings: DataFrame, k: Int = 8): DataFrame =
    labeledCorpus(embeddings, k).select(col("vec_id"), col("cluster"), col("c_score"))

  /** SemDeDup survivors: within each cluster, rank members by centroid
    * similarity ASCENDING (farthest first — the paper's keep rule, vec_id
    * tiebreak) and drop every member whose cosine to a HIGHER-priority
    * member reaches `minCos`. Greedy-by-priority, matching the paper's
    * per-cluster sweep; the pair join is within-cluster only.
    */
  def semanticDedup(embeddings: DataFrame, k: Int = 8, minCos: Double = 0.99): DataFrame = {
    val w = Window.partitionBy("cluster").orderBy(col("c_score").asc, col("vec_id").asc)
    // Persisted: the ranked corpus feeds BOTH sides of the within-cluster
    // self-join AND the final anti-join — without it the scan + assignment
    // + rank window re-derive 3× (8 parquet scans observed). Same caller
    // contract as DedupOps.minhashPairs: the caller owns the cache
    // (`graft.QueryRun` counts and clears it after a registry query), and
    // long-lived sessions unpersist via spark.catalog.
    val ranked = labeledCorpus(embeddings, k)
      .withColumn("prio", row_number().over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Trimmed projections: the candidate join materializes cellSize²/2
    // rows per cell, each carrying two 64-dim arrays — every extra column
    // multiplies by the pair count, so c_score/vec_id stay out of the
    // sides that don't need them.
    val lhs = ranked.select(col("cluster"), col("prio"), col("emb"), col("norm"))
    val rhs = ranked.select(col("cluster").as("b_cluster"), col("prio").as("b_prio"),
      col("vec_id").as("dup_id"), col("emb").as("b_emb"), col("norm").as("b_norm"))
    val dups = lhs.join(rhs,
        col("cluster") === col("b_cluster") && col("prio") < col("b_prio"))
      .filter(dot(col("emb"), col("b_emb")) / (col("norm") * col("b_norm")) >= minCos)
      .select(col("dup_id")).distinct()
    // No broadcast hint on the anti-join: the dup set is output-sized (can
    // approach corpus size on a dup-heavy corpus); AQE auto-broadcasts it
    // at runtime when it is actually small.
    ranked.join(dups, col("vec_id") === col("dup_id"), "left_anti")
      .select(col("vec_id"), col("cluster"), col("c_score"))
  }

  /** Embeddings ∪ planted contamination: an exact copy of every eval-set
    * vector (vec_id % `evalMod` = 0) re-keyed to vec_id + 20001 — the
    * offset is ≡ 1 (mod 50), so every copy lands on the TRAIN side of the
    * eval/train split and must be caught by the cosine gate. The natural
    * corpus is near-orthogonal (max pairwise cos ≈ 0.51 at sf0.01), so
    * without planting, decontamination at realistic thresholds would be a
    * no-op; the oracle rebuilds the same corpus. FIXTURE helper for the
    * registered queries — operators never call it.
    */
  def contaminatedEmbeddings(embeddings: DataFrame, evalMod: Int = 50): DataFrame =
    embeddings.select("vec_id", "embedding")
      .unionAll(embeddings.filter(col("vec_id") % evalMod === 0)
        .select((col("vec_id") + 20001).as("vec_id"), col("embedding")))

  /** Semantic decontamination: drop every `train` vector whose cosine to
    * ANY `eval` (benchmark) vector reaches `minCos`. Both sides are
    * (vec_id, embedding) frames — the eval set is explicit, like the
    * streaming twin [[graft.streaming.StreamingSemantic.decontaminateStream]].
    * Eval is benchmark-sized and broadcast; the anti-join condition is
    * pure cosine, so the plan is a BroadcastNestedLoopJoin over a
    * metadata-sized build side — the embedding-space twin of
    * [[DedupOps.decontaminate]]'s 8-gram digests. Scale path when the
    * eval set outgrows a broadcast: [[semanticDecontaminateLsh]]
    * equi-joins on the hyperplane bucket first.
    */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame,
                            minCos: Double): DataFrame = {
    val t = SimilarityOps.withNorm(train)
      .select(col("vec_id"), col("emb"), col("norm"))
    val e = SimilarityOps.withNorm(eval)
      .select(col("vec_id").as("e_id"), col("emb").as("e_emb"), col("norm").as("e_norm"))
    t.join(broadcast(e),
        dot(col("emb"), col("e_emb")) / (col("norm") * col("e_norm")) >= minCos,
        "left_anti")
      .select(col("vec_id"))
  }

  /** Same-table convenience split: eval = vec_id % `evalMod` = 0 stands in
    * for the benchmark set (the registered-query shape).
    */
  def semanticDecontaminate(embeddings: DataFrame, minCos: Double = 0.99,
                            evalMod: Int = 50): DataFrame =
    semanticDecontaminate(
      embeddings.filter(col("vec_id") % evalMod =!= 0),
      embeddings.filter(col("vec_id") % evalMod === 0),
      minCos)

  /** LSH-bucketed semantic decontamination — the scale path: train and
    * eval both bucket on the sign-bit hyperplane signature, the anti-join
    * becomes an equi-join on the bucket with the cosine as a residual
    * predicate. Per-bucket candidates are O(corpus / 2^nPlanes); at the
    * near-1 thresholds decontamination uses, same-bucket recall is near-1
    * (cos ≥ 0.99 ⇒ angle ≤ ~8°). Deterministic planes — oracle-checkable.
    */
  def semanticDecontaminateLsh(train: DataFrame, eval: DataFrame,
                               minCos: Double, nPlanes: Int): DataFrame = {
    val t = SimilarityOps.withNorm(train)
      .select(col("vec_id"), col("emb"), col("norm"))
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
    val e = SimilarityOps.withNorm(eval)
      .select(col("vec_id").as("e_id"), col("emb"), col("norm"))
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
      .select(col("e_id"), col("emb").as("e_emb"),
        col("norm").as("e_norm"), col("bucket").as("e_bucket"))
    t.join(e,
        col("bucket") === col("e_bucket") &&
          dot(col("emb"), col("e_emb")) / (col("norm") * col("e_norm")) >= minCos,
        "left_anti")
      .select(col("vec_id"))
  }

  /** Same-table convenience split, mirroring [[semanticDecontaminate]]. */
  def semanticDecontaminateLsh(embeddings: DataFrame, minCos: Double = 0.99,
                               evalMod: Int = 50, nPlanes: Int = 8): DataFrame =
    semanticDecontaminateLsh(
      embeddings.filter(col("vec_id") % evalMod =!= 0),
      embeddings.filter(col("vec_id") % evalMod === 0),
      minCos, nPlanes)

  /** Measured DECONTAMINATION RECALL — the third member of the
    * evaluation suite (with [[graft.ops.SimilarityOps.annRecall]] and
    * [[graft.ops.DedupOps.dedupRecall]]): what fraction of the vectors
    * the EXACT gate removes ([[semanticDecontaminate]] — every train
    * vector with cos ≥ t to any eval vector) does the LSH-bucketed
    * scale path ([[semanticDecontaminateLsh]]) also remove? LSH removes
    * a SUBSET (it only tests same-bucket pairs), so the miss count is
    * precisely the bucket-recall loss at the configured threshold — the
    * number that justifies (or revokes) running the cheap path at
    * 100 TB. Input is the raw embeddings table; contamination planting
    * happens here exactly as at the registered decontamination query
    * sites. One summary row, nullif-guarded division.
    */
  def decontaminateRecall(embeddings: DataFrame, evalMod: Int = 50): DataFrame = {
    // The planted copies are keyed +20001; they must land TRAIN-side
    // (vec_id % evalMod ≠ 0) for the recall denominator to be the planted
    // set. 20001 ≡ 1 (mod 50) guarantees this for the default; any other
    // evalMod must preserve it or the measurement is against a mis-split.
    require(20001 % evalMod != 0,
      s"decontaminateRecall: evalMod=$evalMod divides the 20001 planting " +
        "offset — planted copies would land eval-side, voiding the recall")
    val corpus = contaminatedEmbeddings(embeddings, evalMod)
    val train = corpus.filter(col("vec_id") % evalMod =!= 0)
      .select(col("vec_id").as("t_id"))
    val exactSurvivors = semanticDecontaminate(corpus, evalMod = evalMod)
      .select("vec_id")
    val lshSurvivors = semanticDecontaminateLsh(corpus, evalMod = evalMod)
      .select(col("vec_id").as("l_id"))
    val removedExact = train
      .join(exactSurvivors, col("t_id") === col("vec_id"), "left_anti")
    val removedLsh = train
      .join(lshSurvivors, col("t_id") === col("l_id"), "left_anti")
      .select(col("t_id").as("r_id"), lit(1L).as("hit"))
    removedExact
      .join(removedLsh, col("t_id") === col("r_id"), "left")
      .agg(count(lit(1)).as("n_removed_exact"),
        coalesce(sum("hit"), lit(0L)).as("n_removed_lsh"))
      .select(col("n_removed_exact").cast("long").as("n_removed_exact"),
        col("n_removed_lsh").cast("long").as("n_removed_lsh"),
        (col("n_removed_lsh").cast("double") /
          nullif(col("n_removed_exact").cast("double"), lit(0.0))).as("recall"))
  }

  /** Hashing-trick document embedding, exploded form (Weinberger et al.
    * 2009 feature hashing): token → dimension via the engine's
    * cross-engine 60-bit md5 hash mod `dims`, value = term frequency.
    * Model-free and fully deterministic, so the TEXT corpus can flow into
    * the semantic family (clusters / dedup / ANN) without an external
    * encoder — near-dup documents have near-parallel TF vectors. One
    * count shuffle on (doc_id, dim); the oracle mirrors the hash exactly.
    */
  def hashedTf(documents: DataFrame, dims: Int = 64): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"),
        (graft.functions.Hashing.hash64(col("word")) % dims).as("dim"))
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("tf"))

  /** Dense-vector form of [[hashedTf]]: (vec_id, embedding float[dims]),
    * directly consumable by [[semanticClusters]]/[[semanticDedup]] and
    * the [[SimilarityOps]] ANN family. The map side carries only the
    * non-zero (dim, tf) entries; densification happens after the count
    * shuffle, per doc.
    */
  def hashedEmbeddings(documents: DataFrame, dims: Int = 64): DataFrame =
    hashedTf(documents, dims)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("tf")))).as("m"))
      .select(col("doc_id").as("vec_id"), expr(
        s"transform(sequence(0, ${dims - 1}), d -> CAST(coalesce(element_at(m, CAST(d AS BIGINT)), 0L) AS FLOAT))")
        .as("embedding"))

  /** Cluster-capped diversity sampling — the balancing step that follows
    * SemDeDup in a curation pipeline (DataComp-style cluster balancing):
    * cap every semantic cluster at `cap` members so over-represented
    * regions of embedding space can't dominate the training mix. Members
    * are picked in CONTENT-ADDRESSED order (md5 hex chars 5-8 of vec_id —
    * independent of the [[graft.ops.TextOps.hashSplit]] chars 1-2 and the
    * sourceMix chars 3-4, so capping never biases split or mix), vec_id
    * tiebreak — never rand(), identical under retry/speculation.
    *
    * Plan shape: the map-side seed-centroid assignment of
    * [[semanticClusters]], then ONE window shuffle on cluster. Cluster
    * sizes are bounded by the SemDeDup operating discipline (k grows with
    * the corpus, cells ~constant), so no window partition is ever
    * data-sized.
    */
  def clusterCapSample(embeddings: DataFrame, k: Int = 8, cap: Int = 32): DataFrame = {
    val pick = conv(substring(md5(col("vec_id").cast("string")), 5, 4), 16, 10)
      .cast("long")
    labeledCorpus(embeddings, k)
      .select(col("vec_id"), col("cluster"), pick.as("pick"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("pick"), col("vec_id"))))
      .filter(col("rn") <= cap)
      .select(col("vec_id"), col("cluster"), col("rn").cast("long").as("rn"))
  }

  // ---------------------------------------------------------------------
  // Nearest-centroid (Rocchio) text classifier over hashed-TF features —
  // the TRAINABLE counterpart to the rule-based gates (lang-id heuristic,
  // Gopher battery): train per-class summed term-frequency centroids on a
  // labeled split, classify by cosine argmax. This is the classic
  // fastText-adjacent baseline that is exactly reproducible across
  // engines: centroid weights are EXACT integer count sums
  // (order-independent — no float-fold contract needed on the hot path),
  // doc·centroid dot products are exact int64 sums, and the only float
  // ops are one sqrt each side of a single division — all IEEE-exact.
  //
  // Scale design (100 TB): the model is (|classes| × ≤dims) rows —
  // metadata — and BROADCASTS to scoring; training is one count shuffle
  // on (label, dim) with map-side partial aggregation; scoring moves the
  // corpus only as (doc_id, dim, count) rows through one count shuffle +
  // one (doc_id, label) reduction. Int64 headroom: dot = Σ_dims c·w needs
  // c·w·dims < 2^63 — safe through ~1e12-token classes at ~1e3-token
  // docs; beyond that, shard classes or rescale counts.
  // ---------------------------------------------------------------------

  /** Train: per-class hashed-TF centroid (label, dim, w) with w an exact
    * integer count sum, plus the class norm (sqrt of the dim-ordered fold
    * of w² as doubles — w² alone can overflow int64 at corpus scale).
    */
  def centroidTrain(labeled: DataFrame, dims: Int = 4096,
                    labelCol: String = "lang"): DataFrame =
    hashedTokensBy(
      labeled.select(col(labelCol).as("label"), col("text")), dims, "label")
      .groupBy("label", "dim").agg(count(lit(1)).as("w"))

  /** Classify: cosine argmax over the broadcast class centroids, label
    * ASC tiebreak. Returns (doc_id, label = actual, pred, score).
    */
  def centroidClassify(model: DataFrame, docs: DataFrame, dims: Int = 4096,
                       labelCol: String = "lang"): DataFrame = {
    // class norms: ≤ dims values per class — fold in dim order (float
    // addition does not commute; same contract as every similarity fold)
    val norms = model.groupBy("label").agg(
      expr("""sqrt(aggregate(transform(array_sort(collect_list(struct(dim, w))),
             |  x -> CAST(x.w AS DOUBLE) * CAST(x.w AS DOUBLE)),
             |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))""".stripMargin).as("cnorm"))
    val feats = hashedTokens(docs, dims)
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("c"))
    val docNorm = feats.groupBy("doc_id")
      .agg(sum(col("c") * col("c")).as("n2")) // exact int64, order-free
    val scored = feats
      .join(broadcast(model), Seq("dim"))
      .groupBy("doc_id", "label")
      .agg(sum(col("c") * col("w")).as("dot")) // exact int64, order-free
      .join(docNorm, Seq("doc_id"))
      .join(broadcast(norms), Seq("label"))
      .select(col("doc_id"), col("label"),
        (col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * col("cnorm"))).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("label"))
    scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(docs.select(col("doc_id"), col(labelCol).as("actual")), Seq("doc_id"))
      .select(col("doc_id"), col("actual"), col("label").as("pred"), col("score"))
  }

  /** Registered `centroid_classify`: train on doc_id % 10 != 0, predict
    * the `lang` of the held-out tenth — the distilled-classifier twin of
    * the rule-based `lang_id`. */
  def centroidClassifyHeldout(documents: DataFrame, dims: Int = 4096): DataFrame =
    centroidClassify(
      centroidTrain(documents.filter(col("doc_id") % 10 =!= 0), dims),
      documents.filter(col("doc_id") % 10 === 0), dims)

  /** Held-out confusion matrix (actual × pred counts) — the evaluation
    * artifact a model-gated pipeline monitors; one count-sized aggregate
    * on top of [[centroidClassifyHeldout]]. */
  def centroidConfusion(documents: DataFrame, dims: Int = 4096): DataFrame =
    centroidClassifyHeldout(documents, dims)
      .groupBy("actual", "pred").agg(count(lit(1)).as("n"))

  /** Distributed Lloyd's k-means over the embedding column. Returns the
    * final centroids (k × dims). Per iteration: map-side literal-centroid
    * assignment (zero shuffle), then one (cluster, dim) mean whose shuffle
    * carries k × dims partially-aggregated cells per task — never vectors.
    * Empty clusters keep their previous centroid. Init = the k lowest-
    * vec_id vectors (deterministic; k-means++ would add one pass per seed).
    * Spec-verified ([[graft.SemanticOpsSpec]]): float mean accumulation
    * order is engine-specific, so there is no bitwise DuckDB oracle — the
    * oracle-checked queries use the one-pass seed assignment above.
    */
  def kmeansFit(embeddings: DataFrame, k: Int = 8, iters: Int = 3): Array[Seq[Double]] = {
    val corpus = SimilarityOps.withNorm(embeddings)
      .select(col("vec_id"), col("emb"), col("norm"))
    var cents: Array[(Seq[Double], Double)] = seeds(corpus, k)
    require(cents.nonEmpty, s"kmeansFit needs at least one seed vector (vec_id < $k); corpus is empty")
    for (_ <- 1 to iters) {
      val means = assign(corpus, cents)
        .select(col("cluster"), posexplode(col("emb")))
        .groupBy("cluster", "pos").agg(avg("col").as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (c, rows) =>
          c.toInt -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      cents = cents.zipWithIndex.map { case (old, i) =>
        means.get(i).map { m =>
          val n = math.sqrt(m.foldLeft(0.0)((acc, x) => acc + x * x))
          (m, n)
        }.getOrElse(old)
      }
    }
    cents.map(_._1)
  }

  /** Assignment of every vector to its nearest (max-cosine) centroid from
    * [[kmeansFit]] — map-side, zero shuffle.
    */
  def kmeansAssign(embeddings: DataFrame, centroids: Array[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "kmeansAssign needs at least one centroid")
    val cents = centroids.map { m =>
      (m, math.sqrt(m.foldLeft(0.0)((acc, x) => acc + x * x))) }
    assign(SimilarityOps.withNorm(embeddings)
        .select(col("vec_id"), col("emb"), col("norm")), cents)
      .select(col("vec_id"), col("cluster"), col("c_score"))
  }

  // ---------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  // arXiv:2302.03169): score every raw-corpus document by how much more
  // likely its hashed-n-gram features are under a TARGET distribution
  // (the high-quality reference set) than under the raw distribution, then
  // keep the top-scoring documents. The published form sums per-feature
  // LOG ratios; ln()'s last ulp is engine-specific (the same reasoning as
  // [[graft.ops.TextOps.lmLikelihood]]), so the oracle-checked score is
  // the per-token MEAN of the raw importance ratios — transcendental-free,
  // monotone in the same direction, gate-equivalent for selection.
  //
  // Scale design (100 TB): both distributions are `dims`-sized aggregates
  // (partial map-side combine; the shuffle carries dims×tasks cells, never
  // tokens). The ratio table is dims rows → BROADCAST to the per-doc
  // feature join, so the corpus shuffles only skinny (doc_id, dim, count)
  // rows — document text never moves. The per-doc reduction is an ORDERED
  // left fold over dim (float addition does not commute — the contract
  // shared with every reduction in the similarity family).
  // ---------------------------------------------------------------------

  /** Hashed-unigram tokens keyed by `keyCols` — the ONE tokenization +
    * feature-hash pipeline shared by the DSIR family and the centroid
    * classifier (a change here moves every hashed-TF consumer together).
    */
  private[ops] def hashedTokensBy(docs: DataFrame, dims: Int,
                                  keyCols: String*): DataFrame =
    docs
      .select(keyCols.map(col) :+
        explode(split(col("text"), " ", -1)).as("word"): _*)
      .filter(length(col("word")) > 0)
      .select(keyCols.map(col) :+
        (graft.functions.Hashing.hash64(col("word")) % dims).as("dim"): _*)

  private def hashedTokens(docs: DataFrame, dims: Int): DataFrame =
    hashedTokensBy(docs, dims, "doc_id")

  /** Smoothed ratio table from already-aggregated distributions —
    * coalesce(sum, 0): an EMPTY distribution side (degenerate config,
    * e.g. empty target) yields defined smoothed ratios instead of nulls
    * (EmptyInputSpec contract); no-op whenever the side has any tokens.
    */
  private def ratioFrom(rdist: DataFrame, tdist: DataFrame, dims: Int): DataFrame =
    rdist
      .join(tdist, Seq("dim"), "left")
      .crossJoin(tdist.agg(coalesce(sum(col("cnt_t")), lit(0L)).as("n_t")))
      .crossJoin(rdist.agg(coalesce(sum(col("cnt_r")), lit(0L)).as("n_r")))
      .select(col("dim"),
        ((coalesce(col("cnt_t"), lit(0L)) + 1L).cast("double") *
          (col("n_r") + dims).cast("double") /
          ((col("cnt_r") + 1L).cast("double") *
            (col("n_t") + dims).cast("double"))).as("ratio"))

  /** The FROZEN half of DSIR: the dims-sized (dim, ratio) importance
    * table — smoothed target-likelihood / raw-likelihood per hashed
    * feature. This is the artifact a production pipeline trains once on a
    * (raw sample, target) pair, persists, and reuses across batch runs
    * and streaming triggers ([[graft.streaming.StreamingText.dsirScoreStream]]).
    * Products are exact-int sums cast to double BEFORE multiplying (at
    * 100 TB the cross product overflows long); op order (a*b)/(c*d) is
    * mirrored textually in the oracle so IEEE rounding agrees bitwise.
    */
  def dsirRatioTable(raw: DataFrame, target: DataFrame, dims: Int = 4096): DataFrame =
    ratioFrom(
      hashedTokens(raw, dims).groupBy("dim").agg(count(lit(1)).as("cnt_r")),
      hashedTokens(target, dims).groupBy("dim").agg(count(lit(1)).as("cnt_t")),
      dims)

  /** Per-document DSIR importance scores for `raw` documents against the
    * `target` reference set. Laplace-smoothed feature distributions
    * (`+1` count, `+dims` total) keep every ratio finite and defined for
    * features absent from the target. Returns
    * (doc_id, n_dims, n_toks, score_sum, score_avg) where score_avg is
    * the per-token mean importance ratio — rank on it descending.
    *
    * The raw corpus is tokenized ONCE: the per-doc feats frame is
    * persisted (skinny (doc_id, dim, count) rows — never text) and the
    * raw distribution derives from it by a second dims-sized aggregate,
    * so the explode+hash map stage does not run twice.
    *
    * CACHE-LIFETIME CONTRACT: this method persists an intermediate that
    * it cannot unpersist itself (the result is lazy; dropping the cache
    * before the caller materializes it would re-run the tokenize stage
    * twice and defeat the persist). Callers that invoke this repeatedly
    * in a long-lived session must either clear the cache after
    * materializing each result (for a registry query `graft.QueryRun`,
    * the one place that counts and clears cached state, does this) or use
    * [[dsirScoresWithHandle]] and unpersist the returned handle
    * themselves.
    */
  def dsirScores(raw: DataFrame, target: DataFrame, dims: Int = 4096): DataFrame =
    dsirScoresWithHandle(raw, target, dims)._1

  /** [[dsirScores]] variant for callers that manage cache lifetime
    * explicitly: returns (scores, persistedFeats). After materializing
    * `scores` (count/write/collect), call `persistedFeats.unpersist()`
    * to release the cached tokenize stage — no session-wide
    * clearCache() needed. */
  def dsirScoresWithHandle(raw: DataFrame, target: DataFrame,
                           dims: Int = 4096): (DataFrame, DataFrame) = {
    val feats = hashedTokens(raw, dims)
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("c"))
      .persist()
    val rdist = feats.groupBy("dim")
      .agg(coalesce(sum(col("c")), lit(0L)).as("cnt_r"))
    val tdist = hashedTokens(target, dims).groupBy("dim")
      .agg(count(lit(1)).as("cnt_t"))
    val ratios = ratioFrom(rdist, tdist, dims)
    val scores = feats
      .join(broadcast(ratios), Seq("dim"))
      .withColumn("v", col("c").cast("double") * col("ratio"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("c")).as("n_toks"),
        expr("""aggregate(transform(array_sort(collect_list(struct(dim, v))),
               |  x -> x.v), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
          .as("score_sum"))
      .select(col("doc_id"), col("n_dims"), col("n_toks"),
        col("score_sum"), (col("score_sum") / col("n_toks")).as("score_avg"))
    (scores, feats)
  }

  /** Score arbitrary documents against an already-materialized (FROZEN)
    * ratio table — the form a persisted DSIR model or a streaming
    * foreachBatch twin consumes. Features absent from the table (never
    * seen when the model was trained) take ratio 0.0 exactly via the left
    * join's coalesce and are counted in `oov` — the same exact-floor
    * contract as [[graft.ops.TextOps.scoreAgainstLm]] (a smooth backoff
    * needs transcendentals; the floor is bitwise and gate-equivalent).
    * On in-vocabulary input this agrees with [[dsirScores]] except for
    * the extra oov column (spec-asserted, [[graft.CurationSpec]]).
    */
  def scoreAgainstRatios(ratios: DataFrame, docs: DataFrame,
                         dims: Int = 4096): DataFrame =
    hashedTokens(docs, dims).groupBy("doc_id", "dim").agg(count(lit(1)).as("c"))
      .join(broadcast(ratios), Seq("dim"), "left")
      .withColumn("v", col("c").cast("double") * coalesce(col("ratio"), lit(0.0)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("c")).as("n_toks"),
        sum(when(col("ratio").isNull, col("c")).otherwise(0L)).as("oov"),
        expr("""aggregate(transform(array_sort(collect_list(struct(dim, v))),
               |  x -> x.v), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
          .as("score_sum"))
      .select(col("doc_id"), col("n_dims"), col("n_toks"), col("oov"),
        col("score_sum"), (col("score_sum") / col("n_toks")).as("score_avg"))

  /** The selection half of DSIR: top-`k` raw documents by importance
    * score. Total order (score_avg DESC, doc_id ASC) → deterministic set;
    * plans as TakeOrderedAndProject (per-partition top-k + driver merge of
    * k×partitions rows — no global sort at 100 TB).
    */
  def dsirSelect(raw: DataFrame, target: DataFrame,
                 k: Int = 100, dims: Int = 4096): DataFrame =
    dsirScores(raw, target, dims)
      .orderBy(col("score_avg").desc, col("doc_id"))
      .limit(k)

  /** CONTRASTIVE TRIPLET MINING — training data for an embedding model
    * mined from the corpus itself (the SimCSE/E5-style weak-supervision
    * recipe): every verified near-duplicate pair ([[DedupOps
    * .minhashPairs]] — banded LSH candidates, exact-Jaccard verified)
    * becomes an (anchor, positive); the negative is a deterministic
    * BUCKET-ROUTED pick from the rest of the corpus — anchor routes to
    * bucket hash('neg:'||anchor) % `buckets`, candidates are the docs
    * whose own content-addressed bucket matches, and the winner is the
    * smallest (pick-hash, doc_id) among them after excluding the
    * anchor, the positive, and every verified near-dup of the anchor
    * (so a "negative" is never secretly a positive).
    *
    * Determinism: every choice is a hash of ids — partitioning-,
    * retry- and speculation-invariant (the [[clusterCapSample]]
    * discipline; never rand()).
    *
    * Scale: pairs are the banded-LSH output (never all-pairs); the
    * negative join is ONE equi-join on bucket, so its volume is
    * anchors × corpus/`buckets` — `buckets` is the knob that keeps the
    * candidate pool ~constant as the corpus grows (size it to
    * corpus/1k-ish); the argmin is a WindowGroupLimit-bracketed rank-1
    * window per (anchor, positive). Output: (anchor_id, positive_id,
    * negative_id, jaccard).
    *
    * DROP CONTRACT: a verified
    * (anchor, positive) pair is SILENTLY ABSENT from the output when
    * the anchor's routed bucket holds no eligible negative (every
    * candidate in the bucket is the anchor, the positive, or a
    * verified near-dup of the anchor — likely only when `buckets` is
    * large relative to the corpus, or the corpus is tiny/skewed). The
    * DuckDB twin drops identically, so correctness rows stay green
    * either way, but training-data coverage is a number a pipeline
    * must WATCH, not assume: the registered `triplet_coverage` row
    * ([[tripletCoverage]]) surfaces (n_pairs, n_triplets, n_dropped)
    * so a nonzero drop is visible in the same oracle-checked ledger as
    * the triplets themselves. (A deterministic fallback probe to a
    * second bucket was considered and rejected: it would double the
    * negative join's candidate volume for the rare empty-bucket case
    * while changing results under the exact conditions — tiny corpora
    * — where an auditor most wants the two engines trivially
    * comparable. Size `buckets` to the corpus instead; the coverage
    * row is the guard.)
    *
    * LIFECYCLE: this method EAGERLY EXECUTES (the pair
    * surface and the returned frame are materialized with count()
    * inside the call — plan-only consumers pay full execution at call
    * time) and returns a PERSISTED DataFrame the CALLER owns and must
    * unpersist — the same eager-materialize contract as [[bm25Prf]] /
    * [[DedupOps.dedupIncremental]].
    */
  def tripletMining(documents: DataFrame, buckets: Int = 64): DataFrame = {
    // PIN the banded pair surface (cached because reused):
    // [[tripletsFromPairs]] references `pairs` THREE times
    // (anchor list + both directions of the near-dup exclusion), and
    // unpinned each reference re-ran the full candidate self-join +
    // Jaccard verify (~3× the dominant cost; 1456 tasks measured at
    // sf0.1). The pair list is pair-count-bounded — tiny relative to
    // the corpus — so this is the same eager-materialize lifecycle as
    // [[tripletCoverage]] / [[graft.ops.RetrievalOps.bm25Prf]].
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = DedupOps.augmented(documents)
    val pairs = DedupOps.minhashPairs(corpus).persist(lvl)
    try {
      pairs.count()
      val out = tripletsFromPairs(pairs, corpus, buckets).persist(lvl)
      out.count() // materialize while the pair surface is still cached
      out
    } finally pairs.unpersist()
  }

  /** Coverage ledger for [[tripletMining]]'s drop contract: one row —
    * (n_pairs, n_triplets, n_dropped) — where n_dropped counts the
    * verified pairs whose routed bucket yielded no eligible negative.
    * The banded pair surface is computed ONCE and shared by both
    * counts (pinned for the duration — queries×bands-bounded rows, the
    * [[graft.ops.RetrievalOps.bm25Prf]] lifecycle). */
  def tripletCoverage(documents: DataFrame, buckets: Int = 64): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = DedupOps.augmented(documents)
    val pairs = DedupOps.minhashPairs(corpus).persist(lvl)
    try {
      pairs.count()
      val out = pairs.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(tripletsFromPairs(pairs, corpus, buckets)
          .agg(count(lit(1)).as("n_triplets")))
        .select(col("n_pairs"), col("n_triplets"),
          (col("n_pairs") - col("n_triplets")).as("n_dropped"))
        .persist(lvl)
      out.count() // materialize while the pair surface is still cached
      out
    } finally pairs.unpersist()
  }

  private def tripletsFromPairs(pairs: DataFrame, corpus: DataFrame,
                                buckets: Int): DataFrame = {
    import graft.functions.Hashing.hash64
    val anch = pairs.select(
      col("doc_a").as("anchor_id"), col("doc_b").as("positive_id"),
      col("jaccard"),
      (hash64(concat(lit("neg:"), col("doc_a").cast("string"))) % buckets)
        .as("tb"))
    val negpool = corpus.select(col("doc_id").as("cand"),
      (hash64(col("doc_id").cast("string")) % buckets).as("bucket"))
    val nearDups = pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .unionAll(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))
    val w = Window.partitionBy("anchor_id", "positive_id")
      .orderBy(col("pick"), col("cand"))
    anch.join(negpool, col("tb") === col("bucket"))
      .filter(col("cand") =!= col("anchor_id") &&
        col("cand") =!= col("positive_id"))
      .join(nearDups,
        col("anchor_id") === col("x") && col("cand") === col("y"),
        "left_anti")
      .withColumn("pick", hash64(concat(col("anchor_id").cast("string"),
        lit(":"), col("cand").cast("string"))))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("anchor_id"), col("positive_id"),
        col("cand").as("negative_id"), col("jaccard"))
  }

}
