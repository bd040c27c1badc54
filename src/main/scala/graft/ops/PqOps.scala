package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) over the embedding corpus — the missing
  * compression tier between the scalar int8 coder
  * ([[SimilarityOps.quantizeEmbeddings]], 4× compression, exact-ish
  * reconstruction) and raw vectors: split each vector into `m`
  * subspaces, quantize each subspace to one of `k` codewords, and store
  * `m` small codes per vector (for the defaults, 64 doubles → 4 bytes:
  * 128× compression). ADC (asymmetric distance computation) then scores
  * a query against the CODES alone via an m×k lookup table — the scan
  * never touches a stored vector, which is what makes IVF-PQ the
  * standard 100 TB ANN layout (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011). Nothing like this exists in
  * the reference (SURVEY.md §2.7) — it is part of the LLM-pipeline
  * extension surface, alongside [[SimilarityOps]] and [[SemanticOps]].
  *
  * Scale design (100 TB):
  *  - The codebook is m × k subvectors = metadata (collected once,
  *    embedded as literals — the same bounded-collect contract as
  *    [[SemanticOps]] seeds and the IVF anchors). Encoding is therefore
  *    MAP-SIDE: one narrow scan of the corpus, zero shuffles; the argmin
  *    over k codewords is a linear array fold per subspace (array +
  *    array_min + array_position — the 2^k when/otherwise trap is
  *    documented at [[SemanticOps.assign]]).
  *  - ADC scoring scans only the codes relation (m longs per vector, the
  *    thing you'd actually persist at scale) against a BROADCAST lookup
  *    table of nQueries × m × k doubles. Per-row work is m array
  *    lookups + m additions — no dot products, no vector reads. The
  *    top-k is the same bounded window as every other ANN query here.
  *  - Codewords are the k lowest-vec_id vectors' subvectors
  *    (deterministic seed codebook, bitwise-reproducible in DuckDB —
  *    same rationale as [[SemanticOps]]: one assignment pass is oracle
  *    land; a production run refines each subspace codebook with
  *    [[pqRefine]]'s Lloyd iterations, which is float-mean territory
  *    and spec-verified instead, see PqOpsSpec).
  *
  * Numerics contract (same as the rest of the similarity family): every
  * float reduction is a strict ascending left fold from 0.0 — the native
  * DotFold on the Spark side, `list_reduce(list_prepend(0.0, …))` on the
  * DuckDB side, and driver-side `foldLeft(0.0)` for the literal lookup
  * tables — so scores and distances hash-match bitwise. The squared
  * distance is composed as `(x·x − 2·x·c) + c·c` with identical
  * parenthesization in both engines.
  */
object PqOps {

  private def dot(a: Column, b: Column): Column =
    graft.functions.native.dotFold(a, b)

  /** Codebook: for each subspace s, codeword j is vector j's subspace
    * slice (j < k, cast to double). Driver-side rows are k — bounded
    * metadata, documented collect. Returns cb(s)(j) = subvector.
    */
  private def codebook(corpus: DataFrame, m: Int, subDim: Int, k: Int): Array[Array[Seq[Double]]] = {
    val seeds = corpus.filter(col("vec_id") < k).orderBy("vec_id")
      .select(col("emb")).collect().map(_.getSeq[Double](0))
    Array.tabulate(m)(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim).toSeq))
  }

  /** Fail fast on a geometry the 64-dim layout can't honor — a silent
    * `64 / m` truncation would drop trailing dimensions from every
    * subspace (recall loss nobody sees), the same class of hazard as
    * the `numPerm % 4` guard of the MinHash banding ([[DedupOps.bands]]).
    */
  private def requireGeometry(m: Int, k: Int): Unit = {
    require(m > 0 && 64 % m == 0, s"m must divide the 64 dims, got $m")
    require(k > 0, s"codebook size must be positive, got $k")
  }

  private def withEmb(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("emb", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("emb"))

  /** Wide encode: adds `code_s` (long, in [0, k)) and `qerr_s` (double,
    * the squared quantization error of subspace s) for each subspace.
    * Entirely map-side, via the native [[graft.functions.PqEncode]]
    * expression — ONE fused loop per row instead of the former m × k
    * unrolled codeword-distance expressions (at m=8/k=64 that unroll
    * paid a multi-second janino compile per stage — the dominant cost of
    * the PQ-family queries at small SF and pure overhead at 100 TB).
    * Bit-identical numerics (strict left folds, `(x·x − 2·x·c) + c·c`,
    * first-min argmin), so the DuckDB oracle hashes are unchanged.
    *
    * The struct materializes in its own projection; the per-subspace
    * extractions reference it as an attribute (CollapseProject keeps a
    * non-cheap multi-referenced producer), so the kernel runs once per
    * row, not once per extracted column.
    */
  private def encodeWide(corpus: DataFrame, cb: Array[Array[Seq[Double]]],
                         subDim: Int): DataFrame = {
    val m = cb.length
    val enc = graft.functions.native.pqEncode(col("emb"), cb, subDim)
    val orig = corpus.columns.map(col).toIndexedSeq
    val extra = cb.indices.flatMap(s => Seq(
      element_at(col("_pq").getField("qerrs"), s + 1).as(s"qerr_$s"),
      element_at(col("_pq").getField("codes"), s + 1).as(s"code_$s")))
    require(m > 0, "empty codebook")
    corpus.withColumn("_pq", enc).select(orig ++ extra: _*)
  }

  /** The seed codebook as a first-class artifact — train once (offline,
    * batch), then encode anywhere, including a STREAM: [[pqEncodeWith]]
    * is a pure projection, so it runs on a streaming DataFrame in
    * Append mode with zero state (spec-proven in PqOpsSpec). This
    * split is the production deployment shape: the codebook lives with
    * the model registry; ingestion encodes against it.
    */
  def trainCodebook(embeddings: DataFrame, m: Int = 4, k: Int = 16): Array[Array[Seq[Double]]] = {
    requireGeometry(m, k)
    codebook(withEmb(embeddings), m, 64 / m, k)
  }

  /** Encode against a FROZEN codebook — long form, one row per
    * (vector, subspace): (vec_id, sub, code, qerr). Works unchanged on
    * batch and streaming inputs (map-side projection, no shuffle).
    */
  def pqEncodeWith(embeddings: DataFrame, cb: Array[Array[Seq[Double]]]): DataFrame = {
    // a hand-built codebook must honor the same geometry trainCodebook
    // enforces — m not dividing 64 would silently truncate subspaces
    requireGeometry(cb.length, math.max(cb(0).length, 1))
    val corpus = withEmb(embeddings)
    val m = cb.length
    val subDim = 64 / m
    if (cb(0).isEmpty)
      return corpus.select(col("vec_id"), lit(0L).as("sub"),
        lit(0L).as("code"), lit(0.0).as("qerr")).limit(0)
    val pairs = (0 until m).map(s =>
      struct(lit(s.toLong).as("sub"), col(s"code_$s").as("code"), col(s"qerr_$s").as("qerr")))
    encodeWide(corpus, cb, subDim)
      .select(col("vec_id"), explode(array(pairs: _*)).as("sc"))
      .select(col("vec_id"), col("sc.sub"), col("sc.code"), col("sc.qerr"))
  }

  /** PQ codes of a batch corpus against its own seed codebook — the
    * oracle-checked composition of [[trainCodebook]] + [[pqEncodeWith]]
    * (scalar columns only — same convention as `minhash_signatures` /
    * `embedding_quantize`); the wide form inside is what ADC consumes
    * and what a table you'd persist at scale looks like.
    */
  def pqEncode(embeddings: DataFrame, m: Int = 4, k: Int = 16): DataFrame =
    pqEncodeWith(embeddings, trainCodebook(embeddings, m, k))

  /** ADC top-k: approximate inner-product neighbors from CODES alone.
    * Each of the nQueries query vectors (collected — bounded, like the
    * IVF query set) is turned into an m × k lookup table of
    * query-subspace · codeword inner products; the scan then scores
    * every database vector as the sum of m table lookups over its codes
    * (strict left fold from 0.0, see class doc) and keeps the top-k per
    * query. Output: (q_id, vec_id, score, rank).
    */
  def annPqAdc(embeddings: DataFrame, m: Int = 4, k: Int = 16,
               nQueries: Int = 10, topK: Int = 10): DataFrame = {
    requireGeometry(m, k)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = withEmb(embeddings)
    val subDim = 64 / m
    val cb = codebook(corpus, m, subDim, k)
    val queries = corpus.filter(col("vec_id") < nQueries).orderBy("vec_id")
      .select(col("vec_id"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    if (cb(0).isEmpty || queries.isEmpty)
      return corpus.select(col("vec_id").as("q_id"), col("vec_id"),
        lit(0.0).as("score"), lit(0L).as("rank")).limit(0)
    // nQueries × m × k doubles — the broadcast ADC tables.
    val luts: Seq[(Long, Seq[Seq[Double]])] = queries.toSeq.map { case (qid, q) =>
      (qid, (0 until m).map { s =>
        val qs = q.slice(s * subDim, (s + 1) * subDim)
        cb(s).toSeq.map(cw => qs.zip(cw).map(p => p._1 * p._2).foldLeft(0.0)(_ + _)): Seq[Double]
      }: Seq[Seq[Double]])
    }
    val lutDf = luts.toDF("q_id", "lut")
    val score = (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
      acc + element_at(element_at(col("lut"), s + 1), (col(s"code_$s") + 1).cast("int"))
    }
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    encodeWide(corpus, cb, subDim)
      .select(col("vec_id") +: (0 until m).map(s => col(s"code_$s")): _*)
      .crossJoin(broadcast(lutDf))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("q_id", "vec_id", "score", "rank")
  }

  /** Lloyd refinement of the seed codebook — the production training
    * step the oracle-checked queries skip (float MEAN accumulation order
    * is engine-specific; spec-verified instead, same contract as
    * [[SemanticOps.kmeansFit]]). Each iteration is one map-side code
    * assignment plus ONE partially-aggregated (sub, code, dim) mean —
    * the shuffle carries m × k × subDim cells, never vectors; the
    * driver holds the m × k × subDim codebook (metadata). Codewords
    * with no assigned vectors keep their previous value (the standard
    * empty-cell rule).
    */
  def pqRefine(embeddings: DataFrame, m: Int = 4, k: Int = 16,
               iters: Int = 2): Array[Array[Seq[Double]]] = {
    requireGeometry(m, k)
    val corpus = withEmb(embeddings)
    val subDim = 64 / m
    var cb = codebook(corpus, m, subDim, k)
    if (cb(0).isEmpty) return cb
    for (_ <- 0 until iters) {
      val coded = encodeWide(corpus, cb, subDim)
      val means = (0 until m).map { s =>
        coded.select(col(s"code_$s").as("code"),
            posexplode(slice(col("emb"), s * subDim + 1, subDim)))
          .groupBy("code", "pos").agg(avg("col").as("v"))
          .collect().map(r => ((r.getLong(0).toInt, r.getInt(1)), r.getDouble(2))).toMap
      }
      cb = Array.tabulate(m) { s =>
        Array.tabulate(k) { j =>
          val old = cb(s)(j)
          if (means(s).contains((j, 0)))
            (0 until subDim).map(d => means(s)((j, d))): Seq[Double]
          else old
        }
      }
    }
    cb
  }

  /** Mean squared quantization error of a codebook over the corpus —
    * the objective Lloyd descends; used by PqOpsSpec to assert the
    * refinement actually improves on the seed codebook.
    */
  def pqObjective(embeddings: DataFrame, cb: Array[Array[Seq[Double]]]): Double = {
    val corpus = withEmb(embeddings)
    val subDim = 64 / cb.length
    val total = cb.indices.foldLeft(lit(0.0)) { (acc, s) => acc + col(s"qerr_$s") }
    encodeWide(corpus, cb, subDim).select(avg(total)).head().getDouble(0)
  }

  /** IVF-PQ: the composed 100 TB ANN layout — the corpus is
    * partitioned into cells (the `label` column, as in
    * [[SimilarityOps.ivfTopK]]), and within the query's cell the scan
    * scores PQ CODES via the broadcast ADC tables. Cell pruning bounds
    * the candidates (corpus/|cells| per query), PQ bounds the bytes per
    * candidate (m longs) — neither the full corpus nor any stored
    * vector is read at query time. Output: (q_id, vec_id, score, rank).
    */
  def annIvfPq(embeddings: DataFrame, m: Int = 4, k: Int = 16,
               nQueries: Int = 10, topK: Int = 5): DataFrame = {
    requireGeometry(m, k)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = embeddings.withColumn("emb", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("label"), col("emb"))
    val subDim = 64 / m
    val cb = codebook(corpus, m, subDim, k)
    val queries = corpus.filter(col("vec_id") < nQueries).orderBy("vec_id")
      .select(col("vec_id"), col("label"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
    if (cb(0).isEmpty || queries.isEmpty)
      return corpus.select(col("vec_id").as("q_id"), col("vec_id"),
        lit(0.0).as("score"), lit(0L).as("rank")).limit(0)
    val luts: Seq[(Long, Int, Seq[Seq[Double]])] = queries.toSeq.map { case (qid, qlbl, q) =>
      (qid, qlbl, (0 until m).map { s =>
        val qs = q.slice(s * subDim, (s + 1) * subDim)
        cb(s).toSeq.map(cw => qs.zip(cw).map(p => p._1 * p._2).foldLeft(0.0)(_ + _)): Seq[Double]
      }: Seq[Seq[Double]])
    }
    val lutDf = luts.toDF("q_id", "q_label", "lut")
    val score = (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
      acc + element_at(element_at(col("lut"), s + 1), (col(s"code_$s") + 1).cast("int"))
    }
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    encodeWide(corpus, cb, subDim)
      .select(col("vec_id") +: col("label") +: (0 until m).map(s => col(s"code_$s")): _*)
      .join(broadcast(lutDf),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("q_id", "vec_id", "score", "rank")
  }

  /** Residual IVF-PQ — the textbook-faithful layout (Jégou et al. §IV):
    * each vector is encoded as the PQ codes of its RESIDUAL against its
    * cell's representative, which concentrates the quantizer's dynamic
    * range on within-cell variation (the part that actually
    * discriminates neighbors once the cell is chosen). The cell
    * representative is the cell's min-vec_id member (the deterministic
    * anchor of [[SimilarityOps.ivfTopKProbed]] — a float-mean centroid
    * could never hash-match an oracle), so the residual is one exact
    * IEEE subtraction per component. Queries probe their own cell and
    * score codes via a lookup table built from the QUERY's residual
    * against that same anchor — ADC approximates
    * (q − μ)·(x − μ) per cell. Output: (q_id, vec_id, score, rank).
    */
  def annIvfPqResidual(embeddings: DataFrame, m: Int = 4, k: Int = 16,
                       nQueries: Int = 10, topK: Int = 5): DataFrame = {
    requireGeometry(m, k)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.withColumn("emb", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("label"), col("emb"))
    val subDim = 64 / m
    // anchors: |cells| rows — bounded metadata, same collect contract as
    // the probed-IVF anchors
    val wCell = Window.partitionBy("label").orderBy(col("vec_id").asc)
    val anchors = base.withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("label").as("a_label"), col("emb").as("a_emb"))
    val corpus = base.join(broadcast(anchors), col("label") === col("a_label"))
      .withColumn("emb", zip_with(col("emb"), col("a_emb"), (x, a) => x - a))
      .select(col("vec_id"), col("label"), col("emb"))
    val cb = codebook(corpus, m, subDim, k) // residual-space seed codebook
    val anchorMap = anchors.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val queries = base.filter(col("vec_id") < nQueries).orderBy("vec_id")
      .select(col("vec_id"), col("label"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
    if (cb(0).isEmpty || queries.isEmpty)
      return base.select(col("vec_id").as("q_id"), col("vec_id"),
        lit(0.0).as("score"), lit(0L).as("rank")).limit(0)
    val luts: Seq[(Long, Int, Seq[Seq[Double]])] = queries.toSeq.map { case (qid, qlbl, q) =>
      val qr = q.zip(anchorMap(qlbl)).map(p => p._1 - p._2)
      (qid, qlbl, (0 until m).map { s =>
        val qs = qr.slice(s * subDim, (s + 1) * subDim)
        cb(s).toSeq.map(cw => qs.zip(cw).map(p => p._1 * p._2).foldLeft(0.0)(_ + _)): Seq[Double]
      }: Seq[Seq[Double]])
    }
    val lutDf = luts.toDF("q_id", "q_label", "lut")
    val score = (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
      acc + element_at(element_at(col("lut"), s + 1), (col(s"code_$s") + 1).cast("int"))
    }
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    encodeWide(corpus, cb, subDim)
      .select(col("vec_id") +: col("label") +: (0 until m).map(s => col(s"code_$s")): _*)
      .join(broadcast(lutDf),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("q_id", "vec_id", "score", "rank")
  }

  // --------------------------------------------------------------------
  // Persisted ANN index lifecycle (VERDICT r11 item 5): the embedding
  // twin of the lexical signature-index family — [[annIndex]] is what a
  // pipeline writes to parquet once per corpus slice (the
  // [[DedupOps.signatureIndex]] analogue), [[annIndexIncremental]]
  // queries a DELTA of later-arriving vectors against it without ever
  // touching the indexed slice's raw vectors (the
  // [[DedupOps.dedupIncremental]] analogue), and
  // [[graft.streaming.StreamingSemantic]]'s foreachBatch loop maintains
  // it batch-over-batch.
  // --------------------------------------------------------------------

  /** The persisted ANN INDEX for a corpus slice: one row per vector —
    * (vec_id, bucket, codes): the hyperplane-LSH routing bucket plus the
    * m PQ codes against a FROZEN codebook. Self-contained for ADC
    * (codes + the broadcast codebook reconstruct every codeword a query
    * needs), m longs + one bucket per vector — raw vectors are never
    * read again after indexing. Entirely map-side.
    */
  def annIndex(embeddings: DataFrame, cb: Array[Array[Seq[Double]]],
               nPlanes: Int = 8): DataFrame = {
    requireGeometry(cb.length, math.max(cb(0).length, 1))
    val m = cb.length
    val subDim = 64 / m
    val corpus = withEmb(embeddings)
    if (cb(0).isEmpty)
      return corpus.select(col("vec_id"), lit(0L).as("bucket"),
        array().cast("array<bigint>").as("codes")).limit(0)
    encodeWide(corpus, cb, subDim)
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
      .select(col("vec_id"), col("bucket"),
        array((0 until m).map(s => col(s"code_$s")): _*).as("codes"))
  }

  /** B9-incremental — query a DELTA slice (today's vectors) against a
    * persisted [[annIndex]] (the corpus so far) WITHOUT re-reading or
    * re-encoding the indexed corpus — the production append shape at
    * 100 TB: the index is append-only parquet, the codebook is frozen
    * (re-training would invalidate every stored code), and admitting
    * 100 GB of new vectors must not re-scan 100 TB of old ones.
    *
    * Candidates share the delta vector's LSH bucket (probe-1, the same
    * routing as [[SimilarityOps.embeddingNearDupLsh]]); each candidate
    * is scored by ASYMMETRIC distance computation from the index row's
    * CODES alone — Σ_s ((xs·xs − 2·xs·c_s) + c_s·c_s), the delta's raw
    * subvector against the candidate's reconstructed codeword — so
    * verification needs nothing but the index row and the broadcast
    * codebook. Output: one row per delta vector — (vec_id, nn_id,
    * adc_dist) with the ADC-nearest index vector (ties to the smaller
    * nn_id) and nn_id = -1 / null dist when its bucket has no index
    * entries yet.
    *
    * Scale shape: the join is bucket-keyed (bounded buckets — the
    * degenerate-bucket regime belongs to the fuse on the pair surface,
    * not here, because the delta side is increment-sized); the index
    * side moves (vec_id, bucket, m codes) rows, never vectors; the
    * codeword lookup is a literal-array element_at (broadcast metadata,
    * codegen'd); the per-pair fold is m strict left-assoc additions —
    * bit-identical to the oracle's ordered list_reduce.
    */
  def annIndexIncremental(index: DataFrame, delta: DataFrame,
                          cb: Array[Array[Seq[Double]]],
                          nPlanes: Int = 8): DataFrame = {
    val d = withEmb(delta)
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
      .select(col("vec_id").as("q_id"), col("emb"), col("bucket"))
    annIndexIncrementalProbed(index, delta, d, cb)
  }

  /** MULTI-PROBE [[annIndexIncremental]] — the recall lever for the
    * persisted-index path (VERDICT r12 item 1's "if the number is low"
    * branch — it is, see PLANS.md): each delta vector probes its own
    * bucket PLUS every hamming-1 neighbor (the [[SimilarityOps
    * .lshTopKMultiProbe]] expansion), so the ADC candidate set grows
    * (nPlanes+1)× and a nearest index vector separated by ONE hyperplane
    * is no longer an automatic miss. Probe buckets are pairwise distinct
    * and an index row has exactly one bucket, so no (q, nn) pair is
    * scored twice — no dedup step needed before the min pick. Same
    * output contract: orphans (no index row in ANY probed bucket) keep
    * their loud (-1, null) row.
    */
  def annIndexIncrementalMultiProbe(index: DataFrame, delta: DataFrame,
                                    cb: Array[Array[Seq[Double]]],
                                    nPlanes: Int = 8): DataFrame = {
    val probeArr = array((col("bucket") +: (0 until nPlanes)
      .map(p => expr(s"bucket ^ ${1L << p}"))): _*)
    val d = withEmb(delta)
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
      .select(col("vec_id").as("q_id"), col("emb"),
        explode(probeArr).as("bucket"))
    annIndexIncrementalProbed(index, delta, d, cb)
  }

  /** Shared core of the incremental path: join the delta's PROBE rows
    * (q_id, emb, bucket — one per probed bucket) to the index on the
    * bucket key, ADC-score each candidate from its codes + the broadcast
    * codebook, keep the min per delta vector, and LEFT-join back so
    * orphans survive as (-1, null). */
  private def annIndexIncrementalProbed(index: DataFrame, delta: DataFrame,
                                        probes: DataFrame,
                                        cb: Array[Array[Seq[Double]]]): DataFrame = {
    require(index.columns.sorted.sameElements(Array("bucket", "codes", "vec_id")),
      s"index must be an annIndex (vec_id, bucket, codes); got ${index.columns.mkString(",")}")
    requireGeometry(cb.length, math.max(cb(0).length, 1))
    val m = cb.length
    val subDim = 64 / m
    val idx = index.select(col("vec_id").as("nn_id"), col("bucket"), col("codes"))
    val dist = adcDistExpr(cb, m, subDim)
    // min(struct(adc_dist, nn_id)) ≡ the (adc_dist ASC, nn_id ASC)
    // row_number pick, but with map-side partial aggregation: the
    // exchange after the bucket join carries one partial min per
    // (q_id, partition) instead of every scored candidate (round 14 —
    // the same shuffle-volume fix as the recall truth side)
    val best = probes.join(idx, Seq("bucket"))
      .withColumn("adc_dist", dist)
      .groupBy("q_id")
      .agg(min(struct(col("adc_dist"), col("nn_id"))).as("m"))
      .select(col("q_id"), col("m.nn_id").as("nn_id"),
        col("m.adc_dist").as("adc_dist"))
    delta.select(col("vec_id"))
      .join(best.withColumnRenamed("q_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("nn_id"), lit(-1L)).as("nn_id"),
        col("adc_dist"))
  }

  /** The per-candidate ADC distance of the probed core — the query's
    * raw subvectors (`emb`) against the candidate's reconstructed
    * codewords (`codes` + the broadcast codebook), Σ_s ((xs·xs −
    * 2·xs·c_s) + c_s·c_s) as a strict left fold over s. Shared by the
    * nearest-neighbor pick and the top-k rank list so the two paths
    * are bit-identical per candidate by construction. */
  private def adcDistExpr(cb: Array[Array[Seq[Double]]], m: Int,
                          subDim: Int): Column =
    (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
      val xs = slice(col("emb"), s * subDim + 1, subDim)
      val cs = element_at(typedlit(cb(s).toSeq),
        (element_at(col("codes"), s + 1) + 1).cast("int"))
      acc + ((dot(xs, xs) - lit(2.0) * dot(xs, cs)) + dot(cs, cs))
    }

  /** TOP-K rank list over a persisted [[annIndex]] — the probed core's
    * retrieval contract reshaped for FUSION: instead of the single
    * nearest neighbor, each query vector gets its `k` ADC-nearest index
    * vectors as (q_id, nn_id, adc_dist, rank) with the house
    * (adc_dist ASC, nn_id ASC) tiebreak — exactly the ranked-frame
    * shape [[graft.ops.RetrievalOps.rrfFuse]]'s dense slot takes, so
    * the hybrid-retrieval fusion can run over the production
    * persisted-index ANN channel (VERDICT r14 item 5), not just the
    * brute-force baseline. Probing is hamming-1 multiprobe (the recall
    * recipe the knob sheet ships); probe buckets are pairwise distinct
    * and an index row has exactly one bucket, so no (q, nn) pair is
    * scored twice. `excludeSelf` drops the query's own index row when
    * the query set is a subset of the indexed corpus (the
    * self-retrieval audit shape). Queries whose probed buckets hold no
    * index rows are simply ABSENT (rank lists, not verdicts — fusion
    * treats absence as "not retrieved by this channel").
    *
    * Scale shape: identical to the probed core — bucket-keyed join,
    * codes-only index side, broadcast codebook — plus a per-query
    * rank window that WindowGroupLimit brackets around the q_id
    * exchange (no partition forwards more than k rows per query).
    */
  def annIndexTopK(index: DataFrame, delta: DataFrame,
                   cb: Array[Array[Seq[Double]]], nPlanes: Int = 8,
                   k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    require(index.columns.sorted.sameElements(Array("bucket", "codes", "vec_id")),
      s"index must be an annIndex (vec_id, bucket, codes); got ${index.columns.mkString(",")}")
    requireGeometry(cb.length, math.max(cb(0).length, 1))
    val m = cb.length
    val subDim = 64 / m
    val probeArr = array((col("bucket") +: (0 until nPlanes)
      .map(p => expr(s"bucket ^ ${1L << p}"))): _*)
    val probes = withEmb(delta)
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
      .select(col("vec_id").as("q_id"), col("emb"),
        explode(probeArr).as("bucket"))
    val idx = index.select(col("vec_id").as("nn_id"), col("bucket"),
      col("codes"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_dist").asc, col("nn_id").asc)
    probes.join(idx, Seq("bucket"))
      .filter(if (excludeSelf) col("nn_id") =!= col("q_id") else lit(true))
      .withColumn("adc_dist", adcDistExpr(cb, m, subDim))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "nn_id", "adc_dist", "rank")
  }

  /** The registered index/delta partition: codebook seeds (vec_id < k)
    * are always index-side — training on the index IS the frozen-
    * codebook contract — and every 4th later vector "arrives" as the
    * delta, so the split scales with the corpus at any SF. */
  def annSplitIsIndex(k: Int = 16): Column =
    col("vec_id") < k || col("vec_id") % 4 =!= 0

}
