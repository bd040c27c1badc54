package graft.oracle

import graft.ops.RetrievalOps.denseLshCoefs
import graft.oracle.DuckSql.{orderedSum, topK, words}

/** DuckDB oracles of the retrieval family (`RetrievalOps`): the sparse
  * (BM25), dense and LSH channels as CTE chains, reciprocal-rank fusion,
  * pseudo-relevance feedback and the recall audits composed from them.
  */
object RetrievalOracles {

  /** Sparse-channel CTE chain (expects a `corpus(doc_id, text)` CTE in
    * scope); terminal CTE `stop` = (q_id, doc_id, n_terms, score,
    * rank ≤ kChannel). Same semi-join vocabulary filter, single-IEEE-op
    * composition, term-ordered left fold and (score DESC, doc_id ASC)
    * tiebreak as [[RetrievalOps.bm25Ranks]]. */
  private[oracle] def sparseCtes(queryPred: String, kChannel: Int): String =
    sparseChain("", qtermsBody(queryPred), kChannel)

  private def qtermsBody(queryPred: String): String =
    s"SELECT DISTINCT doc_id AS q_id, unnest($words) AS word FROM corpus WHERE $queryPred"

  /** The sparse chain with a caller-supplied query-term CTE body and a
    * name suffix, so a second scoring pass (PRF) can coexist with the
    * first in one statement. */
  private def sparseChain(sfx: String, qtermsSql: String, kChannel: Int): String =
    s"""qterms$sfx AS (
       |  $qtermsSql),
       |toks$sfx AS (
       |  SELECT doc_id, word FROM ($corpusTokens)
       |  WHERE word IN (SELECT word FROM qterms$sfx)),
       |tf$sfx AS (SELECT doc_id, word, count(*) AS tf FROM toks$sfx GROUP BY 1, 2),
       |df$sfx AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks$sfx GROUP BY 1),
       |dl$sfx AS (SELECT doc_id, CAST(len($words) AS BIGINT) AS dl FROM corpus),
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
       |    ${orderedSum("c", "word")} AS score
       |  FROM contribs$sfx GROUP BY 1, 2),
       |stop$sfx AS (
       |${channelTop("n_terms, score", s"sscored$sfx", "score DESC, doc_id ASC", kChannel)})""".stripMargin

  /** `(doc_id, word)`: the space tokens of every `corpus` document. */
  private val corpusTokens: String =
    s"SELECT doc_id, unnest($words) AS word FROM corpus"

  /** A channel's ranked list: each query's top `k` of `from`, as
    * `(q_id, doc_id, cols, rank)`. */
  private def channelTop(cols: String, from: String, order: String, k: Int): String =
    topK(s"q_id, doc_id, $cols, rank", from, "q_id", order, k, "rank")

  /** DuckDB twin of [[RetrievalOps.bm25Prf]]: first chain at k = m, feedback-doc
    * re-tokenize, occurrence-ranked non-query expansion terms, second
    * chain over the expanded term table. */
  def bm25PrfOracle(nQueries: Int = 8, m: Int = 3, e: Int = 5,
                    k: Int = 5): String = {
    val weighted =
      """(SELECT f.q_id, f.word, CAST(f.w AS DOUBLE)
        |    * ((CAST(ndocs.n_docs - cdf.cdf AS DOUBLE) + 0.5)
        |       / (CAST(cdf.cdf AS DOUBLE) + 0.5)) AS weight
        |  FROM fbnew f JOIN cdf ON f.word = cdf.word CROSS JOIN ndocs)""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${sparseChain("", qtermsBody(s"doc_id < $nQueries"), m)},
       |fbdocs AS (SELECT q_id, doc_id FROM stop),
       |fbtoks AS (
       |  SELECT f.q_id, t.word FROM ($corpusTokens) t
       |  JOIN fbdocs f ON t.doc_id = f.doc_id),
       |fbcand AS (SELECT q_id, word, CAST(count(*) AS BIGINT) AS w
       |           FROM fbtoks GROUP BY 1, 2),
       |fbnew AS (
       |  SELECT c.q_id, c.word, c.w FROM fbcand c
       |  WHERE NOT EXISTS (SELECT 1 FROM qterms q
       |                    WHERE q.q_id = c.q_id AND q.word = c.word)),
       |cdf AS (
       |  SELECT word, count(DISTINCT doc_id) AS cdf FROM ($corpusTokens)
       |  WHERE word IN (SELECT word FROM fbnew) GROUP BY 1),
       |ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM corpus),
       |expterms AS (
       |${topK("q_id, word", weighted, "q_id", "weight DESC, word ASC", e, "r")}),
       |${sparseChain("2",
          "SELECT q_id, word FROM qterms UNION ALL SELECT q_id, word FROM expterms",
          k)}
       |SELECT q_id, doc_id, n_terms, score, rank FROM stop2""".stripMargin
  }

  /** Dense-channel CTE chain (expects `corpus`); terminal CTE `dtop` =
    * (q_id, doc_id, cos, rank ≤ kChannel). Mirrors
    * [[SemanticOracles.hashedTfOracle]]'s hash and [[RetrievalOps.denseRanks]]'s exact
    * integer dot/norm² with the one-division-two-sqrt cosine.
    *
    * With `planes` > 0 the candidates are bucket-routed
    * ([[RetrievalOps.denseRanksLsh]]): the ±1 plane coefficients are
    * embedded as a VALUES table from the SAME [[RetrievalOps.denseLshCoefs]]
    * the Spark side compiles in, and plane dots and the bucket id are exact
    * integer arithmetic on both engines. */
  private def denseCtes(queryPred: String, kChannel: Int, dims: Int, planes: Int = 0): String = {
    val (bucketCtes, bucketJoin) = if (planes == 0) ("", "") else {
      val coefRows = denseLshCoefs(planes, dims).zipWithIndex.flatMap {
        case (cs, p) => cs.zipWithIndex.map { case (c, d) => s"($p, $d, $c)" }
      }.mkString(", ")
      (s"""hcoef(plane, dim, coef) AS (VALUES $coefRows),
          |dbucket AS (
          |  SELECT doc_id, CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << plane)
          |                               ELSE 0 END) AS BIGINT) AS bucket
          |  FROM (
          |    SELECT t.doc_id, h.plane, CAST(sum(t.tf * h.coef) AS BIGINT) AS pd
          |    FROM dtf t JOIN hcoef h ON t.dim = h.dim GROUP BY 1, 2)
          |  GROUP BY 1),
          |""".stripMargin,
       """
         |  JOIN dbucket bt ON bt.doc_id = t.doc_id
         |  JOIN dbucket bq ON bq.doc_id = q.q_id AND bq.bucket = bt.bucket""".stripMargin)
    }
    s"""dtf AS (
       |${SemanticOracles.hashedTf("corpus", dims)}),
       |${bucketCtes}qdtf AS (SELECT doc_id AS q_id, dim, tf AS qtf FROM dtf WHERE $queryPred),
       |n2 AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
       |       FROM dtf GROUP BY 1),
       |ddot AS (
       |  SELECT q.q_id, t.doc_id, CAST(sum(t.tf * q.qtf) AS BIGINT) AS dot
       |  FROM dtf t
       |  JOIN qdtf q ON t.dim = q.dim$bucketJoin
       |  WHERE t.doc_id <> q.q_id GROUP BY 1, 2),
       |dscored AS (
       |  SELECT d.q_id, d.doc_id,
       |    CAST(d.dot AS DOUBLE)
       |      / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE))) AS cos
       |  FROM ddot d
       |  JOIN n2 nq ON d.q_id = nq.doc_id
       |  JOIN n2 nd ON d.doc_id = nd.doc_id),
       |dtop AS (
       |${channelTop("cos", "dscored", "cos DESC, doc_id ASC", kChannel)})""".stripMargin
  }

  /** Persisted-index ANN dense-channel CTE chain (expects `corpus`);
    * terminal CTE `dtop` = (q_id, doc_id, adc_dist, rank ≤ kChannel),
    * so [[rrfCtes]] composes unchanged. The full [[RetrievalOps.denseRanksAnnIndex]]
    * derivation in SQL: hashed-TF 64-dim vectors, seed codebook
    * (vec_id < kCode, code = seed id — [[PqOps.trainCodebook]]'s
    * convention), per-subspace argmin code assignment, hyperplane
    * buckets ([[SimilarityOracles.lshBucket]] — identical plane
    * literals), hamming-≤1 multiprobe candidacy as an INDEPENDENT
    * xor+popcount formulation of the Spark side's probe-array explode,
    * ADC terms summed by an ORDERED fold over s, self excluded,
    * (adc_dist ASC, nn_id ASC) tiebreak. `queryPredVec` is a predicate
    * over the query-side alias `d` (e.g. "d.vec_id < 8"). */
  private def annDocCtes(queryPredVec: String, kChannel: Int, dims: Int = 64,
                 m: Int = 4, kCode: Int = 16, nPlanes: Int = 8): String =
    s"""adtf AS (
       |${SemanticOracles.hashedTf("corpus", dims)}),
       |abase AS (
       |  SELECT doc_id AS vec_id,
       |    list_transform(range(0, $dims), d ->
       |      CAST(coalesce(element_at(mp, d)[1], 0) AS DOUBLE)) AS emb
       |  FROM (SELECT doc_id, map_from_entries(list({'k': dim, 'v': tf})) AS mp
       |        FROM adtf GROUP BY 1)),
       |${SimilarityOracles.pqCtes("abase", m, kCode, p = "a")},
       |abucketed AS (
       |  SELECT vec_id, ${SimilarityOracles.lshBucket(nPlanes)} AS bucket FROM abase),
       |aterms AS (
       |  SELECT d.vec_id AS q_id, w.vec_id AS nn_id, w.s,
       |    ${DuckSql.sqDist("d.xs", "c.cs", 64 / m)} AS term
       |  FROM asubs d
       |  JOIN abucketed db ON db.vec_id = d.vec_id
       |  JOIN acodes w ON w.s = d.s AND w.vec_id <> d.vec_id
       |  JOIN abucketed wb ON wb.vec_id = w.vec_id
       |   AND bit_count(xor(wb.bucket, db.bucket)) <= 1
       |  JOIN acb c ON c.s = w.s AND c.code = w.code
       |  WHERE $queryPredVec),
       |ascored AS (
       |  SELECT q_id, nn_id, ${orderedSum("term", "s")} AS adc_dist
       |  FROM aterms GROUP BY 1, 2),
       |dtop AS (
       |${topK("q_id, nn_id AS doc_id, adc_dist, rank", "ascored", "q_id", "adc_dist ASC, nn_id ASC", kChannel, "rank")})""".stripMargin

  /** The hybrid ranking of the first `nQueries` documents: the sparse
    * channel and `denseChain` (ending in `dtop`) fused by [[rrfCtes]]. */
  private def hybridOracle(nQueries: Int, kChannel: Int, k: Int,
                           denseChain: String => String): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${sparseCtes(s"doc_id < $nQueries", kChannel)},
       |${denseChain(s"doc_id < $nQueries")},
       |${rrfCtes(k)}
       |SELECT q_id, doc_id, sparse_rank, dense_rank, rrf, rank FROM htop""".stripMargin

  def hybridRrfOracle(nQueries: Int = 8, kChannel: Int = 10, k: Int = 5,
                      dims: Int = 64): String =
    hybridOracle(nQueries, kChannel, k, denseCtes(_, kChannel, dims))

  def hybridRrfLshOracle(nQueries: Int = 8, kChannel: Int = 10, k: Int = 5,
                         dims: Int = 64, planes: Int = 8): String =
    hybridOracle(nQueries, kChannel, k, denseCtes(_, kChannel, dims, planes))

  def hybridRrfIndexOracle(nQueries: Int = 8, kChannel: Int = 10,
                           k: Int = 5, dims: Int = 64, m: Int = 4,
                           kCode: Int = 16, nPlanes: Int = 8): String =
    hybridOracle(nQueries, kChannel, k,
      _ => annDocCtes(s"d.vec_id < $nQueries", kChannel, dims, m, kCode, nPlanes))

  /** RRF fusion CTEs over `stop` ⋈ `dtop`; terminal CTE `htop` =
    * (q_id, doc_id, sparse_rank, dense_rank, rrf, rank ≤ k). */
  private def rrfCtes(k: Int): String =
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
       |${channelTop("sparse_rank, dense_rank, rrf", "fused", "rrf DESC, doc_id ASC", k)})""".stripMargin

  /** The recall queries' probes: the planted near-copies of the first 80
    * documents, each of whose truth is its original (q_id − 100000). */
  private val recallProbes = "doc_id >= 100000 AND doc_id < 100080"

  def retrievalRecallOracle(kChannel: Int = 10, k: Int = 5,
                            dims: Int = 64, lsh: Boolean = false): String =
    retrievalRecallOracleWith(DedupOracles.augmentedSql, "",
      denseCtes(recallProbes, kChannel, dims, if (lsh) 8 else 0), kChannel, k)

  /** Sampled twin — the SAME derivation over the co-addressed sampled
    * corpus CTE (terminal CTE is still `corpus`, so the whole chain
    * composes unchanged), with the knob as a lead column. */
  def retrievalRecallSampledOracle(kChannel: Int = 10, k: Int = 5,
                                   dims: Int = 64, sampleBuckets: Int = 128,
                                   seed: String = "42",
                                   lsh: Boolean = false): String =
    retrievalRecallOracleWith(
      DedupOracles.coSampledAugmentedSql(sampleBuckets, seed),
      s"CAST($sampleBuckets AS BIGINT) AS sample_buckets, ",
      denseCtes(recallProbes, kChannel, dims, if (lsh) 8 else 0), kChannel, k)

  /** Recall oracle over the PRODUCTION dense channel
    * ([[RetrievalOps.retrievalRecallAnnIndex]]'s twin): same hits tail, dense CTE
    * chain = [[annDocCtes]] over the augmented corpus. */
  def retrievalRecallAnnIndexOracle(kChannel: Int = 10, k: Int = 5,
                                    dims: Int = 64, m: Int = 4,
                                    kCode: Int = 16,
                                    nPlanes: Int = 8): String =
    retrievalRecallOracleWith(DedupOracles.augmentedSql, "",
      annDocCtes("d.vec_id >= 100000 AND d.vec_id < 100080", kChannel,
        dims, m, kCode, nPlanes),
      kChannel, k)

  /** Per channel (sparse, dense, hybrid): how many probes rank their
    * truth within the top `k`, and that count over the probe count. */
  private def retrievalRecallOracleWith(corpusCte: String, leadCols: String,
                                        denseCteChain: String,
                                        kChannel: Int, k: Int): String = {
    val hits = Seq("sparse" -> "stop", "dense" -> "dtop", "hybrid" -> "htop").map {
      case (channel, top) =>
        s"""  SELECT '$channel' AS channel, CAST(count(*) AS BIGINT) AS n_hits FROM $top
           |  WHERE rank <= $k AND doc_id = q_id - 100000""".stripMargin
    }
    s"""WITH $corpusCte,
       |${sparseCtes(recallProbes, kChannel)},
       |$denseCteChain,
       |${rrfCtes(k)},
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
       |       FROM corpus WHERE $recallProbes),
       |hits AS (
       |${hits.mkString("\n  UNION ALL\n")})
       |SELECT ${leadCols}channel, n_queries, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_queries AS DOUBLE) AS recall
       |FROM hits CROSS JOIN nq""".stripMargin
  }
}
