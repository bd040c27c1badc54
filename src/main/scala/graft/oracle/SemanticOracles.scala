package graft.oracle

import graft.oracle.DuckSql.{dot, hash64, orderedSum, topK, words}
import graft.oracle.SimilarityOracles.{augmentedEmbeddings, cosine, normed}

/** DuckDB oracles of the semantic family (`SemanticOps`): k-means
  * clusters, semantic dedup and decontamination, centroid classifiers,
  * DSIR importance weights and triplet mining.
  */
object SemanticOracles {

  /** The augmented embeddings as `corpus(vec_id, emb, norm)`, the first
    * `k` as `seeds`, and `assigned`: each vector's most similar seed
    * (`cluster`, by cosine `c_score`, ties to the lower seed) with `cols`
    * of the vector carried. */
  private def seededCtes(k: Int, cols: String): String =
    s"""WITH ${augmentedEmbeddings("embedding")},
       |corpus AS (${normed("aug")}),
       |seeds AS (
       |  SELECT vec_id AS seed_id, emb AS s_emb, norm AS s_norm
       |  FROM corpus WHERE vec_id < $k),
       |assigned AS (
       |${topK(s"vec_id, ${cols}CAST(seed_id AS BIGINT) AS cluster, score AS c_score",
              s"""(SELECT c.*, s.seed_id,
                 |    ${dot("c.emb", "s.s_emb")} / (c.norm * s.s_norm) AS score
                 |  FROM corpus c, seeds s)""".stripMargin,
              "vec_id", "score DESC, seed_id ASC", 1)})""".stripMargin

  def semanticClustersOracle(k: Int = 8): String =
    s"""${seededCtes(k, "")}
       |SELECT vec_id, cluster, c_score FROM assigned""".stripMargin

  def semanticDedupOracle(k: Int = 8, minCos: Double = 0.99): String =
    s"""${seededCtes(k, "emb, norm, ")},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster
       |                               ORDER BY c_score ASC, vec_id ASC) AS prio
       |  FROM assigned),
       |dups AS (
       |  SELECT DISTINCT b.vec_id AS dup_id
       |  FROM ranked a JOIN ranked b
       |    ON a.cluster = b.cluster AND a.prio < b.prio
       |  WHERE ${cosine("a", "b")} >= $minCos)
       |SELECT vec_id, cluster, c_score FROM ranked
       |WHERE vec_id NOT IN (SELECT dup_id FROM dups)""".stripMargin

  /** `embeddings` plus a planted copy (vec_id + 20001) of every eval
    * vector (vec_id % evalMod = 0), as `corpus(vec_id, emb, norm)`. */
  private def contaminatedCtes(evalMod: Int): String =
    s"""aug AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 20001 AS vec_id, embedding
       |  FROM embeddings WHERE vec_id % $evalMod = 0),
       |corpus AS (${normed("aug")})""".stripMargin

  /** DuckDB cannot bind a correlated outer column inside a list lambda
    * (the dot-product fold), so the oracle phrases the anti-join as a
    * plain join into a `hits` CTE plus NOT IN — semantically identical.
    */
  def semanticDecontaminateOracle(minCos: Double = 0.99, evalMod: Int = 50): String =
    s"""WITH ${contaminatedCtes(evalMod)},
       |hits AS (
       |  SELECT DISTINCT t.vec_id
       |  FROM corpus t JOIN corpus e
       |    ON t.vec_id % $evalMod <> 0 AND e.vec_id % $evalMod = 0
       |  WHERE ${cosine("t", "e")} >= $minCos)
       |SELECT vec_id FROM corpus
       |WHERE vec_id % $evalMod <> 0
       |  AND vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin

  def semanticDecontaminateLshOracle(minCos: Double = 0.99, evalMod: Int = 50,
                                     nPlanes: Int = 8): String =
    s"""WITH ${contaminatedCtes(evalMod)},
       |bucketed AS (
       |  SELECT vec_id, emb, norm, ${SimilarityOracles.lshBucket(nPlanes)} AS bucket
       |  FROM corpus),
       |hits AS (
       |  SELECT DISTINCT t.vec_id
       |  FROM bucketed t JOIN bucketed e
       |    ON t.vec_id % $evalMod <> 0 AND e.vec_id % $evalMod = 0
       |      AND e.bucket = t.bucket
       |  WHERE ${cosine("t", "e")} >= $minCos)
       |SELECT vec_id FROM bucketed
       |WHERE vec_id % $evalMod <> 0
       |  AND vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin

  /** Both survivor oracles nested verbatim; the train-side id set is
    * re-derived from the same planting rule (originals % evalMod ≠ 0
    * plus the +20001 planted copies, which land train-side by
    * construction). */
  def decontaminateRecallOracle(evalMod: Int = 50): String =
    s"""WITH train AS (
       |  SELECT vec_id FROM embeddings WHERE vec_id % $evalMod <> 0
       |  UNION ALL
       |  SELECT vec_id + 20001 AS vec_id FROM embeddings
       |  WHERE vec_id % $evalMod = 0),
       |ex AS (SELECT vec_id FROM (
       |${semanticDecontaminateOracle(evalMod = evalMod)}
       |) q1),
       |ls AS (SELECT vec_id FROM (
       |${semanticDecontaminateLshOracle(evalMod = evalMod)}
       |) q2),
       |rem_ex AS (
       |  SELECT vec_id FROM train
       |  WHERE vec_id NOT IN (SELECT vec_id FROM ex)),
       |rem_ls AS (
       |  SELECT vec_id FROM train
       |  WHERE vec_id NOT IN (SELECT vec_id FROM ls)),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_removed_exact,
       |    CAST(COALESCE(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END),
       |      0) AS BIGINT) AS n_removed_lsh
       |  FROM rem_ex e LEFT JOIN rem_ls l ON e.vec_id = l.vec_id)
       |SELECT n_removed_exact, n_removed_lsh,
       |  CAST(n_removed_lsh AS DOUBLE)
       |    / NULLIF(CAST(n_removed_exact AS DOUBLE), 0.0) AS recall
       |FROM agg""".stripMargin

  /** [[SemanticOps.hashedTf]] over `from(doc_id, text)`: (doc_id, dim, tf),
    * each non-empty space token hashed into one of `dims` buckets. */
  private[oracle] def hashedTf(from: String, dims: Int): String =
    s"""SELECT doc_id, ${hash64("w")} % $dims AS dim, CAST(count(*) AS BIGINT) AS tf
       |FROM (SELECT doc_id, unnest($words) AS w FROM $from)
       |WHERE len(w) > 0 GROUP BY 1, 2""".stripMargin

  def hashedTfOracle(dims: Int = 64): String = hashedTf("documents", dims)

  def clusterCapSampleOracle(k: Int = 8, cap: Int = 32): String =
    s"""${seededCtes(k, "")}
       |${topK("vec_id, cluster, CAST(rn AS BIGINT) AS rn", "assigned", "cluster",
              "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 5, 4))::BIGINT, vec_id", cap)}""".stripMargin

  def centroidConfusionOracle(dims: Int = 4096): String =
    s"""WITH cls AS (${centroidClassifyOracle(dims)})
       |SELECT actual, pred, CAST(count(*) AS BIGINT) AS n
       |FROM cls GROUP BY 1, 2""".stripMargin

  def centroidClassifyOracle(dims: Int = 4096): String = {
    val h = hash64("w")
    s"""WITH tr AS (
       |  SELECT lang AS label, $h % $dims AS dim
       |  FROM (SELECT lang, unnest($words) AS w
       |        FROM documents WHERE doc_id % 10 <> 0)
       |  WHERE len(w) > 0),
       |model AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS w
       |          FROM tr GROUP BY 1, 2),
       |norms AS (
       |  SELECT label, sqrt(${orderedSum("CAST(w AS DOUBLE) * CAST(w AS DOUBLE)", "dim")}) AS cnorm
       |  FROM model GROUP BY label),
       |ev AS (
       |  SELECT doc_id, $h % $dims AS dim
       |  FROM (SELECT doc_id, unnest($words) AS w
       |        FROM documents WHERE doc_id % 10 = 0)
       |  WHERE len(w) > 0),
       |feats AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS c
       |          FROM ev GROUP BY 1, 2),
       |dn AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2
       |       FROM feats GROUP BY 1),
       |dots AS (
       |  SELECT f.doc_id, m.label, CAST(sum(f.c * m.w) AS BIGINT) AS dot
       |  FROM feats f JOIN model m USING (dim) GROUP BY 1, 2),
       |scoredall AS (
       |  SELECT d.doc_id, d.label,
       |    CAST(d.dot AS DOUBLE) /
       |      (sqrt(CAST(dn.n2 AS DOUBLE)) * n.cnorm) AS score
       |  FROM dots d JOIN dn USING (doc_id) JOIN norms n USING (label)),
       |best AS (
       |${topK("doc_id, label, score", "scoredall", "doc_id", "score DESC, label", 1)})
       |SELECT b.doc_id, d.lang AS actual, b.label AS pred, b.score
       |FROM best b JOIN documents d ON b.doc_id = d.doc_id""".stripMargin
  }

  private def dsirScoredSql(dims: Int): String =
    s"""held AS (SELECT min(source) AS src FROM documents),
       |ttok AS (
       |  SELECT ${hash64("w")} % $dims AS dim
       |  FROM (SELECT unnest($words) AS w
       |        FROM documents, held WHERE source = held.src)
       |  WHERE len(w) > 0),
       |rtok AS (
       |  SELECT doc_id, ${hash64("w")} % $dims AS dim
       |  FROM (SELECT doc_id, unnest($words) AS w
       |        FROM documents, held WHERE source <> held.src)
       |  WHERE len(w) > 0),
       |tdist AS (SELECT dim, CAST(count(*) AS BIGINT) AS cnt_t FROM ttok GROUP BY 1),
       |rdist AS (SELECT dim, CAST(count(*) AS BIGINT) AS cnt_r FROM rtok GROUP BY 1),
       |tot AS (SELECT coalesce((SELECT CAST(sum(cnt_t) AS BIGINT) FROM tdist), 0) AS n_t,
       |               coalesce((SELECT CAST(sum(cnt_r) AS BIGINT) FROM rdist), 0) AS n_r),
       |ratios AS (
       |  SELECT r.dim,
       |    CAST(coalesce(t.cnt_t, 0) + 1 AS DOUBLE) * CAST(n_r + $dims AS DOUBLE) /
       |      (CAST(r.cnt_r + 1 AS DOUBLE) * CAST(n_t + $dims AS DOUBLE)) AS ratio
       |  FROM rdist r LEFT JOIN tdist t USING (dim), tot),
       |feats AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS c
       |          FROM rtok GROUP BY 1, 2),
       |scored AS (
       |  SELECT f.doc_id, f.dim, f.c, CAST(f.c AS DOUBLE) * r.ratio AS v
       |  FROM feats f JOIN ratios r USING (dim)),
       |docscores AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dims,
       |    CAST(sum(c) AS BIGINT) AS n_toks,
       |    ${orderedSum("v", "dim")} AS score_sum
       |  FROM scored GROUP BY doc_id)""".stripMargin

  /** Oracle for the registered `dsir_ratios` query: the frozen model
    * artifact itself, verified bitwise (ratio > 0 guard at the
    * registration site is the count-prune no-op — Laplace ratios are
    * strictly positive). */
  def dsirRatiosOracle(dims: Int = 4096): String =
    s"""WITH ${dsirScoredSql(dims)}
       |SELECT dim, ratio FROM ratios""".stripMargin

  /** Oracle for the registered `dsir_weights` query (target = docs of the
    * lexicographically first source, raw = the rest — the held-out idiom
    * shared with `lm_score_heldout`). */
  def dsirScoresOracle(dims: Int = 4096): String =
    s"""WITH ${dsirScoredSql(dims)}
       |SELECT doc_id, n_dims, n_toks, score_sum,
       |  score_sum / n_toks AS score_avg
       |FROM docscores""".stripMargin

  def dsirSelectOracle(k: Int = 100, dims: Int = 4096): String =
    s"""WITH ${dsirScoredSql(dims)}
       |SELECT doc_id, n_dims, n_toks, score_sum,
       |  score_sum / n_toks AS score_avg
       |FROM docscores
       |ORDER BY score_avg DESC, doc_id LIMIT $k""".stripMargin

  /** DuckDB twin of [[SemanticOps.tripletMining]] — composes negatives over the
    * shared banded-pair CTE chain ([[DedupOracles.minhashPairsCtesOver]]). */
  def tripletMiningOracle(buckets: Int = 64): String = {
    val h = hash64 _
    s"""${DedupOracles.minhashPairsCtesOver(DedupOracles.corpusShingledCte)},
       |negpool AS (
       |  SELECT doc_id AS cand,
       |    ${h("CAST(doc_id AS VARCHAR)")} % $buckets AS bucket
       |  FROM corpus),
       |anch AS (
       |  SELECT doc_a AS anchor_id, doc_b AS positive_id, jaccard,
       |    ${h("'neg:' || CAST(doc_a AS VARCHAR)")} % $buckets AS tb
       |  FROM pairs),
       |negcand AS (
       |  SELECT a.anchor_id, a.positive_id, a.jaccard, p.cand,
       |    ${h("CAST(a.anchor_id AS VARCHAR) || ':' || CAST(p.cand AS VARCHAR)")} AS pick
       |  FROM anch a JOIN negpool p ON a.tb = p.bucket
       |  WHERE p.cand <> a.anchor_id AND p.cand <> a.positive_id
       |    AND NOT EXISTS (SELECT 1 FROM pairs x
       |                    WHERE (x.doc_a = a.anchor_id AND x.doc_b = p.cand)
       |                       OR (x.doc_a = p.cand AND x.doc_b = a.anchor_id)))
       |${topK("anchor_id, positive_id, cand AS negative_id, jaccard", "negcand",
              "anchor_id, positive_id", "pick, cand", 1)}""".stripMargin
  }

  /** DuckDB twin of [[SemanticOps.tripletCoverage]] — the triplet derivation of
    * [[tripletMiningOracle]] reduced to counts against the shared pair
    * CTE. */
  def tripletCoverageOracle(buckets: Int = 64): String =
    s"""WITH t AS (${tripletMiningOracle(buckets)}),
       |p AS (${DedupOracles.minhashPairsCtesOver(DedupOracles.corpusShingledCte)}
       |      SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
       |SELECT p.n_pairs, tc.n_triplets, p.n_pairs - tc.n_triplets AS n_dropped
       |FROM p CROSS JOIN
       |  (SELECT CAST(count(*) AS BIGINT) AS n_triplets FROM t) tc""".stripMargin
}
