package graft.oracle

import graft.ops.DedupOps
import graft.ops.SimilarityOps.{jlSigns, lshPlanes}
import graft.oracle.DuckSql.{dot, orderedSum, sqDist, topK}

/** DuckDB oracles of the embedding-similarity family (`SimilarityOps`,
  * `PqOps`): exact and approximate top-k (IVF, LSH, PQ), projections,
  * quantization and the ANN recall audits.
  */
object SimilarityOracles {

  /** `vec_id`, the `cols`, `emb` (the 64-dim embedding as doubles) and
    * its `norm`, over a table with an `embedding` column. */
  private[oracle] def normed(from: String, cols: String = ""): String =
    s"""SELECT vec_id, ${cols}embedding::DOUBLE[] AS emb,
       |    sqrt(${dot("(embedding::DOUBLE[])", "(embedding::DOUBLE[])")}) AS norm
       |  FROM $from""".stripMargin

  /** The cosine of the `emb`/`norm` rows aliased `a` and `b`. */
  private[oracle] def cosine(a: String, b: String): String =
    s"${dot(s"$a.emb", s"$b.emb")} / ($a.norm * $b.norm)"

  /** `embeddings` plus a planted exact copy (vec_id + 10000) of every
    * 25th vector: the near-dup corpus of the similarity and semantic
    * dedup queries. */
  private[oracle] def augmentedEmbeddings(cols: String): String =
    s"""aug AS (
       |  SELECT vec_id, $cols FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, $cols
       |  FROM embeddings WHERE vec_id % 25 = 0)""".stripMargin

  /** Each query's top `k` of `scored(q_id, vec_id, score)`, ties to the
    * lower vec_id. */
  private def ranked(k: Int): String =
    topK("q_id, vec_id, score, rank", "scored", "q_id", "score DESC, vec_id ASC", k, "rank")

  /** Product quantization over a `from(vec_id, [carry,] emb)` CTE:
    * `${p}subs` holds the m sub-vectors `xs` of each vector, `${p}cb` the
    * codebook (the sub-vectors of the first k vectors, code = vec_id) and
    * `${p}codes` each vector's nearest code per subspace with its squared
    * distance `dist`, ties to the lower code. `where` restricts the
    * encoded vectors (over the alias `d`). */
  private[oracle] def pqCtes(from: String, m: Int, k: Int, carry: String = "",
                             where: String = "", p: String = ""): String = {
    val subDim = 64 / m
    val c = if (carry.isEmpty) "" else s"$carry, "
    val dc = if (carry.isEmpty) "" else s"d.$carry, "
    s"""${p}subs AS (
       |  SELECT vec_id, ${c}s, emb[CAST(s * $subDim + 1 AS INT):CAST(s * $subDim + $subDim AS INT)] AS xs
       |  FROM $from, (SELECT unnest(range(0, $m)) AS s)),
       |${p}cb AS (SELECT s, vec_id AS code, xs AS cs FROM ${p}subs WHERE vec_id < $k),
       |${p}dists AS (
       |  SELECT d.vec_id, ${dc}d.s, c.code, ${sqDist("d.xs", "c.cs", subDim)} AS dist
       |  FROM ${p}subs d JOIN ${p}cb c ON d.s = c.s${if (where.isEmpty) "" else s" WHERE $where"}),
       |${p}codes AS (
       |${topK(s"vec_id, ${c}s, code, dist", s"${p}dists", "vec_id, s", "dist ASC, code ASC", 1)})""".stripMargin
  }

  /** Asymmetric-distance search over [[pqCtes]]: each of the first
    * `nQueries` vectors scores every other encoded vector (of its own
    * label when `byLabel`) by the query · codeword terms, summed in
    * subspace order. */
  private def adcTopK(m: Int, nQueries: Int, k: Int, byLabel: Boolean): String = {
    val (qLabel, sameLabel) =
      if (byLabel) ("label AS q_label, ", " AND q.q_label = w.label") else ("", "")
    s"""q AS (SELECT vec_id AS q_id, ${qLabel}s, xs AS qs FROM subs WHERE vec_id < $nQueries),
       |terms AS (
       |  SELECT q.q_id, w.vec_id, w.s, ${dot("q.qs", "c.cs", 64 / m)} AS term
       |  FROM codes w JOIN q ON q.s = w.s$sameLabel
       |               JOIN cb c ON c.s = w.s AND c.code = w.code
       |  WHERE w.vec_id <> q.q_id),
       |scored AS (
       |  SELECT q_id, vec_id, ${orderedSum("term", "s")} AS score
       |  FROM terms GROUP BY q_id, vec_id)
       |${topK("q_id, vec_id, score, CAST(rank AS BIGINT) AS rank", "scored", "q_id",
              "score DESC, vec_id ASC", k, "rank")}""".stripMargin
  }

  def pqEncodeOracle(m: Int = 4, k: Int = 16): String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |${pqCtes("base", m, k)}
       |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
       |  dist AS qerr
       |FROM codes""".stripMargin

  def annIvfPqOracle(m: Int = 4, k: Int = 16,
                     nQueries: Int = 10, topK: Int = 5): String =
    s"""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       |${pqCtes("base", m, k, carry = "label")},
       |${adcTopK(m, nQueries, topK, byLabel = true)}""".stripMargin

  /** [[annIvfPqOracle]] over each vector's residual from its label's
    * anchor (the label's first vector). */
  def annIvfPqResidualOracle(m: Int = 4, k: Int = 16,
                             nQueries: Int = 10, topK: Int = 5): String =
    s"""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       |anchors AS (
       |${DuckSql.topK("label AS a_label, emb AS a_emb", "base", "label", "vec_id ASC", 1)}),
       |resid AS (
       |  SELECT b.vec_id, b.label,
       |    list_transform(range(1, 65),
       |      i -> b.emb[CAST(i AS INT)] - a.a_emb[CAST(i AS INT)]) AS emb
       |  FROM base b JOIN anchors a ON b.label = a.a_label),
       |${pqCtes("resid", m, k, carry = "label")},
       |${adcTopK(m, nQueries, topK, byLabel = true)}""".stripMargin

  def annPqAdcOracle(m: Int = 4, k: Int = 16,
                     nQueries: Int = 10, topK: Int = 10): String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |${pqCtes("base", m, k)},
       |${adcTopK(m, nQueries, topK, byLabel = false)}""".stripMargin

  /** The default oracle corpus: the driver's embeddings table as
    * 64-dim doubles. Geometry-variant recall oracles (the clustered
    * fixture) swap this CTE body; everything downstream — codebook,
    * buckets, ADC terms — derives from `base`, so one substitution
    * re-targets the whole derivation. */
  private val defaultEmbBaseSql: String =
    "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"

  /** Oracle: same codebook derivation and code assignment as
    * [[pqEncodeOracle]] restricted to the index side, same hyperplane
    * buckets as [[lshBucket]], ADC terms per subspace
    * summed by an ORDERED fold, min-distance pick with the same
    * tiebreak, and a LEFT join so bucket-orphan delta vectors keep
    * their (-1, null) row. */
  def annIndexIncrementalOracle(m: Int = 4, k: Int = 16,
                                nPlanes: Int = 8): String =
    annIndexIncrementalOracleCond(m, k, nPlanes, "wb.bucket = db.bucket",
      defaultEmbBaseSql)

  /** Multi-probe twin: hamming distance ≤ 1 between the candidate's and
    * the delta's buckets — an INDEPENDENT formulation (xor + popcount)
    * of the Spark side's probe-array explode, so agreement cross-checks
    * the expansion rather than mirroring it. */
  def annIndexIncrementalMultiProbeOracle(m: Int = 4, k: Int = 16,
                                          nPlanes: Int = 8,
                                          baseSql: String = defaultEmbBaseSql): String =
    annIndexIncrementalOracleCond(m, k, nPlanes,
      "bit_count(xor(wb.bucket, db.bucket)) <= 1", baseSql)

  private def annIndexIncrementalOracleCond(m: Int, k: Int, nPlanes: Int,
                                            bucketCond: String,
                                            baseSql: String): String =
    s"""WITH base AS ($baseSql),
       |${pqCtes("base", m, k, where = s"d.vec_id < $k OR d.vec_id % 4 <> 0")},
       |bucketed AS (
       |  SELECT vec_id, ${lshBucket(nPlanes)} AS bucket FROM base),
       |terms AS (
       |  SELECT d.vec_id AS q_id, w.vec_id AS nn_id, w.s,
       |    ${sqDist("d.xs", "c.cs", 64 / m)} AS term
       |  FROM subs d
       |  JOIN bucketed db ON db.vec_id = d.vec_id
       |  JOIN codes w ON w.s = d.s
       |  JOIN bucketed wb ON wb.vec_id = w.vec_id AND $bucketCond
       |  JOIN cb c ON c.s = w.s AND c.code = w.code
       |  WHERE d.vec_id >= $k AND d.vec_id % 4 = 0),
       |scored AS (
       |  SELECT q_id, nn_id, ${orderedSum("term", "s")} AS adc_dist
       |  FROM terms GROUP BY q_id, nn_id),
       |best AS (
       |${topK("q_id, nn_id, adc_dist", "scored", "q_id", "adc_dist ASC, nn_id ASC", 1)})
       |SELECT d.vec_id, CAST(coalesce(b.nn_id, -1) AS BIGINT) AS nn_id,
       |  b.adc_dist
       |FROM (SELECT vec_id FROM base WHERE vec_id >= $k AND vec_id % 4 = 0) d
       |LEFT JOIN best b ON b.q_id = d.vec_id""".stripMargin

  /** The IVF cells: each label's first vector of `corpus` is its anchor. */
  private val anchorsCte: String =
    s"""anchors AS (
       |${topK("label AS a_label, emb AS a_emb, norm AS a_norm", "corpus", "label", "vec_id", 1)})""".stripMargin

  def ivfTopKProbedOracle(nQueries: Int = 10, k: Int = 5, nProbe: Int = 2): String =
    s"""WITH corpus AS (${normed("embeddings", "label, ")}),
       |$anchorsCte,
       |queries AS (
       |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
       |  FROM corpus WHERE vec_id < $nQueries),
       |cells AS (
       |  SELECT q_id, q_emb, q_norm, a_label,
       |    row_number() OVER (PARTITION BY q_id ORDER BY a_score DESC, a_label ASC)
       |      AS cell_rank
       |  FROM (
       |    SELECT q.*, a.a_label,
       |      ${dot("a.a_emb", "q.q_emb")} / (a.a_norm * q.q_norm) AS a_score
       |    FROM queries q, anchors a)),
       |scored AS (
       |  SELECT p.q_id, c.vec_id,
       |    ${dot("c.emb", "p.q_emb")} / (c.norm * p.q_norm) AS score
       |  FROM corpus c JOIN cells p
       |    ON c.label = p.a_label AND c.vec_id <> p.q_id AND p.cell_rank <= $nProbe)
       |${ranked(k)}""".stripMargin

  /** Top-k by cosine for the first `nQueries` vectors, over the
    * candidates that satisfy `matches` (over aliases `c` and `q`);
    * `bucketCols` adds LSH bucket columns for `matches` to compare. */
  private def cosineTopK(nQueries: Int, k: Int, matches: String,
                         bucketCols: String = ""): String = {
    val bucketed =
      if (bucketCols.isEmpty) "" else s"bucketed AS (\n  SELECT *,\n  $bucketCols\n  FROM corpus),\n"
    val from = if (bucketCols.isEmpty) "corpus" else "bucketed"
    s"""WITH corpus AS (${normed("embeddings", "label, ")}),
       |${bucketed}scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id, ${cosine("c", "q")} AS score
       |  FROM $from c JOIN $from q
       |    ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id AND ($matches))
       |${ranked(k)}""".stripMargin
  }

  private def cosineTopKOracleAt(nQueries: Int, k: Int): String =
    cosineTopK(nQueries, k, "TRUE")

  val cosineTopKOracle: String = cosineTopKOracleAt(10, 10)

  val ivfTopKOracle: String = cosineTopK(10, 5, "c.label = q.label")

  /** LSH oracle: the same hyperplane literals (Double.toString
    * round-trips exactly through DuckDB's parser), same fold, same
    * bucket bits.
    */
  def lshTopKOracle(nQueries: Int = 10, k: Int = 5, nPlanes: Int = 8): String =
    cosineTopK(nQueries, k, "c.bucket = q.bucket", s"${lshBucket(nPlanes)} AS bucket")

  /** Multi-probe oracle: same planes, bucket IN (bucket, bucket^1bit…). */
  def lshTopKMultiProbeOracle(nQueries: Int = 10, k: Int = 5, nPlanes: Int = 8): String = {
    val probes = ("q.bucket" +: (0 until nPlanes).map(p => s"xor(q.bucket, ${1L << p})"))
      .mkString(", ")
    cosineTopK(nQueries, k, s"c.bucket IN ($probes)", s"${lshBucket(nPlanes)} AS bucket")
  }

  /** Multi-table oracle: one bucket column per table, candidates where
    * ANY table's buckets match (the OR form is the natural SQL
    * equivalent of the per-table union; dedup is implicit).
    */
  def lshTopKMultiTableOracle(nQueries: Int = 10, k: Int = 5,
                              nPlanes: Int = 8, nTables: Int = 2): String = {
    val bucketCols = (0 until nTables)
      .map(t => s"${lshBucket(nPlanes, t)} AS b$t").mkString(",\n  ")
    val anyMatch = (0 until nTables).map(t => s"c.b$t = q.b$t").mkString(" OR ")
    cosineTopK(nQueries, k, anyMatch, bucketCols)
  }

  /** The [[SimilarityOps.bucketExpr]] sign-bit bucket as DuckDB SQL over an `emb`
    * column: identical hyperplane literals (Double.toString round-trips
    * exactly through DuckDB's parser), identical fold, identical bits.
    */
  private[oracle] def lshBucket(nPlanes: Int, table: Int = 0): String = {
    val planes = lshPlanes(nPlanes, table = table)
    (0 until nPlanes).map { p =>
      val lit = planes(p).map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN ${dot("emb", s"($lit)")} > 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
  }

  /** [[embeddingNearDupLshOracle]] embedded verbatim, sides labeled by
    * the shared [[TextOracles.splitLabel]] — pair derivation and split
    * rule both single-sourced (the lexical audit's oracle idiom). */
  def splitLeakageSemanticOracle(nPlanes: Int = 8): String =
    s"""WITH pairs AS (
       |  SELECT vec_a, vec_b, score FROM (
       |${embeddingNearDupLshOracle(nPlanes)}
       |  ) p),
       |lab AS (
       |  SELECT ${TextOracles.splitLabel("vec_a")} AS split_a,
       |    ${TextOracles.splitLabel("vec_b")} AS split_b, score
       |  FROM pairs)
       |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  max(score) AS max_score
       |FROM lab WHERE split_a <> split_b GROUP BY 1, 2""".stripMargin

  /** Near-duplicate pairs (cosine ≥ 0.999) of the augmented embeddings
    * among the pairs that `matches` admits (over aliases `a` and `b`);
    * `bucketCols` adds LSH bucket columns for `matches` to compare. */
  private def nearDupPairs(matches: String, bucketCols: String = ""): String = {
    val bucketed =
      if (bucketCols.isEmpty) "" else s",\nbucketed AS (\n  SELECT *, $bucketCols FROM corpus)"
    val from = if (bucketCols.isEmpty) "corpus" else "bucketed"
    s"""WITH ${augmentedEmbeddings("embedding, label")},
       |corpus AS (${normed("aug", "label, ")})$bucketed
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosine("a", "b")} AS score
       |FROM $from a JOIN $from b
       |  ON $matches AND a.vec_id < b.vec_id
       |WHERE ${cosine("a", "b")} >= 0.999""".stripMargin
  }

  val embeddingNearDupOracle: String = nearDupPairs("a.label = b.label")

  def embeddingNearDupLshOracle(nPlanes: Int = 8): String =
    nearDupPairs("a.bucket = b.bucket", s"${lshBucket(nPlanes)} AS bucket")

  val quantizeEmbeddingsOracle: String =
    """WITH base AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb,
      |    list_min(embedding::DOUBLE[]) AS vmin,
      |    list_max(embedding::DOUBLE[]) AS vmax
      |  FROM embeddings)
      |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
      |  CASE WHEN vmax = vmin THEN 0
      |    ELSE CAST(floor(((emb[CAST(i AS INT)] - vmin) * 255.0) / (vmax - vmin) + 0.5) AS BIGINT)
      |  END AS code,
      |  vmin, vmax
      |FROM base, unnest(range(1, 65)) AS t(i)""".stripMargin

  /** The JL projection of `emb` onto `outDims` sign rows, as a DOUBLE[]. */
  private def projected(outDims: Int): String =
    jlSigns(outDims)
      .map(s => dot("emb", s.map(_.toString).mkString("([", ", ", "]::DOUBLE[])")))
      .mkString("[", ",\n    ", "]::DOUBLE[]")

  def projectEmbeddingsOracle(outDims: Int = 16): String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |proj AS (SELECT vec_id, ${projected(outDims)} AS p FROM base)
       |SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, p[CAST(i AS INT)] AS value
       |FROM proj, unnest(range(1, ${outDims + 1})) AS t(i)""".stripMargin

  def annProjectRerankOracle(nQueries: Int = 10, k: Int = 5,
                             outDims: Int = 16, shortlist: Int = 20): String =
    s"""WITH base AS (${normed("embeddings")}),
       |proj AS (
       |  SELECT vec_id, p, sqrt(${dot("p", "p", 16)}) AS pn
       |  FROM (SELECT vec_id, ${projected(outDims)} AS p FROM base)),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dot("c.p", "q.p", outDims)} / (c.pn * q.pn) DESC,
       |        c.vec_id ASC) AS c_rank
       |    FROM proj c JOIN proj q
       |      ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
       |  WHERE c_rank <= $shortlist)
       |SELECT q_id, vec_id, score, rank FROM (
       |  SELECT s.q_id, c.vec_id,
       |    ${cosine("c", "q")} AS score,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY
       |      ${cosine("c", "q")} DESC,
       |      c.vec_id ASC) AS rank
       |  FROM short s
       |    JOIN base c ON c.vec_id = s.vec_id
       |    JOIN base q ON q.vec_id = s.q_id)
       |WHERE rank <= $k""".stripMargin

  def embeddingPipelineOracle(nPlanes: Int = 8): String =
    s"""WITH corpus AS (${normed("embeddings", "label, ")}),
       |$anchorsCte,
       |assigned AS (
       |  SELECT vec_id, a_label AS cell FROM (
       |    SELECT c.vec_id, a.a_label,
       |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |        ${dot("c.emb", "a.a_emb")} / (c.norm * a.a_norm) DESC,
       |        a.a_label ASC) AS cell_rank
       |    FROM corpus c, anchors a)
       |  WHERE cell_rank = 1),
       |bucketed AS (
       |  SELECT vec_id, ${lshBucket(nPlanes)} AS bucket FROM corpus),
       |codes AS (${pqEncodeOracle()})
       |SELECT k.vec_id, a.cell, b.bucket, k.sub, k.code, k.qerr
       |FROM codes k
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN bucketed b ON b.vec_id = k.vec_id""".stripMargin

  /** Same aug/bucketing CTEs as [[embeddingNearDupLshOracle]], aggregated
    * to bucket sizes with the same cap arithmetic and top-k tiebreak as
    * [[DedupOracles.minhashBucketStatsOracle]]. */
  def embeddingBucketStatsOracle(k: Int = 20, nPlanes: Int = 8,
                                 maxBucket: Int = DedupOps.defaultMaxBucket): String =
    s"""WITH ${augmentedEmbeddings("embedding, label")},
       |base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM aug),
       |bucketed AS (
       |  SELECT vec_id, ${lshBucket(nPlanes)} AS bucket FROM base),
       |${DedupOracles.bucketStats("bucket", "bucketed", k, maxBucket)}""".stripMargin

  /** DuckDB twin of [[SimilarityOps.clusteredGeometry]] — same integer formula over
    * range(0, 64), substituted as the `base` CTE of the incremental
    * oracle derivation. */
  private def clusteredGeometrySql: String =
    """SELECT vec_id,
      |  list_transform(range(0, 64), d ->
      |    CAST((vec_id % 8 + 1) * 64
      |       + ((vec_id // 8) + (vec_id % 8) * ((d // 8) + 1)
      |          + (vec_id // 64) * (2 * (d // 8) + 1)) % 8 AS DOUBLE)) AS emb
      |FROM embeddings""".stripMargin

  def annRecallIncrementalClusteredOracle(m: Int = 8, k: Int = 64,
                                          nPlanes: Int = 8): String =
    annRecallIncrementalOracleWith(m, k,
      annIndexIncrementalMultiProbeOracle(m, k, nPlanes, clusteredGeometrySql),
      clusteredGeometrySql)

  /** Truth = the same exhaustive cross join + min-distance pick in SQL
    * (ORDERED folds, identical composition and tiebreak); found =
    * [[annIndexIncrementalOracle]] verbatim, re-keyed to
    * (q_id, vec_id) — its LEFT-join orphan rows carry nn_id = -1, which
    * matches no truth row: misses, by the same arithmetic. */
  def annRecallIncrementalOracle(m: Int = 4, k: Int = 16,
                                 nPlanes: Int = 8): String =
    annRecallIncrementalOracleWith(m, k, annIndexIncrementalOracle(m, k, nPlanes))

  def annRecallIncrementalMultiProbeOracle(m: Int = 4, k: Int = 16,
                                           nPlanes: Int = 8): String =
    annRecallIncrementalOracleWith(m, k,
      annIndexIncrementalMultiProbeOracle(m, k, nPlanes))

  private def annRecallIncrementalOracleWith(m: Int, k: Int,
                                             incrementalSql: String,
                                             baseSql: String = defaultEmbBaseSql): String = {
    val truthSql =
      s"""WITH tbase AS ($baseSql),
         |tidx AS (SELECT vec_id AS nn_id, emb AS i_emb FROM tbase
         |         WHERE vec_id < $k OR vec_id % 4 <> 0),
         |tq AS (SELECT vec_id AS q_id, emb FROM tbase
         |       WHERE vec_id >= $k AND vec_id % 4 = 0),
         |tdists AS (
         |  SELECT tq.q_id, tidx.nn_id,
         |    ${sqDist("tq.emb", "tidx.i_emb", 64)} AS dist
         |  FROM tq, tidx)
         |${topK("q_id, nn_id AS vec_id", "tdists", "q_id", "dist ASC, nn_id ASC", 1)}""".stripMargin
    val approxSql =
      s"""SELECT vec_id AS q_id, nn_id AS vec_id FROM (
         |$incrementalSql
         |) inc""".stripMargin
    recallAtKOracle(truthSql, approxSql)
  }

  /** Both retrieval oracles embedded verbatim as nested-WITH CTE
    * subqueries (the outputDiff idiom — one derivation per side, zero
    * drift), joined and averaged by the same arithmetic. */
  def annRecallOracle(nQueries: Int = 10, k: Int = 5): String =
    recallAtKOracle(cosineTopKOracleAt(nQueries, k), lshTopKOracle(nQueries, k))

  def annRecallMultiProbeOracle(nQueries: Int = 10, k: Int = 5): String =
    recallAtKOracle(cosineTopKOracleAt(nQueries, k),
      lshTopKMultiProbeOracle(nQueries, k))

  def annRecallIvfPqOracle(nQueries: Int = 10, k: Int = 5): String =
    recallAtKOracle(cosineTopKOracleAt(nQueries, k),
      annIvfPqOracle(nQueries = nQueries, topK = k))

  def annRecallFunnelOracle(nQueries: Int = 10, k: Int = 5): String =
    recallAtKOracle(cosineTopKOracleAt(nQueries, k),
      annProjectRerankOracle(nQueries, k))

  def annRecallMultiTableOracle(nQueries: Int = 10, k: Int = 5): String =
    recallAtKOracle(cosineTopKOracleAt(nQueries, k),
      lshTopKMultiTableOracle(nQueries, k))

  /** The ONE recall oracle template — the SQL twin of [[SimilarityOps.recallAtK]],
    * parameterized on the two retrieval oracles it nests. */
  private def recallAtKOracle(truthSql: String, approxSql: String): String =
    s"""WITH truth AS (
       |SELECT q_id, vec_id FROM (
       |$truthSql
       |) t),
       |approx AS (
       |SELECT q_id, vec_id FROM (
       |$approxSql
       |) a)
       |SELECT t.q_id,
       |  CAST(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
       |GROUP BY 1""".stripMargin
}
