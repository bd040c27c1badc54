package graft.oracle

import graft.functions.Winnow60.DefaultWindow
import graft.ops.DedupOps.defaultMaxBucket
import graft.oracle.DuckSql.{hash64, md5Bits, positions, topK, words}

/** DuckDB oracles of the dedup and decontamination family (`DedupOps`,
  * `Winnow60`): exact, MinHash/LSH, SimHash, n-gram, line/paragraph and
  * substring dedup over the augmented corpus (`documents` plus planted
  * near and exact copies), and the recall audits built on them.
  */
object DedupOracles {

  /** The same fingerprint as DuckDB SQL (naive per-window fold — the
    * oracle doesn't need to be fast, only equal). Bytes of the UTF-8
    * encoding are extracted as hex pairs of `hex(encode(text))`, so the
    * oracle hashes the same byte stream as the JVM side for ANY text.
    */
  private def winnow60(textExpr: String, window: Int = DefaultWindow): String =
    s"""CASE WHEN octet_length(encode($textExpr)) <= $window THEN
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, octet_length(encode($textExpr)) + 1),
       |      j -> CAST(('0x' || substr(hex(encode($textExpr)), CAST(2 * j - 1 AS INT), 2)) AS BIGINT))),
       |    (h, c) -> (h * 257 + c) % 2147483647)
       |ELSE
       |  list_min(list_transform(range(0, octet_length(encode($textExpr)) - $window + 1), i ->
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, $window + 1),
       |        j -> CAST(('0x' || substr(hex(encode($textExpr)), CAST(2 * (i + j) - 1 AS INT), 2)) AS BIGINT))),
       |      (h, c) -> (h * 257 + c) % 2147483647)))
       |END""".stripMargin

  /** The [[DedupOps.augmented]] corpus body as DuckDB SQL (keep in lockstep) —
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

  /** The same corpus as a DuckDB CTE (keep in lockstep with [[DedupOps.augmented]]). */
  private[oracle] val augmentedSql: String =
    s"corpus AS (\n$augmentedBodySql\n)"

  /** [[augmentedSql]] restricted to the content-addressed doc sample of
    * [[DedupOps.sampleBucketCol]]: seeded md5 bucket (0–255) < sampleBuckets. The
    * final CTE is still named `corpus`, so every oracle built over the
    * plain prefix composes unchanged over the sampled one. */
  private def sampledAugmentedSql(sampleBuckets: Int, seed: String): String =
    s"""corpus_all AS (
       |$augmentedBodySql
       |),
       |corpus AS (
       |  SELECT * FROM corpus_all
       |  WHERE ${md5Bits(s"CAST(doc_id AS VARCHAR) || ':r$seed'", 1, 2)} < $sampleBuckets
       |)""".stripMargin

  /** CO-ADDRESSED sampled corpus: the bucket is hashed from the BASE id
    * (`doc_id % 100000`), so an original and its planted near/exact
    * copies sample TOGETHER — the form an evaluation needs when the
    * estimand pairs a query with a specific truth document (retrieval
    * recall: dropping a query's truth while keeping the query would
    * turn corpus sampling into forced misses; co-addressing keeps each
    * surviving query's truth in the sampled corpus by construction,
    * exactly as every surviving truth pair of [[DedupOps.dedupRecallSampled]]
    * keeps both endpoints). Final CTE still `corpus`, so every oracle
    * over the plain prefix composes unchanged. */
  private[oracle] def coSampledAugmentedSql(sampleBuckets: Int, seed: String): String =
    s"""corpus_all AS (
       |$augmentedBodySql
       |),
       |corpus AS (
       |  SELECT * FROM corpus_all
       |  WHERE ${md5Bits(s"CAST(doc_id % 100000 AS VARCHAR) || ':r$seed'", 1, 2)} < $sampleBuckets
       |)""".stripMargin

  /** The doc_id → source map of [[DedupOps.augmentedSourced]] as a DuckDB CTE
    * body (keep in lockstep). */
  private val sourcedMapSql: String =
    """  SELECT doc_id, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, source || '_mirror' AS source
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, source
      |  FROM documents WHERE doc_id % 15 = 0""".stripMargin

  private val shingledCte =
    s"""shingled AS (
      |  SELECT doc_id,
      |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)] AS shingles
      |  FROM (SELECT doc_id, $words AS toks FROM corpus)
      |  WHERE len(toks) >= 3
      |)""".stripMargin

  /** `sigs` (doc_id, sig) over the `shingled` CTE: the DuckDB signature. */
  private def sigsCte(numPerm: Int): String =
    s"""sigs AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $numPerm), p ->
       |      list_min(list_transform(shingles, s ->
       |        ${hash64("CAST(p AS VARCHAR) || ':' || s")}))) AS sig
       |  FROM shingled)""".stripMargin

  /** `bands` (doc_id, band, band_key) over `sigs`: the DuckDB banding. */
  private def bandsCte(numPerm: Int): String = {
    val rows = numPerm / 4
    s"""bands AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b * $rows + 1 : b * $rows + $rows], ',') AS band_key
       |  FROM sigs, range(0, 4) t(b))""".stripMargin
  }

  /** The signature matrix as DuckDB CTEs over a corpus+shingled prefix
    * ([[corpusShingledCteOver]]): `sigs`, then `signatures` (doc_id,
    * perm, minhash) in long form. */
  private def minhashSignaturesCtesOver(prefix: String, numPerm: Int = 16): String =
    s"""$prefix,
       |${sigsCte(numPerm)},
       |signatures AS (
       |  SELECT doc_id, perm, sig[perm + 1] AS minhash
       |  FROM sigs, range(0, $numPerm) t(perm))""".stripMargin

  /** Same bands derivation as [[minhashPairsOracle]], aggregated to
    * bucket sizes with the same cap arithmetic and top-k tiebreak. */
  def minhashBucketStatsOracle(k: Int = 20,
                               maxBucket: Int = defaultMaxBucket): String =
    s"""$corpusShingledCte,
       |${sigsCte(16)},
       |${bandsCte(16)},
       |${bucketStats("band, band_key", "bands", k, maxBucket)}""".stripMargin

  /** The `k` largest buckets `keys` of `from` (ties by key), each with
    * its candidate-pair mass and what the `maxBucket` cap
    * (`BucketCap`) drops from it. */
  private[oracle] def bucketStats(keys: String, from: String, k: Int, maxBucket: Int): String =
    s"""sized AS (
       |  SELECT $keys, CAST(count(*) AS BIGINT) AS bucket_n FROM $from GROUP BY $keys)
       |${topK(s"""$keys, bucket_n,
                  |  CAST(bucket_n * (bucket_n - 1) // 2 AS BIGINT) AS cand_pairs,
                  |  CAST(greatest(bucket_n - $maxBucket, 0) AS BIGINT) AS dropped_n,
                  |  bucket_n > $maxBucket AS overflowed""".stripMargin,
              "sized", "", s"bucket_n DESC, ${keys.split(", ").map(_ + " ASC").mkString(", ")}", k)}""".stripMargin

  /** [[minhashPairsOracle]] embedded verbatim (nested-WITH idiom), pair
    * sides labeled by [[TextOracles.splitLabel]] — both the pair
    * derivation and the split rule stay single-sourced. A `def`, not a
    * `val`: it references [[minhashPairsOracle]], declared later in
    * this object (a val here would capture null at init). */
  def splitLeakageOracle: String =
    s"""WITH pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |$minhashPairsOracle
       |  ) mp),
       |lab AS (
       |  SELECT ${TextOracles.splitLabel("doc_a")} AS split_a,
       |    ${TextOracles.splitLabel("doc_b")} AS split_b, jaccard
       |  FROM pairs)
       |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  max(jaccard) AS max_jaccard
       |FROM lab WHERE split_a <> split_b GROUP BY 1, 2""".stripMargin

  /** [[clusterCtes]] (the shared pair-graph → component labeling chain)
    * + the same left-join/coalesce/split rule — every piece of the
    * assignment is single-sourced with the audit and cluster oracles. */
  def leakageSafeSplitOracle: String =
    s"""$clusterCtes,
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS sk
       |  FROM corpus d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
       |SELECT doc_id, ${TextOracles.splitLabel("sk")} AS split
       |FROM assigned""".stripMargin

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

  // lazy: corpusShingledCte is declared later in this object
  lazy val simhashShinglesOracle: String =
    s"""$corpusShingledCte,
       |${simhashCtes("unnest(shingles)", "shingled")}
       |SELECT doc_id, simhash FROM sigs""".stripMargin

  /** [[DedupOps.simhash]] over the `tokens` (an expression) of each `from`
    * row: `tok` hashes them, `votes` sums each of the 60 bits' ±1 votes
    * and `sigs` holds (doc_id, simhash). */
  private def simhashCtes(tokens: String, from: String): String =
    s"""tok AS (
       |  SELECT doc_id, ${hash64(tokens)} AS h
       |  FROM $from),
       |votes AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tok, range(0, 60) t(b) GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY 1)""".stripMargin

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
    // compose over the shared pairs CTE chain, never by string surgery
    // on its final SELECT: `pairs` carries (doc_a, doc_b, jaccard) and
    // edges read the id columns
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
       |counted AS (
       |  SELECT *, count(*) OVER (PARTITION BY label) AS cluster_size FROM sized)
       |${topK("label, doc_id AS rep_doc_id, CAST(cluster_size AS BIGINT) AS cluster_size, len AS rep_len",
              "counted", "label", "len DESC, doc_id ASC", 1)}""".stripMargin

  /** Paragraph-dedup oracle: same literal segmentation, same global
    * first-occurrence rank, string_agg reassembly ordered by position —
    * both sides derive the separator from the same `sep` value.
    * The positional unnest is bounded by the measured max segment count.
    */
  def paragraphDedupOracle(sep: String = ". "): String =
    segmentDedup(sep, "documents", "text_dedup", "ranked WHERE rn = 1",
      """ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
        |  FROM segs)""".stripMargin)

  /** Same literal-separator derivation contract as [[paragraphDedupOracle]];
    * the keep rule mirrors as `list_position(arr, seg) = pos` (both
    * 1-based first-occurrence indices).
    */
  def lineDedupOracle(sep: String = ". "): String =
    segmentDedup(sep, "documents", "text_dedup", "segs WHERE list_position(arr, seg) = pos")

  /** Boilerplate-strip oracle over the [[augmentedSql]] corpus: same
    * literal segmentation, same digest-keyed DF threshold, string_agg
    * reassembly ordered by position — separator and threshold both
    * derive from the same values as the Spark side. */
  def boilerplateStripOracle(sep: String = ". ", maxDf: Long = 1L): String =
    segmentDedup(sep, "corpus", "text_clean",
      "segs WHERE md5(seg) IN (SELECT h FROM rare)",
      s"""rare AS (
         |  SELECT md5(seg) AS h FROM segs
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) <= $maxDf)""".stripMargin,
      corpus = s"$augmentedSql,\n")

  /** The `sep`-segments of each `from` document that `kept` (a FROM
    * clause over `segs` and the `ctes`) admits, rejoined in order as
    * `text`, with their count and the document's segment count. `corpus`
    * defines `from` when it is not a table. */
  private def segmentDedup(sep: String, from: String, text: String, kept: String,
                           ctes: String = "", corpus: String = ""): String = {
    val q = sep.replace("'", "''")
    s"""WITH $corpus${segmentCtes(from, q)}${if (ctes.isEmpty) "" else s",\n$ctes"}
       |SELECT doc_id, string_agg(seg, '$q' ORDER BY pos) AS $text,
       |  count(*) AS n_kept, n_total
       |FROM $kept
       |GROUP BY doc_id, n_total""".stripMargin
  }

  /** `segs(doc_id, arr, n_total, pos, seg)`: the non-empty
    * `q`-separated segments `arr` of each `from(doc_id, text)` document,
    * one row per segment at its 1-based position. */
  private def segmentCtes(from: String, q: String): String =
    s"""arrs AS (
       |  SELECT doc_id, list_filter(string_split(text, '$q'), s -> len(s) > 0) AS arr
       |  FROM $from),
       |segs AS (
       |  SELECT doc_id, arr, CAST(len(arr) AS BIGINT) AS n_total, i AS pos, arr[i] AS seg
       |  FROM arrs, ${positions("len(arr)")})""".stripMargin

  /** The benchmark slice that decontamination tests against, and the
    * rest of the corpus (lockstep with [[DedupOps.decontaminate]]). */
  private val benchDocs = "doc_id % 50 = 0"
  private val trainDocs = "doc_id % 50 <> 0"

  /** Word n-gram digests (lockstep with [[DedupOps.gramDigests]]):
    * `gpos(doc_id, i, g)` at each 1-based start `i`, `grams` distinct
    * per document, and `bench`, the distinct grams of the benchmark. */
  private def gramCtes(n: Int): String =
    s"""WITH gpos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    md5(array_to_string(toks[i:i+${n - 1}], ' ')) AS g
       |  FROM (SELECT doc_id, $words AS toks FROM documents),
       |    ${positions(s"len(toks) - ${n - 1}")}),
       |grams AS (SELECT DISTINCT doc_id, g FROM gpos),
       |bench AS (SELECT DISTINCT g FROM grams WHERE $benchDocs)""".stripMargin

  /** [[gramCtes]] plus the benchmark-gram spans of each document, by the
    * same interval-merge arithmetic as the Spark side. */
  private def gramPosCtes(n: Int): String =
    s"""${gramCtes(n)},
       |hits AS (
       |  SELECT doc_id, i, i + ${n - 1} AS e FROM gpos
       |  WHERE $trainDocs AND g IN (SELECT g FROM bench)),
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
       |  FROM (SELECT doc_id, $words AS toks FROM documents WHERE $trainDocs),
       |    ${positions("len(toks)")}),
       |kept AS (
       |  SELECT tok.doc_id, i, t FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s
       |    WHERE s.doc_id = tok.doc_id AND i BETWEEN s.span_start AND s.span_end)),
       |joined AS (
       |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text_clean
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(j.text_clean, '') AS text_clean
       |FROM (SELECT doc_id FROM documents WHERE $trainDocs) d
       |LEFT JOIN joined j USING (doc_id)""".stripMargin

  def decontaminateOracle(n: Int = 8): String =
    s"""${gramCtes(n)},
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE $trainDocs AND g IN (SELECT g FROM bench))
       |SELECT doc_id, lang, source FROM documents
       |WHERE $trainDocs AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin

  def contaminationScoreOracle(n: Int = 8): String =
    s"""${gramCtes(n)}
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) AS frac
       |FROM grams WHERE $trainDocs
       |GROUP BY doc_id""".stripMargin

  /** `pos(doc_id, i, g)`: the md5 `g` of every `k`-character substring
    * of each document at its 1-based start `i`. */
  private def substringCte(k: Int): String =
    s"""pos AS (
       |  SELECT doc_id, i, md5(substr(text, i, $k)) AS g
       |  FROM documents, ${positions(s"length(text) - ${k - 1}")})""".stripMargin

  /** Same formulation in DuckDB: positional substrings, identical
    * grouping, one IEEE division on exactly-counted integers. */
  def substringDupOracle(k: Int = 20): String =
    s"""WITH ${substringCte(k)},
       |local AS (SELECT doc_id, g, count(*) AS m FROM pos GROUP BY 1, 2),
       |tot AS (SELECT *, sum(m) OVER (PARTITION BY g) AS c FROM local)
       |SELECT doc_id,
       |  CAST(sum(m) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN c > 1 THEN m ELSE 0 END) AS BIGINT) AS dup_grams,
       |  CAST(CAST(sum(CASE WHEN c > 1 THEN m ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) AS dup_frac
       |FROM tot GROUP BY doc_id""".stripMargin

  /** Span-removal oracle — an INDEPENDENT per-character formulation (not a
    * mirror of the interval fold): a char survives iff no duplicated gram
    * occurrence in the same document covers it; survivors are re-joined by
    * position with string_agg. Clearly correct; efficiency irrelevant at
    * oracle scale.
    */
  def substringDedupOracle(k: Int = 20): String =
    s"""WITH ${substringCte(k)},
       |marked AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
       |    FROM pos)
       |  WHERE rn > 1),
       |chars AS (
       |  SELECT d.doc_id, d.text, c
       |  FROM documents d, ${positions("length(d.text)", "c")}),
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

  lazy val dedupPipelineOracle: String =
    s"""$corpusShingledCte,
       |exact_keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
       |$candidateCtes,
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

  /** Incremental-dedup oracle over the same partitioned corpus: index =
    * the base documents (doc_id < 100000 in [[DedupOps.augmented]]), delta = the
    * injected copies; identical banding, signature-agreement estimator,
    * min-candidate labeling.
    */
  def dedupIncrementalOracle(minEst: Double = 0.5, numPerm: Int = 16): String =
    s"""$corpusShingledCte,
       |${sigsCte(numPerm)},
       |${bandsCte(numPerm)},
       |ibands AS (SELECT * FROM bands WHERE doc_id < 100000),
       |dbands AS (SELECT * FROM bands WHERE doc_id >= 100000),
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

  /** Shared CTE prefix (corpus + shingled) over ANY corpus-producing CTE
    * chain whose final CTE is named `corpus` — the composition point the
    * sampled-recall oracle uses to re-derive every pair oracle over the
    * sampled corpus without touching their SQL. */
  private def corpusShingledCteOver(corpusCtes: String): String =
    s"WITH $corpusCtes,\n$shingledCte"

  /** Shared CTE prefix: corpus + shingled. */
  private[oracle] val corpusShingledCte: String = corpusShingledCteOver(augmentedSql)

  /** Shared CTE prefix over the plain `documents` table (no injected
    * copies): corpus + shingled. */
  private[oracle] val documentsShingledCte: String =
    corpusShingledCteOver("corpus AS (SELECT doc_id, text FROM documents)")

  val exactDedupSql: String =
    s"""WITH ${augmentedSql}
       |SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
       |FROM corpus GROUP BY 1""".stripMargin

  val minhashSignaturesOracle: String =
    s"""${minhashSignaturesCtesOver(corpusShingledCte)}
       |SELECT doc_id, perm, minhash FROM signatures""".stripMargin

  private val jaccardCtes =
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

  /** `cand(doc_a, doc_b)`: the distinct document pairs that share a
    * band key of the 16-permutation signatures of `shingled`. */
  private def candidateCtes: String =
    s"""${sigsCte(16)},
       |${bandsCte(16)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  /** The banded-LSH pair derivation as a reusable CTE chain ending in a
    * `pairs` CTE — [[minhashPairsOracleOver]] selects from it directly;
    * the triplet-mining oracle composes negatives on top of it. */
  private[oracle] def minhashPairsCtesOver(prefix: String): String =
    s"""$prefix,
       |$candidateCtes,
       |$jaccardCtes,
       |pairs AS (
       |  SELECT jac.doc_a, jac.doc_b, jaccard
       |  FROM jac JOIN cand ON jac.doc_a = cand.doc_a AND jac.doc_b = cand.doc_b
       |  WHERE jaccard >= 0.5)""".stripMargin

  /** [[minhashPairsOracle]] parameterized over its corpus+shingled CTE
    * prefix ([[corpusShingledCteOver]]) — the sampled-recall oracle
    * composes the same SQL over the sampled corpus. */
  private def minhashPairsOracleOver(prefix: String): String =
    s"""${minhashPairsCtesOver(prefix)}
       |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin

  val minhashPairsOracle: String = minhashPairsOracleOver(corpusShingledCte)

  /** [[ngramJaccardOracle]] parameterized over its CTE prefix (same
    * composition point as [[minhashPairsOracleOver]]). */
  private def ngramJaccardOracleOver(prefix: String): String =
    s"""$prefix,
       |$jaccardCtes
       |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5""".stripMargin

  val ngramJaccardOracle: String = ngramJaccardOracleOver(corpusShingledCte)

  /** Explode-form simhash oracle — same votes/bits as [[DedupOps.simhash]], written
    * as plain unnest+groupBy SQL (clearly correct; efficiency irrelevant
    * for the oracle).
    */
  val simhashOracle: String =
    s"""WITH $augmentedSql,
       |${simhashCtes(s"unnest($words)", "corpus")}
       |SELECT doc_id, simhash FROM sigs""".stripMargin

  /** Shared candidate CTE chain (corpus → simhash → chunk join → `pairs`):
    * [[simhashPairsOracle]] and [[editDistPairsOracle]] both compose onto
    * this prefix, so the candidate generation can never silently diverge
    * between the two oracles.
    */
  private val simhashCandidateCtes: String =
    s"""WITH $augmentedSql,
       |${simhashCtes(s"unnest($words)", "corpus")},
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

  val winnowFingerprintsOracle: String =
    s"SELECT doc_id, ${winnow60("text")} AS wfp FROM documents"

  val sourceSignaturesOracle: String =
    s"""${minhashSignaturesCtesOver(documentsShingledCte)}
       |SELECT source, perm, min(minhash) AS minhash
       |FROM signatures JOIN documents USING (doc_id)
       |GROUP BY 1, 2""".stripMargin

  val sourceOverlapOracle: String =
    s"""${minhashSignaturesCtesOver(documentsShingledCte)},
       |gsigs AS (
       |  SELECT source, perm, min(minhash) AS minhash
       |  FROM signatures JOIN documents USING (doc_id)
       |  GROUP BY 1, 2)
       |SELECT a.source AS group_a, b.source AS group_b,
       |  CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_match,
       |  CAST(CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT)
       |    AS DOUBLE) / 16.0 AS jaccard_est
       |FROM gsigs a JOIN gsigs b ON a.perm = b.perm AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin
}
