package graft.oracle

import graft.ops.BpeOps.{frozenMerges, trainedMergesSf0p01}
import graft.ops.TextOps.stopwords
import graft.oracle.DuckSql.{md5Bits, orderedSum, positions, topK, words}

/** DuckDB oracles of the text family (`TextOps`, `BpeOps`,
  * `FrequencyOps`): tokenization, quality gates, language models, BPE,
  * heavy hitters, mixing and packing.
  */
object TextOracles {

  /** The number of stopwords among the space tokens of `text`. */
  private val stopCount: String =
    s"len(list_filter($words, w -> w IN (${stopwords.map(w => s"'$w'").mkString(", ")})))"

  /** The space-token count of `text` as `n_tokens`. */
  private val nTokens: String = s"CAST(len($words) AS BIGINT) AS n_tokens"

  /** `cum_excl`: the `n_tokens` of the rows before this one within
    * `partition` in `order` — the packing prefix-sum. */
  private def cumExcl(partition: String, order: String): String =
    s"""CAST(sum(n_tokens) OVER (PARTITION BY $partition ORDER BY $order
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS cum_excl""".stripMargin

  /** `(cols, pos, w1, w2)`: the adjacent space-token pairs of the rows of
    * `from` that satisfy `where`, at 1-based position `pos`. */
  private def bigrams(from: String, where: String, cols: String = ""): String =
    s"""SELECT ${cols}i AS pos, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
       |  FROM (SELECT ${cols}$words AS t FROM $from WHERE $where), ${positions("len(t) - 1")}""".stripMargin

  /** The bigram model of `bg(w1, w2)`: lm(w1, w2, cnt, p_cond) with
    * p_cond = cnt / (the count of w1's bigrams), one IEEE division. */
  private def lmCte(bg: String): String =
    s"""lm AS (
       |  SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
       |    CAST(CAST(cnt AS BIGINT) AS DOUBLE) /
       |      CAST(CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS DOUBLE) AS p_cond
       |  FROM (SELECT w1, w2, count(*) AS cnt FROM $bg GROUP BY 1, 2))""".stripMargin

  def bpePairCountsOracle(topK: Int = 200): String =
    s"""WITH words AS (
       |  SELECT w AS word, count(*) AS freq
       |  FROM (SELECT unnest($words) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |pairs AS (
       |  SELECT substr(word, CAST(i AS INT), 2) AS pair,
       |         CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM words, ${positions("len(word) - 1")}
       |  GROUP BY 1)
       |SELECT pair, cnt FROM pairs ORDER BY cnt DESC, pair ASC LIMIT $topK""".stripMargin

  def bpeTrainSegmentOracle(): String = bpeSegmentOracle(trainedMergesSf0p01)

  /** Oracle generated FROM THE SAME frozen merge sequence (the
    * hilbert-oracle idiom: structurally incapable of diverging from the
    * Scala loop) but via an INDEPENDENT formulation: each word's symbol
    * list is encoded as a U+001F-joined string and each merge (a, b) is
    * one `replace(s, 'a'||chr(31)||'b', 'ab')` — SQL replace scans
    * left-to-right non-overlapping, which is exactly [[BpeOps.mergePair]]'s
    * greedy fold semantics, so agreement cross-checks the fold against a
    * second implementation rather than mirroring it textually.
    * Single-quotes in merge symbols are SQL-escaped (doubled).
    *
    * The replace-chain must not match ACROSS symbol boundaries: a bare
    * `a||sep||b` pattern also fires when `b` is a proper PREFIX of the
    * following symbol (merge ('c','o') on syms [s, c, or, e] would
    * rewrite to [s, cor, e] while [[BpeOps.mergePair]] leaves the word
    * untouched). So the string is wrapped in separators and the chain
    * matches `sep||a||sep||b||sep`, replacing with `sep||ab||sep` —
    * both symbols delimited on BOTH sides. Adjacent occurrences share a
    * separator, so one replace pass skips every other member of an
    * adjacency chain; for a != b the
    * survivors are isolated between pass-1 rewrites and a SECOND pass
    * merges them all (for a == b the pairing itself is ambiguous under
    * string replace — rejected loudly below; [[BpeOps.mergePair]] remains the
    * semantics of record).
    */
  def bpeSegmentOracle(merges: Seq[(String, String)] = frozenMerges): String = {
    require(merges.forall { case (a, b) => a != b },
      "bpeSegmentOracle: the replace-chain formulation cannot express " +
        "greedy pairing for a merge with identical sides (a == b)")
    def esc(s: String) = s.replace("'", "''")
    val chain = merges.zipWithIndex.map { case ((a, b), k) =>
      val pat = s"chr(31) || '${esc(a)}' || chr(31) || '${esc(b)}' || chr(31)"
      val rep = s"chr(31) || '${esc(a + b)}' || chr(31)"
      s"""m${k + 1} AS (SELECT word, freq,
         |  replace(replace(s, $pat, $rep), $pat, $rep) AS s
         |  FROM m$k)""".stripMargin
    }
    s"""WITH w AS (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($words) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |m0 AS (
       |  SELECT word, freq,
       |    chr(31) || array_to_string(list_transform(range(1, len(word) + 1),
       |      i -> substr(word, CAST(i AS INT), 1)), chr(31)) || chr(31) AS s
       |  FROM w WHERE strpos(word, chr(31)) = 0),
       |${chain.mkString(",\n")}
       |SELECT word, freq,
       |  CAST(len(string_split(trim(s, chr(31)), chr(31))) AS BIGINT) AS n_syms,
       |  trim(s, chr(31)) AS segmented
       |FROM m${merges.length}""".stripMargin
  }

  def heavyHittersBySourceOracle(k: Int = 5, capacity: Int = 1024,
                                 guaranteedOnly: Boolean = false): String = {
    s"""WITH t AS (
       |  SELECT source, tok FROM (SELECT source, unnest($words) AS tok FROM documents)
       |  WHERE len(tok) > 0),
       |n AS (SELECT source, count(*) AS n FROM t GROUP BY 1),
       |c AS (SELECT source, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
       |r AS (${topK("source, tok, cnt", "c", "source", "cnt DESC, tok ASC", k)})
       |SELECT r.source, tok, cnt, cnt > n.n // ${capacity + 1} AS guaranteed
       |FROM r JOIN n USING (source)${if (guaranteedOnly) s" WHERE cnt > n.n // ${capacity + 1}" else ""}""".stripMargin
  }

  /** DuckDB twin: exact top-k with the same tiebreak and the same
    * guarantee arithmetic (the oracle computes the flag from the exact
    * total, which equals the operator's N by construction).
    */
  def heavyHittersOracle(k: Int = 20, capacity: Int = 4096,
                         guaranteedOnly: Boolean = false): String =
    s"""WITH t AS (
       |  SELECT tok FROM (SELECT unnest($words) AS tok FROM documents)
       |  WHERE len(tok) > 0),
       |${heavyTail(k, capacity, guaranteedOnly)}""".stripMargin

  /** The exact top `k` of the tokens `t(tok)`, ties to the smaller token,
    * each flagged `guaranteed` when its count exceeds N / (capacity + 1),
    * the Misra-Gries guarantee (N = the token total). */
  private def heavyTail(k: Int, capacity: Int, guaranteedOnly: Boolean): String =
    s"""n AS (SELECT count(*) AS n FROM t),
       |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
       |r AS (
       |  SELECT tok, cnt, cnt > n // ${capacity + 1} AS guaranteed
       |  FROM c, n
       |  ORDER BY cnt DESC, tok ASC
       |  LIMIT $k)
       |SELECT tok, cnt, guaranteed FROM r${if (guaranteedOnly) " WHERE guaranteed" else ""}""".stripMargin

  def heavyNgramsOracle(k: Int = 20, capacity: Int = 4096,
                        guaranteedOnly: Boolean = false): String =
    s"""${DedupOracles.documentsShingledCte},
       |t AS (SELECT unnest(shingles) AS tok FROM shingled),
       |${heavyTail(k, capacity, guaranteedOnly)}""".stripMargin

  /** DuckDB twin of [[TextOps.bm25TopK]] — same map-side query-vocab filter
    * (expressed as a semi join), same single-IEEE-op composition, same
    * term-ordered left fold, same (score DESC, doc_id ASC) tiebreak. */
  def bm25TopKOracle(nQueries: Int = 8, k: Int = 5): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${RetrievalOracles.sparseCtes(s"doc_id < $nQueries", k)}
       |SELECT q_id, doc_id, n_terms, score, rank FROM stop""".stripMargin

  /** Repetition oracle: same segmentation/bigrams, same single-division
    * IEEE arithmetic (sum cast through BIGINT before DOUBLE — DuckDB
    * sums BIGINT into HUGEINT).
    */
  val docRepetitionOracle: String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, '. '), s -> len(s) > 0) AS segs,
      |    $words AS toks
      |  FROM documents),
      |seg_stats AS (
      |  SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_segs,
      |    1.0 - CAST(len(list_distinct(segs)) AS DOUBLE) / CAST(len(segs) AS DOUBLE)
      |      AS dup_seg_frac
      |  FROM base WHERE len(segs) > 0),
      |bigrams AS (
      |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
      |  FROM base, ${positions("len(toks) - 1")}),
      |counts AS (
      |  SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id,
      |    CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
      |      AS top_bigram_frac
      |  FROM counts GROUP BY 1)
      |SELECT s.doc_id, s.n_segs, s.dup_seg_frac,
      |  COALESCE(t.top_bigram_frac, 0.0) AS top_bigram_frac
      |FROM seg_stats s LEFT JOIN top t ON s.doc_id = t.doc_id""".stripMargin

  def qualityFilterOracle: String =
    s"""SELECT doc_id, n_tokens, stop_ratio, quality_score
       |FROM (${textStatsSql()})
       |WHERE n_tokens >= 20 AND stop_ratio <= 0.3 AND avg_token_len <= 8.0""".stripMargin

  def qualityPercentileFilterOracle(p: Double = 0.5): String =
    s"""WITH scored AS (${textStatsSql()}),
       |t AS (SELECT quantile_cont(quality_score, $p) AS thr FROM scored)
       |SELECT doc_id, n_tokens, quality_score, thr
       |FROM scored, t WHERE quality_score >= thr""".stripMargin

  /** The [[TextOps.textStats]] derivation as DuckDB SQL, with optional kept
    * pass-through columns — ONE string builder so every quality oracle
    * (global gate, percentile gate, Gopher battery, per-source
    * calibration) shares the score formula instead of re-spelling it.
    */
  def textStatsSql(keep: Seq[String] = Nil): String = {
    val k = keep.map(c => s"$c, ").mkString
    s"""SELECT doc_id, ${k}n_tokens, n_chars, n_stop,
       |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
       |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |  least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100) *
       |    (CAST(1.0 AS DOUBLE) - CAST(n_stop AS DOUBLE) / n_tokens) AS quality_score
       |FROM (
       |  SELECT doc_id, ${k}len($words) AS n_tokens, length(text) AS n_chars,
       |    $stopCount AS n_stop
       |  FROM documents)""".stripMargin
  }

  def qualityCalibratedOracle(p: Double = 0.5): String =
    s"""WITH scored0 AS (${textStatsSql(Seq("source"))}),
       |scored AS (SELECT * FROM scored0 WHERE quality_score IS NOT NULL),
       |r AS (
       |  SELECT doc_id, source, quality_score,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY quality_score, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM scored)
       |SELECT doc_id, source, quality_score,
       |  CAST(rn - 1 AS DOUBLE) / greatest(n - 1, 1) AS pct
       |FROM r
       |WHERE CAST(rn - 1 AS DOUBLE) / greatest(n - 1, 1) >= $p""".stripMargin

  /** Gopher-gate oracle: same stats + repetition CTEs joined on doc_id,
    * same thresholds (single source of truth via the shared defaults),
    * flags as CASE→BIGINT, keep as the flag product. */
  def gopherGateOracle(minTokens: Long = 20L, maxTokens: Long = 100000L,
                       minAvgLen: Double = 3.0, maxAvgLen: Double = 4.6,
                       minStopRatio: Double = 0.02,
                       maxDupSegFrac: Double = 0.3,
                       maxTopBigramFrac: Double = 0.06): String =
    s"""WITH stats AS (${textStatsSql()}),
       |rep AS (SELECT * FROM ($docRepetitionOracle) r),
       |flags AS (
       |  SELECT s.doc_id,
       |    CAST(CASE WHEN s.n_tokens >= $minTokens AND s.n_tokens <= $maxTokens
       |      THEN 1 ELSE 0 END AS BIGINT) AS f_len,
       |    CAST(CASE WHEN s.avg_token_len >= $minAvgLen AND s.avg_token_len <= $maxAvgLen
       |      THEN 1 ELSE 0 END AS BIGINT) AS f_avg_len,
       |    CAST(CASE WHEN s.stop_ratio >= $minStopRatio
       |      THEN 1 ELSE 0 END AS BIGINT) AS f_stop,
       |    CAST(CASE WHEN r.dup_seg_frac <= $maxDupSegFrac
       |      THEN 1 ELSE 0 END AS BIGINT) AS f_dup_seg,
       |    CAST(CASE WHEN r.top_bigram_frac <= $maxTopBigramFrac
       |      THEN 1 ELSE 0 END AS BIGINT) AS f_top_bigram
       |  FROM stats s JOIN rep r ON s.doc_id = r.doc_id)
       |SELECT doc_id, f_len, f_avg_len, f_stop, f_dup_seg, f_top_bigram,
       |  f_len * f_avg_len * f_stop * f_dup_seg * f_top_bigram AS keep
       |FROM flags""".stripMargin

  def vocabEncodeOracle(vocabSize: Int = 16): String =
    s"""WITH flat AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
      |  FROM (SELECT doc_id, $words AS toks FROM documents), ${positions("len(toks)")}),
      |vocab AS (
      |  SELECT tok, CAST(row_number() OVER (ORDER BY df DESC, tok ASC) - 1 AS BIGINT) AS token_id
      |  FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1)
      |  QUALIFY row_number() OVER (ORDER BY df DESC, tok ASC) <= $vocabSize)
      |SELECT f.doc_id, f.pos, coalesce(v.token_id, -1) AS token_id
      |FROM flat f LEFT JOIN vocab v ON f.tok = v.tok""".stripMargin

  val bigramLmOracle: String =
    s"""WITH ${lmCte(s"(${bigrams("documents", "TRUE")})")}
       |SELECT w1, w2, cnt, p_cond FROM lm""".stripMargin

  /** Oracle for the registered `lm_score_heldout` query: train on every
    * source EXCEPT the lexicographically first, score that held-out
    * source's documents.
    */
  val lmLikelihoodAgainstOracle: String =
    s"""WITH held AS (SELECT min(source) AS src FROM documents),
      |${lmCte(s"(${bigrams("documents, held", "source <> held.src")})")},
      |bg AS (${bigrams("documents, held", "source = held.src", "doc_id, ")}),
      |j AS (SELECT b.doc_id, b.pos,
      |             coalesce(l.p_cond, CAST(0.0 AS DOUBLE)) AS p,
      |             CASE WHEN l.p_cond IS NULL THEN 1 ELSE 0 END AS is_oov
      |      FROM bg b LEFT JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(CAST(sum(is_oov) AS BIGINT) AS BIGINT) AS oov,
      |  min(p) AS min_p,
      |  ${orderedSum("p", "pos")} / count(*) AS avg_p
      |FROM j GROUP BY doc_id""".stripMargin

  val lmLikelihoodOracle: String =
    s"""WITH bg AS (${bigrams("documents", "TRUE", "doc_id, ")}),
      |${lmCte("bg")},
      |j AS (SELECT b.doc_id, b.pos, l.p_cond
      |      FROM bg b JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, min(p_cond) AS min_p,
      |  ${orderedSum("p_cond", "pos")} / count(*) AS avg_p
      |FROM j GROUP BY doc_id""".stripMargin

  def corpusPrepOracle(minTokens: Long = 20, maxStopRatio: Double = 0.3,
                       maxAvgTokenLen: Double = 8.0): String =
    s"""WITH base AS (${textStatsSql(Seq("text", "source"))}),
       |kept AS (
       |  SELECT doc_id, source, n_tokens,
       |    regexp_replace(regexp_replace(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |      '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g') AS text_clean
       |  FROM base
       |  WHERE n_tokens >= $minTokens AND stop_ratio <= $maxStopRatio
       |    AND avg_token_len <= $maxAvgTokenLen),
       |deduped AS (${topK("doc_id, source, n_tokens", "kept", "md5(text_clean)", "doc_id", 1)})
       |SELECT source, ${splitLabel("doc_id")} AS split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM deduped
       |GROUP BY 1, 2""".stripMargin

  def curationReportOracle: String =
    s"""WITH per_doc AS (
       |  SELECT source, lang, md5(text) AS fp, n_chars, $nTokens,
       |    CAST($stopCount AS BIGINT) AS n_stop
       |  FROM documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
       |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_extra,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(sum(CASE WHEN n_tokens >= 20 AND n_stop * 2 <= n_tokens
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
       |FROM per_doc GROUP BY source""".stripMargin

  def chunkDocumentsOracle(window: Int = 64, stride: Int = 48): String =
    s"""WITH t AS (
       |  SELECT doc_id, $words AS toks, CAST(len($words) AS BIGINT) AS n
       |  FROM documents),
       |ex AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(0, greatest(0, (n - $window + ${stride - 1}) // $stride) + 1)) AS i
       |  FROM t)
       |SELECT doc_id, i AS chunk_id, i * $stride AS start_pos,
       |  CAST(least($window, n - i * $stride) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(toks[CAST(i * $stride + 1 AS BIGINT) :
       |                       CAST(i * $stride + $window AS BIGINT)], ' ') AS chunk
       |FROM ex""".stripMargin

  def unigramScoresOracle(vocabSize: Int = 16): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($words) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok, cnt FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
       |  ORDER BY cnt DESC, tok ASC LIMIT $vocabSize)
       |SELECT t.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS oov_frac,
       |  CAST(CAST(sum(coalesce(v.cnt, 0)) AS BIGINT) AS DOUBLE)
       |    / count(*) AS mean_freq
       |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       |GROUP BY t.doc_id""".stripMargin

  val piiScrubOracle: String =
    """WITH raw AS (
      |  SELECT doc_id, source,
      |    concat(text, ' contact user', doc_id, '@mail.example.com from 10.',
      |           doc_id % 256, '.0.', doc_id % 200 + 1) AS raw
      |  FROM documents)
      |SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(raw,
      |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS scrubbed
      |FROM raw""".stripMargin

  def kAnonymityGateOracle(k: Int = 10, bandChars: Int = 200): String =
    s"""SELECT lang, source, n_chars // $bandChars AS len_band,
       |  count(*) AS group_n,
       |  count(*) >= $k AS released,
       |  CASE WHEN count(*) >= $k THEN 0 ELSE count(*) END AS suppressed_docs
       |FROM documents
       |GROUP BY 1, 2, 3""".stripMargin

  /** The split bucket/label as DuckDB SQL over an id expression — THE
    * one derivation ([[hashSplitOracle]] and the split-leakage oracle
    * both compose it, so the split rule cannot silently diverge
    * between them). */
  private def splitBucket(id: String): String = md5Bits(s"CAST($id AS VARCHAR)", 1, 2)

  private[oracle] def splitLabel(id: String): String =
    s"""CASE WHEN ${splitBucket(id)} < 230 THEN 'train'
       |       WHEN ${splitBucket(id)} < 243 THEN 'valid'
       |       ELSE 'test' END""".stripMargin

  val hashSplitOracle: String =
    s"""SELECT doc_id, source,
       |  ${splitBucket("doc_id")} AS bucket,
       |  ${splitLabel("doc_id")} AS split
       |FROM documents""".stripMargin

  /** Same distinct-then-rank in DuckDB, on the sharded packing oracle. */
  def packShardsDenseOracle(capacity: Long = 2048, shards: Int = 8): String =
    s"""WITH packed AS (
       |${packSequencesShardedOracle(capacity, shards)}
       |),
       |packs AS (SELECT DISTINCT source, pack_id FROM packed)
       |SELECT source, pack_id,
       |  CAST(dense_rank() OVER (ORDER BY source, pack_id) - 1 AS BIGINT)
       |    AS dense_id
       |FROM packs""".stripMargin

  /** Same shard windows, local quota-fill, and shard-encoded ids in
    * DuckDB. */
  def packSequencesShardedOracle(capacity: Long = 2048, shards: Int = 8): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, $nTokens, CAST(doc_id % $shards AS BIGINT) AS shard
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, source, shard, n_tokens, ${cumExcl("source, shard", "doc_id")}
       |  FROM toks)
       |SELECT doc_id, source, shard, n_tokens,
       |  shard * ${1L << 40} + cum_excl // $capacity AS pack_id,
       |  cum_excl % $capacity AS pack_offset
       |FROM cum""".stripMargin

  /** Shared oracle prefix: per-source exclusive token prefix-sums —
    * [[packSequencesOracle]] and [[packSplitOracle]] both build on this
    * subquery so the cum_excl derivation cannot diverge. */
  private val cumExclSql: String =
    s"""SELECT doc_id, source, n_tokens, ${cumExcl("source", "doc_id")}
       |  FROM (SELECT doc_id, source, $nTokens FROM documents)""".stripMargin

  def packSequencesOracle(capacity: Long = 2048): String =
    s"""SELECT doc_id, source, n_tokens,
       |  cum_excl // $capacity AS pack_id,
       |  cum_excl % $capacity AS pack_offset
       |FROM (
       |  $cumExclSql)""".stripMargin

  /** A document's mixing bucket (0–255): md5 hex digits 3–4 of doc_id. */
  private val mixBucket: String = md5Bits("CAST(doc_id AS VARCHAR)", 3, 2)

  val sourceMixOracle: String =
    s"""SELECT source, count(*) AS n_kept,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
      |FROM documents
      |WHERE ${mixBucket} <
      |      (CAST(substr(source, 4) AS BIGINT) % 4 + 1) * 64
      |GROUP BY 1""".stripMargin

  /** Oracle generated from the SAME rates map (CASE dimension + bounded
    * range join for replication) so query and oracle cannot diverge. */
  def sourceMixUpsampleOracle(rates: Map[String, Double],
                              defaultRate: Double = 1.0): String = {
    val cases = rates.toSeq.sortBy(_._1)
      .map { case (s, r) => s"WHEN source = '$s' THEN $r" }.mkString(" ")
    s"""WITH rated AS (
       |  SELECT source, n_chars,
       |    CAST(floor((CASE $cases ELSE $defaultRate END) * 256.0 + 0.5)
       |      AS BIGINT) AS r256,
       |    $mixBucket AS bucket
       |  FROM documents),
       |copies AS (
       |  SELECT source, n_chars,
       |    r256 // 256 + CASE WHEN bucket < r256 % 256 THEN 1 ELSE 0 END AS n_copies
       |  FROM rated),
       |rep AS (
       |  SELECT source, n_chars
       |  FROM copies, ${positions("n_copies", "c")})
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
       |FROM rep GROUP BY 1""".stripMargin
  }

  /** Oracle recomputes the α=0.5 rates in SQL: same sqrt, same
    * lexicographic-ordered fold for the total, same left-associated
    * (B·√n / tot / n) op order, same 1/256 round-half-up grid. */
  def sourceTemperatureMixOracle(budgetFrac: Double = 0.5): String =
    s"""WITH sc AS (SELECT source, CAST(count(*) AS BIGINT) AS n
       |            FROM documents WHERE source IS NOT NULL GROUP BY 1),
       |tot AS (SELECT
       |  CAST((SELECT CAST(sum(n) AS BIGINT) FROM sc) AS DOUBLE) * $budgetFrac AS b,
       |  (SELECT ${orderedSum("sqrt(CAST(n AS DOUBLE))", "source")} FROM sc) AS sqrt_tot),
       |rates AS (
       |  SELECT source,
       |    least(CAST(1.0 AS DOUBLE),
       |          b * sqrt(CAST(n AS DOUBLE)) / sqrt_tot / CAST(n AS DOUBLE)) AS rate
       |  FROM sc, tot),
       |gated AS (
       |  SELECT d.source, d.n_chars
       |  FROM documents d JOIN rates r USING (source)
       |  WHERE $mixBucket < CAST(floor(rate * 256.0 + 0.5) AS BIGINT))
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
       |FROM gated GROUP BY 1""".stripMargin

  def packSpansOracle(capacity: Long = 2048): String =
    s"""SELECT source, pack_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       |  string_agg(doc_id || ':' || pack_offset || ':' || n_tokens,
       |             ',' ORDER BY pack_offset) AS spans
       |FROM (${packSequencesOracle(capacity)})
       |GROUP BY 1, 2""".stripMargin

  def packSplitOracle(capacity: Long = 2048): String =
    s"""WITH packed AS (
       |  $cumExclSql),
       |frags AS (
       |  SELECT doc_id, source, n_tokens, cum_excl, p AS pack_id
       |  FROM packed, unnest(range(cum_excl // $capacity,
       |                            (cum_excl + n_tokens - 1) // $capacity + 1)) AS ix(p))
       |SELECT doc_id, source, pack_id,
       |  greatest(0, pack_id * $capacity - cum_excl) AS doc_offset,
       |  greatest(0, cum_excl - pack_id * $capacity) AS pack_offset,
       |  least((pack_id + 1) * $capacity, cum_excl + n_tokens)
       |    - greatest(pack_id * $capacity, cum_excl) AS frag_len
       |FROM frags""".stripMargin

  def valueHistogramOracle(width: Double = 50.0): String =
    s"""SELECT event_type,
       |  CAST(floor(value / $width) AS BIGINT) AS bin, count(*) AS n,
       |  CAST(sum(CAST(value * 100 AS DECIMAL(18,0))) AS DOUBLE) / 100.0
       |    AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  def corpusShuffleOracle(seed: String = "42"): String =
    s"""SELECT shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
       |  doc_id, source
       |FROM (
       |  SELECT doc_id, source,
       |    md5(CAST(doc_id AS VARCHAR) || ':$seed') AS shuffle_key,
       |    ${md5Bits(s"CAST(doc_id AS VARCHAR) || ':$seed'", 1, 2)} AS shard
       |  FROM documents)""".stripMargin

  def tokenBudgetMixOracle(budget: Long = 4096, seed: String = "42"): String =
    s"""SELECT doc_id, source, n_tokens, cum_excl FROM (
       |  SELECT doc_id, source, n_tokens, ${cumExcl("source", "mix_key, doc_id")}
       |  FROM (SELECT doc_id, source, $nTokens,
       |          md5(CAST(doc_id AS VARCHAR) || ':b$seed') AS mix_key
       |        FROM documents))
       |WHERE cum_excl < $budget""".stripMargin

  def qualityBudgetMixOracle(budget: Long = 4096): String =
    s"""SELECT doc_id, source, n_tokens, quality_score, cum_excl FROM (
       |  SELECT *, ${cumExcl("source", "quality_score DESC, doc_id")}
       |  FROM (${textStatsSql(Seq("source"))}))
       |WHERE cum_excl < $budget""".stripMargin

  def stratifiedSampleOracle(k: Int = 20, seed: String = "42"): String =
    topK("source, rank, doc_id, n_chars", "documents", "source",
      s"md5(CAST(doc_id AS VARCHAR) || ':s$seed'), doc_id", k, "rank")

  val tfIdfTopOracle: String =
    s"""WITH tokens AS (
      |  SELECT doc_id, unnest($words) AS word FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY 1, 2),
      |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
      |${topK("doc_id, word, tf, df, score, rank", "scored", "doc_id", "score DESC, word ASC", 3, "rank")}""".stripMargin

  val wordcountRegexOracle: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split_regex(lower(text), '\W+')) AS word
      |      FROM documents)
      |WHERE word <> '' GROUP BY word""".stripMargin

  val wordcountSpaceOracle: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word""".stripMargin

  val tokenizeSpaceOracle: String =
    "SELECT unnest(string_split(text, ' ')) AS value FROM documents"

  val langIdOracle: String =
    s"""WITH tokens AS (
      |  SELECT doc_id, lang, unnest($words) AS word FROM documents),
      |profile AS (
      |  SELECT lang AS p_lang, word, count(*) AS w_cnt
      |  FROM tokens WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |scored AS (
      |  SELECT t.doc_id, p.p_lang, CAST(sum(p.w_cnt) AS BIGINT) AS score
      |  FROM tokens t JOIN profile p ON t.word = p.word
      |  WHERE t.doc_id % 2 = 1 GROUP BY 1, 2)
      |${topK("doc_id, p_lang AS pred_lang, score", "scored", "doc_id", "score DESC, p_lang ASC", 1)}""".stripMargin

  val tokenCountsOracle: String =
    s"""SELECT doc_id,
      |  len($words) AS ws_tokens,
      |  CAST(list_reduce(list_transform($words,
      |    w -> CAST(ceil(CAST(length(w) AS DOUBLE) / 4.0) AS BIGINT)),
      |    (a, b) -> a + b) AS BIGINT) AS subword_est
      |FROM documents""".stripMargin

  val fingerprintsOracle: String =
    "SELECT doc_id, substr(md5(lower(text)), 1, 16) AS fp FROM documents"
}
