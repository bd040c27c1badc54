package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenization + word-count operators (SURVEY.md §2.3 F6-F9, §2.4 A1-A3)
  * and the text-analysis extensions (SURVEY.md §7 B10).
  *
  * Two tokenizer variants are deliberately distinct (SURVEY §7 risk 4):
  *  - F6 regex `\W+` + lowercase (kstreams/App.java:68,98-102)
  *  - F7 literal single space, no case fold (spark/kafka/App.java:74-77)
  *
  * All composed from codegen'd built-ins: explode(split(...)) keeps the
  * flatMap inside whole-stage codegen; groupBy(...).count() gets map-side
  * partial aggregation for free, so the shuffle carries (word, partial
  * count) pairs, not raw tokens — at 100 TB the shuffle volume is bounded
  * by vocabulary × partitions, not corpus size.
  */
object TextOps {

  /** F6 — regex tokenize: lowercase, split on non-word runs, drop the empty
    * token a leading delimiter produces (kstreams/App.java:98-102; the
    * reference's `\W+` split yields "" for lines starting with
    * punctuation).
    */
  def tokenizeRegex(df: DataFrame, text: Column): DataFrame =
    df.select(explode(split(lower(text), "\\W+")).as("word"))
      .filter(length(col("word")) > 0)

  /** F7 — space tokenize: no case fold, punctuation kept
    * (spark/kafka/App.java:74-77 splits on a single literal space).
    */
  def tokenizeSpace(df: DataFrame, text: Column): DataFrame =
    df.select(explode(split(text, " ", -1)).as("word"))

  /** A1+A2/A3 — group by word, count (changelog semantics in streaming;
    * here the batch equivalent).
    */
  def wordCount(words: DataFrame): DataFrame =
    words.groupBy("word").agg(count(lit(1)).as("cnt"))

  /** B10 — per-document stats: token count, char count, average token
    * length, stopword ratio, and a composite quality score. All doubles are
    * produced by single IEEE divisions/multiplies over integer inputs — no
    * rounding — so Spark and the DuckDB oracle are bitwise identical
    * (round() on doubles is tie-broken differently across engines).
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  def textStats(documents: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val toks = split(col("text"), " ", -1)
    val isStop = (w: Column) => w.isInCollection(stopwords)
    documents.select(
      (col("doc_id") +: keep.map(col)) ++ Seq(
        size(toks).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        aggregate(toks, lit(0L), (acc, w) => acc + when(isStop(w), 1L).otherwise(0L))
          .as("n_stop")): _*
    ).withColumn("avg_token_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens").cast("double") / 100) *
          (lit(1.0) - col("stop_ratio")))
  }

  /** B10 — language-ID by token-frequency profile: profiles are built from
    * even doc_ids (training), odd doc_ids are classified by the language
    * whose profile gives the highest total token-count score (integer
    * argmax, language-name tiebreak — fully deterministic, so DuckDB
    * reproduces it exactly).
    *
    * Scale: the profile table is |vocab × langs| rows — tiny — and is
    * broadcast to the scoring join; the per-document score is a partial
    * aggregation. The corpus-side work is one explode + one broadcast join.
    */
  def languageId(documents: DataFrame): DataFrame = {
    val tokens = documents
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ", -1)).as("word"))
    val profile = tokens.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang").as("p_lang"), col("word"))
      .agg(count(lit(1)).as("w_cnt"))
    val test = tokens.filter(col("doc_id") % 2 === 1).drop("lang")
    val scored = test.join(broadcast(profile), Seq("word"))
      .groupBy("doc_id", "p_lang")
      .agg(sum("w_cnt").as("score"))
    // deterministic argmax: max score, then lexicographically-smallest lang
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("p_lang").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang").as("pred_lang"), col("score"))
  }

  /** B10 — token counting: whitespace tokens plus a BPE-ish subword
    * estimate (ceil(len/4) subwords per token — the standard ~4-chars-per-
    * token heuristic), both exact integer math.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), " ", -1)
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("ws_tokens"),
      aggregate(toks, lit(0L), (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))
        .as("subword_est"))
  }

  /** B10 — document fingerprint: first 16 hex chars of md5 over the
    * case-folded text. (The Rabin-Karp rolling-hash variant for
    * streaming/chunk fingerprinting is graft.functions.Winnow60 —
    * see [[winnowFingerprints]].)
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      substring(md5(lower(col("text"))), 1, 16).as("fp"))

  /** B10 — winnowing rolling-hash fingerprint (native O(n) Rabin-Karp,
    * graft.functions.Winnow60): min 32-char-window polynomial hash.
    */
  def winnowFingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      graft.functions.Winnow60.winnow60(col("text")).as("wfp"))

  /** B10 — BM25 top-k retrieval: for each of the first `nQueries`
    * documents (the query set — the decontamination / near-match-audit
    * shape, where suspect documents are queries against the corpus),
    * the k best-matching OTHER documents under Okapi BM25.
    *
    * Two deliberate divergences from textbook BM25, both for bitwise
    * cross-engine reproducibility (the [[tfIdfTop]] / [[lmLikelihood]]
    * contracts):
    *  - LINEAR idf `((N − df) + 0.5) / (df + 0.5)` instead of its log —
    *    ln()'s last ulp is engine-specific; the linear form is exact
    *    integer arithmetic plus single IEEE ops and is monotone in the
    *    same direction, so gates and rankings are BM25-equivalent.
    *  - the per-(query, doc) score sums term contributions in an ORDERED
    *    fold (term-lexicographic, strict left fold from 0.0) — float
    *    addition does not commute, so an unordered SUM() could never
    *    hash-match across partitionings.
    *
    * Scale design (100 TB): the term statistics come from an in-query
    * [[RetrievalOps.Bm25Index]], the one BM25 source, which a pipeline
    * can also persist and merge ([[RetrievalOps.bm25RanksFromIndex]]).
    * Postings (doc_id, word, tf) are a per-document aggregate, so on a
    * doc_id-partitioned corpus they need no shuffle; df is a word-keyed
    * count of postings, partially aggregated map-side. The broadcast
    * query vocabulary filters postings and df before any join, so the
    * scored pairs are bounded by query-term matches. Document length
    * (dl) is a skinny scan (doc_id + one long) joined to the filtered
    * postings. df and (N, avgdl) are broadcast 1-row/vocab-sized
    * metadata. No global sort: top-k is a per-query window over
    * ≤ |matches| rows.
    */
  def bm25TopK(documents: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame =
    RetrievalOps.bm25Ranks(documents, col("doc_id") < nQueries, k)

  /** B10 — tf-idf top terms per document. The idf factor is LINEAR
    * (N/df, not log(N/df)): transcendental functions are not guaranteed
    * identically rounded across engines, while (tf*N)/df is one exact
    * integer product and one IEEE division — bitwise reproducible, same
    * ranking for a monotone transform. Per-doc windows, never a global
    * sort.
    */
  def tfIdfTop(documents: DataFrame, k: Int = 3): DataFrame = {
    val tokens = documents.select(col("doc_id"),
      explode(split(col("text"), " ", -1)).as("word"))
    val tf = tokens.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // df = rows of tf per word (one row per (doc, word)) — shares the
    // tokens explode + tf exchange with the score join via
    // ReuseExchange instead of a second explode + countDistinct expand
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = documents.select(count(lit(1)).as("n_docs"))
    Ranking.topK(tf.join(broadcast(df), "word")
        .crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df")),
        "doc_id", Seq(col("score").desc, col("word").asc), k)
      .select("doc_id", "word", "tf", "df", "score", "rank")
  }

  /** B10 — within-document repetition signals (the Gopher/FineWeb
    * heuristics that gate LLM training data): fraction of duplicated
    * sentence segments, and the share of the document's word 2-grams
    * taken by its single most frequent 2-gram. High values mark
    * boilerplate/spam/SEO text.
    *
    * dup_seg_frac is pure map-side HOF arithmetic (no shuffle). The
    * bigram mode requires per-(doc, bigram) counts: two partial-
    * aggregated shuffles keyed by doc — balanced, count-sized, never
    * carries text past the first aggregate.
    */
  def docRepetition(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"),
      filter(split(col("text"), "\\. "), s => length(s) > 0).as("segs"),
      split(col("text"), " ", -1).as("toks"))
      .filter(size(col("segs")) > 0)
    val segStats = base.select(col("doc_id"),
      size(col("segs")).cast("long").as("n_segs"),
      (lit(1.0) - size(array_distinct(col("segs"))).cast("double") /
        size(col("segs")).cast("double")).as("dup_seg_frac"))
    val bigrams = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', slice(toks, i + 1, 2)))")).as("bg"))
    val top = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c").cast("double") / sum("c").cast("double")).as("top_bigram_frac"))
    segStats.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"), col("dup_seg_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** B10 composite — the corpus-cleaning filter a training pipeline runs:
    * keep documents passing quality thresholds (enough tokens, bounded
    * stopword ratio, sane average token length). Pure map-side: the
    * filter composes with the scan and prunes before any shuffle.
    */
  def qualityFilter(documents: DataFrame,
                    minTokens: Long = 20, maxStopRatio: Double = 0.3,
                    maxAvgTokenLen: Double = 8.0): DataFrame =
    textStats(documents)
      .filter(col("n_tokens") >= minTokens &&
        col("stop_ratio") <= maxStopRatio &&
        col("avg_token_len") <= maxAvgTokenLen)
      .select("doc_id", "n_tokens", "stop_ratio", "quality_score")

  /** ADAPTIVE quality thresholding — keep documents at or above the p-th
    * quantile of the corpus's own quality-score distribution (fixed
    * thresholds like [[qualityFilter]] drift as the corpus mix changes;
    * production gates re-derive the cut per snapshot). Exact type-7
    * quantile via one aggregation (the same `percentile` whose bitwise
    * DuckDB parity `median_quantiles` proves), broadcast back as a 1-row
    * scalar — the documented broadcast-scalar nested-loop pattern
    * (PLANS.md). Two passes over the scored frame (threshold, then
    * filter), like [[StatsOps.outliers]]: at 100 TB the second pass
    * re-derives map-side stats rather than caching a corpus-sized frame.
    */
  def qualityPercentileFilter(documents: DataFrame, p: Double = 0.5): DataFrame = {
    val scored = textStats(documents)
    val thr = scored.agg(expr(s"percentile(quality_score, CAST($p AS DOUBLE))").as("thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("quality_score") >= col("thr"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("thr"))
  }

  /** PER-SOURCE quality calibration — the grouped complement of
    * [[qualityPercentileFilter]]'s global cut: one source's raw p90 can
    * sit below another's p40 (different boilerplate/stopword profiles),
    * so a single global threshold systematically over-prunes whole
    * sources. Calibration replaces the raw score with its PERCENT RANK
    * WITHIN the source — (rn−1)/max(n−1, 1) with the deterministic
    * (score, doc_id) tiebreak — and gates on that, so "keep the top
    * half" means the top half OF EACH SOURCE. Pure integer rank
    * arithmetic + one IEEE division: bitwise reproducible, no
    * transcendental calibration curves.
    *
    * Singleton sources rank at percent 0 (no distribution to calibrate
    * against — the standard percent_rank convention); route sources
    * too small to rank through the global gate instead.
    *
    * Scale shape: the obvious plan —
    * `row_number() OVER (PARTITION BY source ORDER BY score)` — puts
    * EVERY row of a source through ONE task, so a dominant source (often
    * >50% of a crawl corpus) becomes a single-task sort at 100 TB: the
    * exact parallelism-cap hazard [[packSequencesSharded]] priced and
    * fixed for packing. Here the rank decomposes exactly instead:
    * rn(row) = (#rows in the source with a smaller score) + (tiebreak
    * rank by doc_id among equal scores). The first term comes from a
    * DISTINCT-BOUNDED histogram — `groupBy(source, score).count` (full
    * map-side partial aggregation), then a cumulative window whose
    * per-source partition holds one row PER DISTINCT SCORE, never per
    * document (the [[graft.ops.StatsOps.histExactBoundaries]] idiom:
    * the reducer is bounded by score cardinality, metadata-sized). The
    * second term is a row-level window keyed by (source, quality_score)
    * — parallelism = distinct (source, score) pairs, not n_sources, and
    * a "hot" task is one tie-group, not one source. The histogram join
    * back to rows is keyed the same way (Catalyst broadcasts it when it
    * is small — at sf0.1 it is); rows carry (doc_id, source, score) —
    * never text — through every exchange. Exact integer arithmetic
    * throughout: bitwise-identical output to the windowed form, so the
    * oracle is unchanged.
    */
  def qualityCalibrated(documents: DataFrame, p: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // CONTRACT: null-scored docs (null text) take no part in calibration
    // — excluded from both the histogram AND the ranked rows. Without
    // this explicit filter the exclusion would be an ACCIDENT of join
    // semantics (null = null is false, so the equi-join back to the
    // histogram drops them) while the histogram still counted them into
    // n, silently shifting every percentile — a divergence from the
    // windowed formulation this decomposition must stay bit-identical to.
    val scored = textStats(documents, keep = Seq("source"))
      .select("doc_id", "source", "quality_score")
      .filter(col("quality_score").isNotNull)
    // one row per distinct (source, score): cnt, #rows strictly below, n
    val hist = scored.groupBy("source", "quality_score")
      .agg(count(lit(1)).as("cnt"))
    val cumBelow = Window.partitionBy("source").orderBy("quality_score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("below", coalesce(sum("cnt").over(cumBelow), lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
      .drop("cnt")
    // row-level tiebreak among equal scores — keyed by (source, score)
    val tie = Window.partitionBy("source", "quality_score").orderBy("doc_id")
    scored
      .join(cum, Seq("source", "quality_score"))
      .withColumn("rn", col("below") + row_number().over(tie).cast("long"))
      .withColumn("pct",
        (col("rn") - 1).cast("double") / greatest(col("n") - 1, lit(1L)))
      .filter(col("pct") >= p)
      .select(col("doc_id"), col("source"), col("quality_score"), col("pct"))
  }

  /** B10-gopher — the Gopher/MassiveText rule battery as ONE gate: length
    * bounds, mean-token-length band, minimum stopword ratio, and the two
    * repetition rules ([[docRepetition]]'s duplicate-segment and
    * top-bigram fractions), each emitted as a 0/1 flag plus the combined
    * `keep` verdict. Emitting flags (not a filtered corpus) is deliberate:
    * pipelines audit WHICH rule rejected a document before tuning
    * thresholds, and every flag stays an oracle-checked computed value.
    * Default thresholds are calibrated to the test corpus's measured
    * quantiles so each text-derived rule genuinely discriminates
    * (`f_dup_seg` is constant-true on this synthetic corpus — no
    * within-document duplicate segments exist — but is the Gopher rule
    * production corpora trip most).
    *
    * Scale shape: the gate composes the two audited single-pass operators
    * ([[textStats]] map-side; [[docRepetition]] one bigram aggregation)
    * and joins them on doc_id — one count-sized shuffle join of two
    * doc-keyed frames. Flags are pure projections; comparisons sit on
    * bitwise-deterministic doubles (single IEEE divisions both engines).
    */
  def gopherGate(documents: DataFrame,
                 minTokens: Long = 20L, maxTokens: Long = 100000L,
                 minAvgLen: Double = 3.0, maxAvgLen: Double = 4.6,
                 minStopRatio: Double = 0.02,
                 maxDupSegFrac: Double = 0.3,
                 maxTopBigramFrac: Double = 0.06): DataFrame =
    textStats(documents).join(docRepetition(documents), Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .cast("long").as("f_len"),
        (col("avg_token_len") >= minAvgLen && col("avg_token_len") <= maxAvgLen)
          .cast("long").as("f_avg_len"),
        (col("stop_ratio") >= minStopRatio).cast("long").as("f_stop"),
        (col("dup_seg_frac") <= maxDupSegFrac).cast("long").as("f_dup_seg"),
        (col("top_bigram_frac") <= maxTopBigramFrac).cast("long").as("f_top_bigram"))
      .withColumn("keep",
        col("f_len") * col("f_avg_len") * col("f_stop") *
          col("f_dup_seg") * col("f_top_bigram"))

  /** B10 — vocabulary encoding: map tokens to dense integer ids (the
    * step before any tokenized training corpus ships). The vocab is the
    * global top-V tokens by document frequency — orderBy+limit plans
    * TakeOrderedAndProject (per-partition heap of V, never a global
    * sort); id assignment sorts only the V selected rows in one
    * partition (bounded by vocabSize, not data). Encoding is a broadcast
    * left join — the fact-side token stream never shuffles; OOV → -1.
    */
  def vocabEncode(documents: DataFrame, vocabSize: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"),
      posexplode(split(col("text"), " ", -1)).as(Seq("pos", "tok")))
    val byDf = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(vocabSize)
    val vocab = byDf.repartition(1).withColumn("token_id",
      (row_number().over(Window.orderBy(col("df").desc, col("tok").asc)) - 1)
        .cast("long"))
    toks.join(broadcast(vocab.select("tok", "token_id")), Seq("tok"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(-1L)).as("token_id"))
  }

  /** B10 — bigram LM counts: (w1, w2) frequencies plus the conditional
    * probability P(w2|w1) — the n-gram language-model counting stage
    * (and the raw material for Kneser-Ney style smoothing, done
    * downstream). Bigrams derive MAP-SIDE from each document's token
    * array (no positional explode-then-self-join); one count shuffle
    * with partials; the conditional denominator is a w1-partitioned
    * window sum — no second join, no broadcast of a possibly-huge
    * vocabulary. P is one IEEE division of exact longs, so the oracle
    * hash-matches bitwise.
    */
  def bigramLm(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents
      .withColumn("toks", split(col("text"), " ", -1))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        // Spark array subscripts are 0-based (DuckDB's are 1-based)
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .withColumn("p_cond",
        col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy(col("w1"))).cast("double"))
  }

  /** Per-document fluency scoring under the [[bigramLm]] model — the
    * KenLM-filter stage of a training pipeline (CCNet-style: score every
    * document under a corpus LM, gate on the score). Each document's
    * bigrams are joined to the model and reduced to
    * (n_bigrams, min_p, avg_p): min conditional probability (the most
    * surprising transition) and mean conditional probability. The
    * classic formulation is log-space perplexity, but ln()'s last ulp is
    * engine-specific (same reasoning as [[tfIdfTop]]'s raw N/df), so the
    * oracle-checked scores stay in probability space — monotone in the
    * same direction, gate-equivalent. Self-scoring against a same-corpus
    * LM means every bigram is in-vocabulary (the inner join drops
    * nothing); scoring a NEW corpus against a frozen LM would make the
    * join an outer join plus a smoothing floor — same plan shape.
    *
    * Scale design (100 TB): the LM is vocab²-observed-sized, so the
    * bigram→model join is a shuffle equi-join on (w1, w2) carrying
    * (doc_id, pos) + one double — never document text; the per-doc
    * reduction shuffles (pos, p) pairs keyed by doc_id (skinny, bounded
    * by document length). The per-doc sum is an ORDERED fold (sort by
    * pos, strict left fold from 0.0) because float addition does not
    * commute — an unordered SUM() would be partitioning-dependent and
    * could never hash-match (the same contract as every reduction in the
    * similarity family).
    */
  def lmLikelihood(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lm = bigramLm(documents).select(col("w1"), col("w2"), col("p_cond"))
    val bg = documents
      .withColumn("toks", split(col("text"), " ", -1))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")))
      .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
    bg.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        min(col("p_cond")).as("min_p"),
        expr("""aggregate(transform(array_sort(collect_list(struct(pos, p_cond))),
               |  x -> x.p_cond), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        col("min_p"), (col("sum_p") / col("n_bigrams")).as("avg_p"))
  }

  /** Cross-corpus variant of [[lmLikelihood]]: score `eval` documents
    * under a bigram LM trained on a DIFFERENT corpus (`train`) — the
    * actual crawl-filtering shape, where a frozen reference LM gates new
    * data. Out-of-vocabulary bigrams (absent from the train LM) take
    * probability 0.0 exactly via the left join's coalesce — a floor, not
    * a smooth (smoothed backoff needs ln()/pow() territory; a 0.0 floor
    * is bitwise-exact and gate-equivalent: any OOV transition zeroes
    * min_p and drags avg_p, which is precisely the "this text looks
    * nothing like the reference corpus" signal). Adds `oov` (count of
    * unseen bigrams) so callers can gate on OOV rate directly.
    * Same plan shape as [[lmLikelihood]] with the inner join relaxed to
    * LEFT OUTER — identical scale story.
    */
  def lmLikelihoodAgainst(train: DataFrame, eval: DataFrame): DataFrame =
    scoreAgainstLm(bigramLm(train).select(col("w1"), col("w2"), col("p_cond")), eval)

  /** The scoring half of [[lmLikelihoodAgainst]] against an already-
    * materialized (FROZEN) model — the form a persisted LM table or a
    * streaming foreachBatch twin consumes ([[graft.streaming.StreamingText]]).
    * `lm` must carry (w1, w2, p_cond).
    */
  def scoreAgainstLm(lm: DataFrame, eval: DataFrame): DataFrame = {
    val bg = eval
      .withColumn("toks", split(col("text"), " ", -1))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")))
      .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
    bg.join(lm, Seq("w1", "w2"), "left")
      .withColumn("p", coalesce(col("p_cond"), lit(0.0)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("p_cond").isNull, 1L).otherwise(0L)).as("oov"),
        min(col("p")).as("min_p"),
        expr("""aggregate(transform(array_sort(collect_list(struct(pos, p))),
               |  x -> x.p), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"), col("oov"),
        col("min_p"), (col("sum_p") / col("n_bigrams")).as("avg_p"))
  }

  /** B10 FLAGSHIP composite — the full corpus-prep pipeline a training
    * run executes, end to end in ONE declarative plan: quality gates
    * (map-side filter, prunes before any shuffle) → PII scrub (map-side
    * regex) → exact dedup on the CLEANED text (one shuffle on 16-byte
    * digests, first-occurrence keeper) → deterministic hash split →
    * per-(source, split) accounting. The point of registering the
    * composition (each stage already has its own oracle-checked query)
    * is that stage INTERACTIONS are verified too: dedup must see
    * scrubbed text, the split must be assigned on surviving docs, and
    * the final counts must agree with DuckDB running the same five
    * stages.
    */
  def corpusPrep(documents: DataFrame,
                 minTokens: Long = 20, maxStopRatio: Double = 0.3,
                 maxAvgTokenLen: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = textStats(documents, keep = Seq("text", "source"))
      .filter(col("n_tokens") >= minTokens &&
        col("stop_ratio") <= maxStopRatio &&
        col("avg_token_len") <= maxAvgTokenLen)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        scrubbed(col("text")).as("text_clean"))
    val deduped = kept
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text_clean"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    deduped
      .withColumn("split", splitLabel(splitBucket(col("doc_id"))))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
  }

  /** B10 — per-source curation audit report: the one-stop operational
    * dashboard a corpus pipeline reads before a training run — per
    * source: volume (docs, chars), exact-duplicate pressure (docs minus
    * distinct content digests — extra copies WITHIN the source; a doc
    * duplicated across two sources counts once in each), language
    * spread, and how many docs clear an integer-arithmetic quality gate
    * (>= 20 tokens, stopword count at most half the tokens — the gate is
    * deliberately transcendental-free so both engines agree bitwise).
    *
    * Scale shape: every per-doc signal (digest, token/stop counts) is
    * map-side; ONE shuffle keyed on source with full partial
    * aggregation (the distinct-digest count partial-aggregates on
    * (source, fp) first). NULL source is reported as its own group —
    * operationally that row IS the "untagged ingest" alarm.
    */
  def curationReport(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), " ", -1)
    val isStop = (w: Column) => w.isInCollection(stopwords)
    val perDoc = documents.select(
      col("source"),
      col("lang"),
      md5(col("text")).as("fp"),
      col("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      aggregate(toks, lit(0L), (acc, w) => acc + when(isStop(w), 1L).otherwise(0L))
        .as("n_stop"))
    perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("fp")).as("n_distinct"),
      (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_extra"),
      countDistinct(col("lang")).as("n_langs"),
      sum("n_chars").as("total_chars"),
      sum(when(col("n_tokens") >= 20 && col("n_stop") * 2 <= col("n_tokens"), 1L)
        .otherwise(0L)).as("n_quality_pass"))
  }

  /** B10 — sliding-window document chunking: the step before embedding
    * or long-context packing — each document becomes overlapping
    * `window`-token chunks every `stride` tokens (stride < window ⇒
    * window−stride tokens of overlap, the standard RAG/embedding
    * chunker). Pure map-side: one higher-order transform + posexplode,
    * no shuffle, no state; output is chunk-addressed (doc_id, chunk_id,
    * start_pos) so downstream embedding joins stay equi-keyed. Short
    * documents emit exactly one (possibly short) chunk. Integer-only
    * arithmetic: the chunk count is greatest(0, ⌈(n−window)/stride⌉)
    * computed with `div`, so both engines agree bitwise.
    */
  def chunkDocuments(documents: DataFrame, window: Int = 64,
                     stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window; got window=$window stride=$stride")
    documents
      .withColumn("toks", split(col("text"), " ", -1))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("n"),
        posexplode(expr(
          s"""transform(sequence(0, greatest(0L, (n - $window + ${stride - 1}) div $stride)),
             |  i -> concat_ws(' ', slice(toks, CAST(i * $stride + 1 AS INT), $window)))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        (col("pos") * stride).cast("long").as("start_pos"),
        least(lit(window.toLong), col("n") - col("pos") * stride).as("n_chunk_tokens"),
        col("col").as("chunk"))
  }

  /** B10 — unigram corpus-statistics scoring: the engine-native stand-in
    * for CCNet's LM-perplexity quality filter. The "model" is the global
    * top-V unigram counts (TakeOrderedAndProject, bounded by vocabSize);
    * each document is scored by the mean corpus frequency of its tokens
    * (in-vocab mass / n_tokens) and its OOV fraction — gibberish and
    * ID-soup score OOV-high / frequency-low, boilerplate scores
    * frequency-high. Deliberately transcendental-free: a true log-prob
    * needs ln(), whose last-ulp value differs between engines; both
    * scores here are one IEEE division over exact integer sums, so the
    * oracle hash-matches bitwise. Plan: one count shuffle (map-side
    * partials), a broadcast left join onto the exploded token stream —
    * the corpus-side stream never shuffles.
    */
  def unigramScores(documents: DataFrame, vocabSize: Int = 16): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(split(col("text"), " ", -1)).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("cnt"), lit(0L))).as("vocab_mass"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_frac"),
        (col("vocab_mass").cast("double") / col("n_tokens")).as("mean_freq"))
  }

  /** PII scrubbing — the redaction pass every public-corpus pipeline runs
    * before training (emails, IPv4 addresses → typed placeholder tokens),
    * plus per-doc redaction counts for audit metrics. Pure map-side
    * regexp_replace: composes with the scan, prunes nothing, shuffles
    * nothing — at 100 TB this is embarrassingly parallel and codegen'd.
    *
    * The synthetic corpus carries no natural PII, so the op derives a
    * deterministic PII-bearing column from real ones first (email + IP
    * seeded by doc_id) — the regexes are exercised on every row and the
    * oracle rebuilds the identical column. Patterns are restricted to the
    * syntax subset where Java regex (Spark) and RE2 (DuckDB) agree:
    * character classes, bounded repetition, no backrefs/lookaround.
    */
  /** The RE2∩Java regex subset used by the scrub (see [[piiScrub]]). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Redaction expression, reusable on any text column (batch or stream). */
  def scrubbed(c: Column): Column =
    regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), ipRe, "<IP>")

  def piiScrub(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"), col("source"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com from 10."),
        col("doc_id") % 256, lit(".0."), col("doc_id") % 200 + 1).as("raw"))
      .select(
        col("doc_id"), col("source"),
        regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(ipRe)).cast("long").as("n_ips"),
        scrubbed(col("raw")).as("scrubbed"))
  }

  /** K-ANONYMITY release gate — the privacy family's GROUP-size check
    * next to [[piiScrub]]'s content scrub: a document is releasable
    * only if its quasi-identifier combination (here: lang × source ×
    * a length band — the metadata an adversary could cross-reference)
    * is shared by at least k documents. The k-anonymity framing
    * (Sweeney 2002) is the standard release bar: singleton metadata
    * combinations re-identify even after content scrubbing.
    *
    * Emits one VERDICT row per quasi-identifier group (group size,
    * released flag, suppressed-doc count) — metadata-sized output, the
    * landing-gate shape. A pipeline applies the verdicts with one
    * broadcast semi-join against the suppressed groups (the group
    * table is bounded by the quasi-key cross-product, tiny next to the
    * corpus).
    *
    * Scale shape: ONE shuffle keyed on the quasi-identifier (map-side
    * partial counts — the exchange carries distinct quasi-keys, never
    * documents). The length band uses integer-div bucketing (exact
    * arithmetic, engine-portable), never quantiles — a banding that
    * depended on the corpus's own distribution would leak between
    * releases.
    */
  def kAnonymityGate(documents: DataFrame, k: Int = 10,
                     bandChars: Int = 200): DataFrame =
    documents
      .groupBy(col("lang"), col("source"),
        expr(s"n_chars div $bandChars").cast("long").as("len_band"))
      .agg(count(lit(1)).as("group_n"))
      .select(col("lang"), col("source"), col("len_band"), col("group_n"),
        (col("group_n") >= k).as("released"),
        when(col("group_n") >= k, lit(0L)).otherwise(col("group_n"))
          .as("suppressed_docs"))

  /** Deterministic hash split — the reproducible train/validation/test
    * assignment a pipeline must make identically on every engine, every
    * run, every re-shard (content-addressed, never random()): bucket =
    * first byte of md5(doc_id), split by fixed thresholds (~90/5/5).
    * Map-side only; the same idiom scales to weighted source mixing
    * (threshold per source) without any shuffle.
    */
  /** Content-addressed split bucket/label expressions (batch or stream). */
  def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("long")
  def splitLabel(bucket: Column): Column =
    when(bucket < 230, lit("train"))
      .when(bucket < 243, lit("valid"))
      .otherwise(lit("test"))

  def hashSplit(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"),
      splitBucket(col("doc_id")).as("bucket"))
      .withColumn("split", splitLabel(col("bucket")))


  /** Sequence packing — the pre-training step that bins documents into
    * fixed token budgets (one "pack" ≈ one training sequence). This is
    * the deterministic distributed formulation real pipelines use:
    * CONTIGUOUS packing within each source shard — exclusive prefix-sum
    * of token counts over a per-source window, pack = prefix div
    * capacity (a doc straddling a boundary opens the next pack; bounded
    * waste, no bin-packing search, no serial driver loop). One shuffle
    * on source, local sorts; at 100 TB the window never sees more than
    * a shard.
    */
  def packSequences(documents: DataFrame, capacity: Long = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .withColumn("cum_excl", sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        // integer `div`, not `/` (Column./ on longs is DOUBLE division)
        expr(s"cum_excl div $capacity").as("pack_id"),
        (col("cum_excl") % capacity).as("pack_offset"))
  }

  /** SHARDED sequence packing — the parallelism-cap fix the 100× ladder
    * priced: [[packSequences]] windows per `source`, so a
    * 5-source corpus runs its prefix sums through 5 tasks no matter how
    * large it grows (linear work through a constant-width pipe). Here
    * the window key is (source, shard) with shard = doc_id mod `shards`
    * — parallelism sources×shards, tunable to the cluster — in ONE
    * pass: pack identity is (source, pack_id) with the shard encoded in
    * the id's high bits (`shard·2⁴⁰ + local quota-fill index`), so no
    * second pass computes base offsets. Pack ids are deterministic,
    * unique per source, and shard-recoverable (`pack_id >> 40`) but NOT
    * dense — the spans manifest ([[packSpans]]) enumerates packs anyway,
    * and a loader that insists on dense ids renumbers the
    * sources×shards-sized id set with the compaction planner's
    * dense_rank idiom (metadata, not a data pass).
    *
    * Two contiguous-id formulations were measured and rejected at the
    * 100× ladder: deriving per-shard base offsets needs per-shard pack
    * counts, and whether computed by a second window branch or a
    * groupBy, the branch re-tokenizes the corpus (different column
    * pruning defeats ReuseExchange) or forces a cache of it — 39.7 s /
    * 44.5 s / 89 s (loaded host) vs 15.2 s unsharded. The one-pass
    * encoded-id form does strictly less work than the unsharded
    * operator at 8× its parallelism. Packs never span shards; the price
    * of sharding is at most one under-filled pack per (source, shard).
    * All exact integer arithmetic — hash-matches DuckDB.
    */
  def packSequencesSharded(documents: DataFrame, capacity: Long = 2048,
                           shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0 && shards <= (1 << 22),
      s"shards must fit the id's high bits, got $shards")
    val wCum = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(shards)).cast("long"))
      .withColumn("cum_excl", sum("n_tokens").over(wCum) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
        (col("shard") * lit(1L << 40) + expr(s"cum_excl div ${capacity}L"))
          .as("pack_id"),
        (col("cum_excl") % capacity).as("pack_offset"))
  }

  /** DENSE pack-id renumber — the registered proof
    * of [[packSequencesSharded]]'s doc claim that a loader insisting on
    * dense ids renumbers with a METADATA pass, not a data pass: the
    * dense_rank input is `distinct (source, pack_id)` — O(packs) rows
    * (sources × shards × filled quota indices), never O(documents) —
    * and the global rank window is therefore the same bounded
    * single-task metadata class as [[graft.ops.LayoutOps.compactionPlan]]'s
    * inventory window. Output: the (source, pack_id → dense_id)
    * renumber table a loader joins (broadcast — it is pack-count-sized)
    * against the packed corpus. Deterministic total order (source,
    * pack_id), exact integer rank — hash-matches DuckDB. The spec
    * asserts the plan shape: the Window's input subtree IS the distinct
    * aggregate. */
  def packShardsDense(documents: DataFrame, capacity: Long = 2048,
                      shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("source", "pack_id")
    packSequencesSharded(documents, capacity, shards)
      .select("source", "pack_id").distinct()
      .withColumn("dense_id", (dense_rank().over(w) - 1).cast("long"))
  }

  /** Deterministic source mixing (down-sampling) — the data-mixing step
    * that samples corpus sources toward target weights before training.
    * Each source gets a keep-rate; a document survives iff its
    * content-addressed bucket (SECOND md5 byte — independent of the
    * [[hashSplit]] byte, so mixing never biases the split) clears the
    * rate. Map-side only, reproducible on any engine, any partitioning,
    * any rerun — never `rand()`, whose sample changes under
    * retry/speculation. For rates above 1 (up-sampling scarce sources)
    * see [[sourceMixUpsample]].
    *
    * Rate GRANULARITY is 1/256 (one md5 byte): explicit rates are rounded
    * to the nearest 1/256 — a rate below 1/512 rounds to zero and drops
    * the source entirely. The default demo rule (empty `rates`) parses
    * the FIXTURE's `src_N` source naming and is fixture-only: arbitrary
    * source names NULL-parse to rate 64/256 — production callers pass an
    * explicit rates map.
    */
  def sourceMix(documents: DataFrame,
                rates: Map[String, Double] = Map.empty,
                defaultRate: Double = 1.0): DataFrame = {
    // `rates` is the production API: per-source keep rates as a literal
    // map (codegen'd element_at — effectively a broadcast dimension;
    // unknown sources fall back to defaultRate). The empty-map default
    // keeps the demo rule: rate in {¼,½,¾,1} from the source index.
    val rate256 =
      if (rates.isEmpty)
        (substring(col("source"), 4, 10).cast("long") % 4 + 1) * 64
      else
        // round-half-up to the 1/256 grid, not truncate: truncation
        // silently floors e.g. 0.003 to zero keeps
        floor(coalesce(element_at(typedLit(rates), col("source")),
          lit(defaultRate)) * 256.0 + 0.5).cast("long")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 3, 2), 16, 10)
      .cast("long")
    documents
      .filter(bucket < rate256)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("chars_kept"))
  }

  /** Source mixing WITH UP-SAMPLING — real data
    * mixing replicates scarce sources (rate > 1), not just thins abundant
    * ones. A document yields `floor(rate)` whole copies plus one extra
    * copy iff its content-addressed bucket (same second-md5-byte as
    * [[sourceMix]], independent of the [[hashSplit]] byte) clears the
    * fractional part — so rate 2.5 gives every doc 2 copies and a
    * deterministic, content-addressed half of them a 3rd. Rates quantize
    * to the 1/256 grid (round-half-up). Map-side only: the replication is
    * a per-row sequence explode — no shuffle, no rand(), identical output
    * under any partitioning, retry, or speculative re-execution.
    *
    * Returns the replicated documents (doc_id, source, n_chars, copy)
    * with copy = 1..n_copies — the frame a training-data writer consumes.
    */
  def upsampledDocs(documents: DataFrame,
                    rates: Map[String, Double],
                    defaultRate: Double = 1.0): DataFrame = {
    val rate256 = floor(coalesce(element_at(typedLit(rates), col("source")),
      lit(defaultRate)) * 256.0 + 0.5).cast("long")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 3, 2), 16, 10)
      .cast("long")
    documents
      .withColumn("r256", rate256)
      // integer `div` (Column./ would be IEEE double division)
      .withColumn("n_copies", expr("r256 div 256") +
        when(bucket < col("r256") % 256, 1L).otherwise(0L))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"), col("n_chars"),
        explode(expr("sequence(1, n_copies)")).as("copy"))
  }

  /** Per-source accounting of the up-sampled mix — the registered,
    * oracle-checked view of [[upsampledDocs]]. */
  def sourceMixUpsample(documents: DataFrame,
                        rates: Map[String, Double],
                        defaultRate: Double = 1.0): DataFrame =
    upsampledDocs(documents, rates, defaultRate)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))

  /** Temperature-based (α = 0.5) source mixing — the multinomial
    * sampling-weight scheme of multilingual/multi-source training-set
    * construction (Devlin et al. 2019 §3.1 exponentiated-smoothing;
    * GPT-3/PaLM data mixing): per-source sampling mass ∝ n_s^α, which
    * up-weights scarce sources relative to proportional sampling. With a
    * document budget B = `budgetFrac` × corpus size, source s keeps
    * min(1, B·√n_s / Σ√n / n_s) of its documents via the same
    * content-addressed 1/256 bucket gate as [[sourceMix]].
    *
    * α is FIXED at 0.5 because `sqrt` is the one power IEEE 754 requires
    * correctly rounded — JVM `Math.sqrt` and DuckDB `sqrt` agree bitwise,
    * so the rates (and therefore the kept set) hash-match the oracle.
    * General α needs `pow`, whose last ulp is engine-specific — the same
    * transcendental exclusion as every scoring operator here.
    *
    * The per-source count/rate computation is a driver-side scalar pass
    * (sources are a metadata-sized dimension at any corpus scale — the
    * same bounded-collect contract as the ANN anchor sets); rates are
    * summed in lexicographic source order with a strict left fold so the
    * float total is partitioning- and engine-independent. The document
    * gate itself stays fully distributed and map-side.
    */
  /** DuckDB's default collation is binary UTF-8; JVM String ordering is
    * UTF-16 code units, which DISAGREES for supplementary-plane
    * characters vs U+E000..U+FFFF. The rate fold must add sqrt terms in
    * the oracle's order, so sort source names by their UTF-8 bytes.
    */
  private val utf8ByteOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  def sourceTemperatureMix(documents: DataFrame,
                           budgetFrac: Double = 0.5): DataFrame = {
    // NULL-source docs are excluded on BOTH sides (the oracle's rates
    // join never matches NULL); a null key would also break the typedLit
    // rates map and the driver sort.
    val counts = documents.filter(col("source").isNotNull).groupBy("source")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)(utf8ByteOrder)
    // Empty corpus → empty result with the output schema, never a throw
    // (EmptyInputSpec contract: a daily partition CAN be empty). The
    // non-null filter must apply here too: a corpus of ONLY null-source
    // docs has empty `counts`, and without the filter those docs would
    // fall through sourceMix's defaultRate=1.0 and be KEPT while the
    // oracle's rates inner join returns empty.
    if (counts.isEmpty)
      return sourceMix(documents.filter(col("source").isNotNull),
        Map("__none__" -> 1.0))
    val totalDocs = counts.map(_._2).sum
    val b = totalDocs.toDouble * budgetFrac
    val sqrtTot = counts.foldLeft(0.0)((acc, c) => acc + math.sqrt(c._2.toDouble))
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0, b * math.sqrt(n.toDouble) / sqrtTot / n.toDouble)
    }.toMap
    // the same non-null filter on the gate side: sourceMix's defaultRate
    // fallback would otherwise KEEP null-source docs the oracle excludes
    sourceMix(documents.filter(col("source").isNotNull), rates)
  }

  /** Pack-to-loader manifest: the artifact a training
    * loader actually consumes — one row per pack with its ordered
    * document span list. Built ON TOP of [[packSequences]] (same
    * straddle semantics: a document stays whole in the pack where it
    * starts; the next pack's first offset equals the spill). `spans` is
    * the canonical string form `doc_id:offset:len,...` ordered by
    * offset; `spans_arr` is the typed array<struct> for programmatic
    * consumers. One additional shuffle on (source, pack_id); per-pack
    * state is bounded by capacity/min_doc_tokens spans.
    */
  def packSpans(documents: DataFrame, capacity: Long = 2048): DataFrame =
    packSequences(documents, capacity)
      .groupBy("source", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"),
        array_sort(collect_list(struct(col("pack_offset").as("offset"),
          col("doc_id"), col("n_tokens").as("len")))).as("spans_arr"))
      .withColumn("spans", array_join(
        transform(col("spans_arr"), x => concat_ws(":",
          x.getField("doc_id"), x.getField("offset"), x.getField("len"))),
        ","))

  /** Boundary-SPLITTING sequence packing — the GPT-style loader format
    * where every pack is EXACTLY `capacity` tokens and a document
    * straddling a boundary is split into fragments ([[packSequences]]
    * instead keeps documents whole and lets the straddler's pack run
    * long — both shapes exist in real pipelines; this is the one that
    * feeds fixed-shape training batches). A document occupying token
    * interval [cum_excl, cum_excl + n_tokens) contributes one fragment
    * to every pack that interval intersects:
    *   doc_offset  = where in the DOCUMENT the fragment starts,
    *   pack_offset = where in the PACK it lands,
    *   frag_len    = intersection length.
    * Same one-shuffle window prefix-sum as packSequences, then a
    * map-side explode over each doc's (usually 1-element) pack range —
    * output grows only by the number of boundary crossings, ≤ total
    * tokens / capacity extra rows corpus-wide.
    */
  def packSplit(documents: DataFrame, capacity: Long = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .withColumn("cum_excl", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("pack_id", explode(expr(
        s"sequence(cum_excl div $capacity, (cum_excl + n_tokens - 1) div $capacity)")))
      .select(
        col("doc_id"), col("source"), col("pack_id"),
        greatest(lit(0L), col("pack_id") * capacity - col("cum_excl")).as("doc_offset"),
        greatest(lit(0L), col("cum_excl") - col("pack_id") * capacity).as("pack_offset"),
        (least((col("pack_id") + 1) * capacity, col("cum_excl") + col("n_tokens"))
          - greatest(col("pack_id") * capacity, col("cum_excl"))).as("frag_len"))
  }

  /** Integer-binned value histogram per event type — the profiling pass
    * a pipeline runs to pick thresholds and spot drift. Bin = floor of
    * one IEEE division (deterministic); shuffle carries (type, bin)
    * partial counts only.
    */
  def valueHistogram(events: DataFrame, width: Double = 50.0): DataFrame =
    events
      .groupBy(col("event_type"),
        floor(col("value") / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") * 100).cast("decimal(18,0)")).cast("double")
          .divide(lit(100.0)).as("sum_value"))

  /** Deterministic SHARDED corpus shuffle — the global training-order
    * randomization a loader consumes. A naive global
    * `row_number() OVER (ORDER BY key)` funnels the whole corpus through
    * ONE partition (Spark plans an empty-partition window as a
    * single-task sort), so this uses the formulation real pipelines
    * write anyway: shard = one md5 byte of the seeded key (256 shard
    * files), position = rank WITHIN the shard only. Loader order =
    * (shard, pos); every shard is an independent window over ~1/256 of
    * the corpus, so the sort is range-partitioned and no task sees more
    * than a shard. Content-addressed (md5 of doc_id + seed, never
    * `rand()`): identical output under any partitioning, retry, or
    * speculative re-execution, and a seed change is a full reshuffle.
    */
  def corpusShuffle(documents: DataFrame, seed: String = "42"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(col("doc_id").cast("string"), lit(":"), lit(seed)))
    val w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    documents
      .select(col("doc_id"), col("source"), key.as("shuffle_key"))
      .withColumn("shard",
        conv(substring(col("shuffle_key"), 1, 2), 16, 10).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("source"))
  }

  /** Per-source token-budget selection — the epoch-budgeting step that
    * caps each source's contribution at a fixed token count (mixture
    * weights are often specified in tokens, not keep-rates; cf.
    * [[sourceMix]] which thins by rate). Documents are consumed in
    * content-addressed shuffle order (seeded md5, never doc_id order —
    * a budget over doc_id order would take a BIASED prefix of the
    * source), with an exclusive prefix-sum of token counts over the
    * per-source window; a document is kept iff its tokens START under
    * budget, so each source yields budget tokens plus at most one
    * straddling document (bounded overshoot, same straddle convention
    * as [[packSequences]]). One shuffle on source, shard-local sorts —
    * the window never sees more than a source shard at 100 TB.
    */
  def tokenBudgetMix(documents: DataFrame, budget: Long = 4096,
                     seed: String = "42"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(col("doc_id").cast("string"), lit(":b"), lit(seed)))
    val w = Window.partitionBy("source").orderBy("mix_key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
        key.as("mix_key"))
      .withColumn("cum_excl", sum("n_tokens").over(w) - col("n_tokens"))
      .filter(col("cum_excl") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_excl"))
  }

  /** QUALITY-ordered per-source token-budget selection — fill each
    * source's token budget BEST-QUALITY-FIRST instead of
    * [[tokenBudgetMix]]'s content-addressed uniform order: the curation
    * shape when a budget must be spent on the best available documents
    * rather than a random sample (quality-first budget fill). Ordering
    * key is ([[textStats]].quality_score DESC, doc_id) — the score is
    * bitwise-deterministic (single IEEE ops over exact counts), so the
    * selection is a total order both engines reproduce exactly. Same
    * straddle convention as packing: keep iff the EXCLUSIVE prefix is
    * under budget → budget + at most one straddler per source.
    *
    * Scale: one shuffle on source, window state is a running sum —
    * identical plan shape to [[tokenBudgetMix]]; the stats pass is the
    * audited map-side [[textStats]].
    */
  def qualityBudgetMix(documents: DataFrame, budget: Long = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    textStats(documents, keep = Seq("source"))
      .withColumn("cum_excl", sum("n_tokens").over(w) - col("n_tokens"))
      .filter(col("cum_excl") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("quality_score"), col("cum_excl"))
  }

  /** Exact-k STRATIFIED sample — k documents per source, the eval-set /
    * inspection-sample construction step (`sample(fraction)` gives a
    * binomial count that varies per run and can return 0 for small
    * strata; pipelines want exactly k, deterministically). Selection
    * order is the content-addressed shuffle key (seeded md5 — never
    * doc_id order, which would bias toward early ingestion), so the
    * sample is uniform-by-content and identical under any partitioning,
    * retry, or speculation. One shuffle on source; rank+filter is a
    * per-source TOP-K (k rows of state per window at 100 TB, same
    * argument as the global top-k operator).
    */
  def stratifiedSample(documents: DataFrame, k: Int = 20,
                       seed: String = "42"): DataFrame = {
    val key = md5(concat(col("doc_id").cast("string"), lit(":s"), lit(seed)))
    Ranking.topK(documents
        .select(col("doc_id"), col("source"), col("n_chars"), key.as("sample_key")),
        "source", Seq(col("sample_key"), col("doc_id")), k)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
  }

}
