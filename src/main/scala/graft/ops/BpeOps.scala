package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING (Sennrich et al. 2016, arXiv:1508.07909) — the
  * pipeline stage [[TextOps.vocabEncode]] consumes the output of: greedy
  * byte-pair merges learned from the corpus. Not in the reference
  * (SURVEY.md §2.7) — LLM-pipeline extension surface.
  *
  * Scale design (100 TB): BPE trains on the WORD-FREQUENCY HISTOGRAM, not
  * the corpus — one corpus-sized count shuffle up front, then every merge
  * round works on a vocabulary-sized table (millions of rows at web
  * scale, not billions of documents). Each round is: one pair-count
  * aggregation (map-side partial on (a, b)), a 1-row argmax collect (the
  * merge decision — the only driver state, two strings per round), and a
  * map-side fold rewriting each word's symbol array. The histogram is
  * re-persisted per round and the previous round unpersisted — bounded
  * cache footprint, same ownership discipline as dedupIncremental.
  *
  * Tie-breaking is (count DESC, pair ASC) everywhere, so training is
  * deterministic across partitionings and runs.
  */
object BpeOps {

  /** Word-frequency histogram on the engine-wide space tokenizer
    * (`split(text, ' ')`, matching [[TextOps.tokenCounts]]'s convention
    * and its DuckDB oracle `string_split(text, ' ')`).
    */
  def wordFreq(documents: DataFrame): DataFrame =
    documents.select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Merge-round-0 statistics: adjacent CHARACTER pair counts weighted by
    * word frequency, top `topK` by (count DESC, pair ASC) — the argmax of
    * this table is the first merge BPE learns. TakeOrderedAndProject over
    * an alphabet²-sized aggregate: metadata, never corpus.
    */
  def bpePairCounts(documents: DataFrame, topK: Int = 200): DataFrame =
    wordFreq(documents)
      .filter(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)

  /** Greedy left-to-right non-overlapping merge of the adjacent pair
    * (a, b) in a symbol array — one `aggregate` fold per word, map-side.
    * Built from Column lambdas (not an interpolated expr string), so
    * arbitrary symbol content needs no escaping.
    */
  private[graft] def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `nMerges` BPE merges; returns the ordered merge list. Stops
    * early when no adjacent pair is left (fully-merged vocabulary).
    *
    * This is the DISTRIBUTED regime — 2 Spark jobs per merge round. At
    * tokenizer-realistic merge counts (32k) that is ~64k driver-bound
    * job launches, so [[bpeTrainAuto]] is the production entry point:
    * it collects the vocabulary-sized histogram once when it fits under
    * a size bound and trains driver-side ([[bpeTrainLocalFast]] — identical
    * merges, pinned by parity specs), falling back to this loop only when the
    * vocabulary itself is too large to collect (the
    * [[graft.ops.DedupOps.sizedClusterLabels]] regime idiom).
    */
  def bpeTrain(documents: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val chars = expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    // localCheckpoint, NOT persist: a persist keeps the full Catalyst
    // plan, so each round's rewrite stacks one more mergePair fold onto
    // the lineage — planning cost grows linearly per round and the
    // accumulated tree OOMs the driver near merge ~600 (the scale-bpe
    // price ladder shows it). Eager localCheckpoint cuts the
    // plan to a constant-size LogicalRDD every round. Caveat (the
    // standard localCheckpoint contract): blocks are MEMORY_AND_DISK on
    // the executors with lineage gone, so an executor loss aborts the
    // loop — acceptable for a training job (rerun), and the collected
    // driver-side regime is the production path anyway.
    var wf = wordFreq(documents)
      .select(col("freq"), chars.as("syms")).localCheckpoint()
    val merges = collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val top = wf.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val next = wf.select(col("freq"), mergePair(col("syms"), a, b).as("syms"))
          .localCheckpoint()
        freeCheckpoint(wf)
        wf = next
      }
    }
    freeCheckpoint(wf)
    merges.toSeq
  }

  /** Drop a localCheckpoint's cached blocks (the checkpointed RDD sits
    * behind a LogicalRDD; Dataset.unpersist only clears CacheManager
    * entries, never checkpoint blocks — without this each round leaks
    * one histogram-sized block set for the session's lifetime).
    * Round13AdditionsSpec pins that the match actually fires (a Spark
    * upgrade changing the checkpoint plan shape would silently fall to
    * the no-op branch and re-open the leak). */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist()
    }

  /** Greedy left-to-right non-overlapping merge of (a, b) in a plain
    * Scala symbol array — the driver-side twin of [[mergePair]]'s
    * Column fold (same semantics: after a merge the new token `a+b` is
    * the fold's last element, so it never immediately re-pairs as `a`).
    */
  private[graft] def mergePairLocal(syms: Array[String], a: String,
                                    b: String): Array[String] = {
    val out = collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** CODE-POINT split, one single-code-point string per symbol —
    * Spark's substring() walks code points, so a UTF-16 charAt split
    * would diverge on supplementary-plane vocabulary. */
  private[graft] def codePointSyms(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** UTF-8-byte comparison — Spark's string sort is UTF8String byte
    * order; String.compareTo (UTF-16 code units) would diverge above
    * the BMP. The ONE tie-break all three training regimes share. */
  private[graft] def utf8Cmp(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** INCREMENTAL-pair-maintenance training — the standard tokenizer-
    * trainer structure: instead of recounting every word's adjacent
    * pairs each merge, maintain (pair → weighted count) and (pair → word set)
    * maps, rewrite ONLY the words that contain the chosen pair, and
    * apply the count deltas their rewrite implies. Per merge the work
    * is O(Σ length of touched words + log-heap), not O(corpus
    * symbols) — the regime that makes 32k merges on a multi-million-
    * word vocabulary minutes instead of hours.
    *
    * Argmax uses a lazy-deletion binary heap ordered by the IDENTICAL
    * (count DESC, a UTF-8 ASC, b UTF-8 ASC) tie-break as
    * [[bpeTrain]] and the specs' reference loop: every count change pushes a fresh
    * snapshot; a popped snapshot is valid only if it matches the live
    * count, so stale entries drain harmlessly. Counts are maintained by
    * exact (decrement old word pairs, increment new word pairs) deltas,
    * so the map equals the reference loop's from-scratch recount at
    * every step BY ARITHMETIC — and therefore the merge sequence is
    * identical, including every tie (parity spec at depth 1000 on the
    * amplified corpus, plus the fixture-corpus three-regime pin).
    */
  def bpeTrainLocalFast(hist: Seq[(String, Long)],
                        nMerges: Int): Seq[(String, String)] = {
    val syms = hist.iterator.map { case (w, _) => codePointSyms(w) }.toArray
    val freq = hist.iterator.map(_._2).toArray
    val counts = collection.mutable.HashMap.empty[(String, String), Long]
    val occur = collection.mutable.HashMap
      .empty[(String, String), collection.mutable.HashSet[Int]]
    val cmp = new java.util.Comparator[(Long, String, String)] {
      def compare(p: (Long, String, String), q: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(q._1, p._1) // count DESC
        if (c != 0) c
        else {
          val ca = utf8Cmp(p._2, q._2)
          if (ca != 0) ca else utf8Cmp(p._3, q._3)
        }
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      math.max(16, hist.size), cmp)
    def bump(k: (String, String), delta: Long): Unit = {
      val n = counts.getOrElse(k, 0L) + delta
      if (n == 0L) counts.remove(k) else counts.update(k, n)
    }
    var wi = 0
    while (wi < syms.length) {
      val s = syms(wi)
      var i = 0
      while (i + 1 < s.length) {
        val k = (s(i), s(i + 1))
        bump(k, freq(wi))
        occur.getOrElseUpdate(k, collection.mutable.HashSet.empty) += wi
        i += 1
      }
      wi += 1
    }
    counts.foreach { case ((a, b), n) => heap.add((n, a, b)) }
    val merges = collection.mutable.ArrayBuffer.empty[(String, String)]
    val touched = collection.mutable.HashSet.empty[(String, String)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      // pop to the first LIVE snapshot (count still current)
      var best: (String, String) = null
      while (best == null && !heap.isEmpty) {
        val (n, a, b) = heap.poll()
        if (counts.getOrElse((a, b), 0L) == n) best = (a, b)
      }
      if (best == null) exhausted = true
      else {
        merges += best
        touched.clear()
        val hit = occur(best).toArray // snapshot: rewrites mutate the sets
        var h = 0
        while (h < hit.length) {
          val w = hit(h)
          val old = syms(w)
          var i = 0
          while (i + 1 < old.length) {
            val k = (old(i), old(i + 1))
            bump(k, -freq(w)); touched += k
            occur.get(k).foreach(_ -= w)
            i += 1
          }
          val nw = mergePairLocal(old, best._1, best._2)
          syms(w) = nw
          i = 0
          while (i + 1 < nw.length) {
            val k = (nw(i), nw(i + 1))
            bump(k, freq(w)); touched += k
            occur.getOrElseUpdate(k, collection.mutable.HashSet.empty) += w
            i += 1
          }
          h += 1
        }
        occur.remove(best)
        touched.foreach { k =>
          counts.get(k).foreach(n => heap.add((n, k._1, k._2)))
        }
      }
    }
    merges.toSeq
  }

  /** Size-bounded REGIME-SELECTED training — the
    * production entry point. The word histogram is vocabulary-sized
    * metadata (millions of rows at web scale, not billions of docs):
    * count it once (an eager pre-pass over the persisted histogram —
    * not wasted, the collect consumes the same materialization) and
    * when it fits under `maxHistRows`, collect it and train driver-side
    * in plain Scala — nMerges=32k is then a tight local loop instead of
    * ~64k Spark jobs. Past the bound, fall back to the distributed
    * [[bpeTrain]] loop, which never holds more than one 1-row argmax on
    * the driver. Both regimes produce the identical merge list
    * (BpeRegimeSpec pins parity on the fixture corpus).
    */
  def bpeTrainAuto(documents: DataFrame, nMerges: Int,
                   maxHistRows: Long = 4000000L): Seq[(String, String)] = {
    val wf = wordFreq(documents).persist()
    try {
      if (wf.count() <= maxHistRows)
        bpeTrainLocalFast(
          wf.collect().iterator.map(r => (r.getString(0), r.getLong(1))).toSeq,
          nMerges)
      else bpeTrain(documents, nMerges)
    } finally wf.unpersist()
  }

  /** Segment the (space-tokenized) corpus vocabulary with a learned merge
    * list: applies the merges in order to every word — the inference twin
    * of [[bpeTrain]], map-side over the histogram.
    */
  def bpeSegment(documents: DataFrame, merges: Seq[(String, String)]): DataFrame =
    bpeSegmentFreq(wordFreq(documents), merges)

  /** The segmentation core over an already-computed (word, freq)
    * histogram — so a caller that has the histogram in hand (the
    * train→apply composite trains from a collected copy of it) never
    * re-scans and re-tokenizes the corpus to segment (review-caught
    * double scan). */
  private def bpeSegmentFreq(freq: DataFrame,
                             merges: Seq[(String, String)]): DataFrame = {
    val chars = expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    val base = freq.select(col("word"), col("freq"), chars.as("syms"))
    merges.foldLeft(base) { case (df, (a, b)) =>
      df.withColumn("syms", mergePair(col("syms"), a, b))
    }
  }

  /** The FROZEN merge list for the registered `bpe_segment` query —
    * [[bpeTrain]]'s output on the sf0.001 documents corpus (nMerges=16),
    * frozen the way a production pipeline freezes its tokenizer: trained
    * once offline, then applied verbatim to every corpus thereafter (the
    * same frozen-model idiom as the DSIR ratio table and the bigram LM).
    * Freezing also makes the oracle SF-independent — both sides apply
    * the identical literal merge sequence.
    */
  val frozenMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"))

  /** `bpe_segment` in registerable form: segments the corpus vocabulary
    * with [[frozenMerges]] and emits a hashable row per word —
    * (word, freq, n_syms, segmented) with the symbol array joined on
    * U+001F (unit separator). Words containing U+001F are excluded on
    * both sides: the oracle's replace-chain encoding needs a separator
    * that cannot occur inside a symbol (the same data-convention guard
    * as the source-name parsing oracles).
    */
  def bpeSegmentFrozen(documents: DataFrame): DataFrame =
    segmentRows(documents, frozenMerges)

  /** The ONE registerable segmentation row shape — (word, freq, n_syms,
    * U+001F-joined symbols), shared by the frozen-list and trained-list
    * queries so the two cannot diverge on the output contract. */
  private def segmentRows(documents: DataFrame,
                          merges: Seq[(String, String)]): DataFrame =
    segmentRowsFreq(wordFreq(documents), merges)

  private def segmentRowsFreq(freq: DataFrame,
                              merges: Seq[(String, String)]): DataFrame =
    bpeSegmentFreq(freq, merges)
      .filter(!col("word").contains("\u001f"))
      .select(col("word"), col("freq"), size(col("syms")).cast("long").as("n_syms"),
        concat_ws("\u001f", col("syms")).as("segmented"))

  /** The train->apply COMPOSITE a tokenizer pipeline actually runs:
    * train the merge list with the regime-selected [[bpeTrainAuto]] on
    * the corpus itself, then segment the corpus vocabulary with the
    * TRAINED list — the two halves the frozen-list query exercises
    * separately, proven consistent end-to-end on the corpus the oracle
    * gate checks. Training sees the full histogram (including any
    * U+001F-bearing words); only the OUTPUT rows apply the
    * separator-encoding exclusion, same as [[bpeSegmentFrozen]].
    */
  def bpeTrainSegment(documents: DataFrame, nMerges: Int = 16,
                      maxHistRows: Long = 4000000L): DataFrame = {
    // ONE histogram feeds both halves (review-caught double scan):
    // under the regime bound, train from the collected copy and
    // segment from a LOCAL frame of the same rows — the corpus is
    // scanned exactly once; above it, fall to the distributed trainer
    // and the corpus-side segmentation, both histogram-shaped anyway.
    val spark = documents.sparkSession
    val wf = wordFreq(documents).persist()
    try {
      if (wf.count() <= maxHistRows) {
        val hist = wf.collect().iterator
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        import spark.implicits._
        segmentRowsFreq(hist.toDF("word", "freq"),
          bpeTrainLocalFast(hist, nMerges))
      } else segmentRows(documents, bpeTrain(documents, nMerges))
    } finally wf.unpersist()
  }

  /** [[bpeTrainAuto]]'s nMerges=16 output on the sf0.01
    * documents corpus (as `Profile bpe-merges` prints it) —
    * frozen into the `bpe_train_segment` oracle so the gate re-proves
    * on every check that LIVE training reproduces this exact sequence and
    * that segmentation applied to it matches the independent
    * replace-chain formulation. A drift in either half (training
    * tie-break, histogram filter, merge fold) breaks the hash.
    *
    * DELIBERATE SF COUPLING: this oracle is valid ONLY against the
    * sf0.01 corpus the driver's gate runs (every other oracle derives
    * from the tables and is SF-portable). That is the point — the
    * frozen literal is what lets the gate detect a training-determinism
    * drift at all. A local `local_verify.py` run against a different
    * SF_DIR will (correctly) report this one query as a mismatch:
    * live training reflects that corpus's frequencies.
    */
  val trainedMergesSf0p01: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er"),
    ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"))

}
