package graft

import graft.model.ExchangeRates
import graft.ops._
import graft.oracle._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 (and the LLM-pipeline extensions B8-B11)
  * is registered here as a batch query over the driver's parquet test data,
  * with a matching DuckDB oracle from [[graft.oracle]] in [[oracleSql]]
  * (the two sketch queries have none by design). Column names are aliased
  * identically on both sides (the driver's compare sorts columns by name
  * before hashing). Doubles are only ever produced by single deterministic
  * IEEE operations (division / left-fold accumulation), never `round()`,
  * so Spark and DuckDB agree bitwise.
  */
object SparkEntry {

  /** Flagship: the reference's word count (kstreams/App.java:98-109 —
    * regex tokenize + lowercase + groupBy + count) over documents.text.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    TextOps.wordCount(TextOps.tokenizeRegex(docs, col("text")))
  }

  private def D(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def E(s: SparkSession, dir: String) = Tables.events(s, dir)
  private def O(s: SparkSession, dir: String) = Tables.orders(s, dir)

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- word count / tokenization (F6-F9, A1-A3 batch form) ----
    "wordcount_regex" -> ((s, dir) =>
      TextOps.wordCount(TextOps.tokenizeRegex(D(s, dir), col("text")))),
    "wordcount_space" -> ((s, dir) =>
      TextOps.wordCount(TextOps.tokenizeSpace(D(s, dir), col("text")))),
    "tokenize_space" -> ((s, dir) =>
      TextOps.tokenizeSpace(D(s, dir), col("text")).select(col("word").as("value"))),
    // ---- payments pipeline (F1-F4) over a deterministic orders-derived feed ----
    "payments_decode" -> ((s, dir) =>
      PaymentOps.jsonDecode(PaymentOps.syntheticPaymentsJson(O(s, dir)))),
    "payments_convert" -> ((s, dir) =>
      PaymentOps.convert(
        PaymentOps.jsonDecode(PaymentOps.syntheticPaymentsJson(O(s, dir))),
        ExchangeRates.ratesDF(s))
        .select("k", "currency", "amount", "ts", "converted")),
    "payments_suspicious" -> ((s, dir) =>
      PaymentOps.convert(
        PaymentOps.jsonDecode(PaymentOps.syntheticPaymentsJson(O(s, dir))),
        ExchangeRates.ratesDF(s))
        .filter(PaymentOps.suspicious)
        .select("k", "currency", "amount", "ts", "converted")),
    "payments_convert_mapside" -> ((s, dir) =>
      PaymentOps.convertMapSide(s,
        PaymentOps.jsonDecode(PaymentOps.syntheticPaymentsJson(O(s, dir))))),
    // decimal end-to-end conversion (reference BigDecimal fidelity). The
    // registered output carries the decimal as its exact STRING form: the
    // driver's compare reads Spark decimals as Decimal but DuckDB decimals
    // as float64 (repr-asymmetric — see tools/local_verify.py), so the
    // string projection is what keeps the check EXACT to all 6 places
    // instead of laundering both sides through IEEE doubles.
    "payments_convert_decimal" -> ((s, dir) =>
      PaymentOps.convertDecimal(
        PaymentOps.jsonDecode(PaymentOps.syntheticPaymentsJson(O(s, dir))),
        ExchangeRates.ratesDF(s))
        .withColumn("converted_dec", col("converted_dec").cast("string"))),
    "payments_encode" -> ((s, dir) =>
      PaymentOps.jsonEncode(
        PaymentOps.convert(
          PaymentOps.jsonDecode(PaymentOps.syntheticPaymentsJson(O(s, dir))),
          ExchangeRates.ratesDF(s)))),
    "payments_pipeline" -> ((s, dir) =>
      PaymentOps.pipeline(s, O(s, dir))
        .select("k", "currency", "amount", "ts", "converted", "is_suspicious")),
    // ---- projection/cast (F5) ----
    "cast_project" -> ((s, dir) => EventOps.castProject(E(s, dir))),
    // ---- text analysis (B10) ----
    "text_stats" -> ((s, dir) => TextOps.textStats(D(s, dir))),
    // adaptive gate: threshold = the corpus's own p50 quality score
    "quality_percentile" -> ((s, dir) => TextOps.qualityPercentileFilter(D(s, dir))),
    // per-source calibration: percent-rank WITHIN source, so the gate
    // keeps the top half of each source instead of over-pruning whole
    // sources whose raw score profile runs low
    "quality_calibrated" -> ((s, dir) => TextOps.qualityCalibrated(D(s, dir))),
    "lang_id" -> ((s, dir) => TextOps.languageId(D(s, dir))),
    "token_counts" -> ((s, dir) => TextOps.tokenCounts(D(s, dir))),
    // exact top-k corpus frequencies WITHOUT a distinct-token shuffle:
    // Misra-Gries sketch (native TypedImperativeAggregate, O(m) summary
    // per partition) -> broadcast candidates -> exact verify pass.
    // guaranteedOnly: the oracle gate covers exactly the rows whose
    // top-k membership is a theorem, whatever the fixture; the flagged
    // best-effort tail is spec-pinned.
    "heavy_hitters" -> ((s, dir) =>
      FrequencyOps.heavyHitters(D(s, dir), guaranteedOnly = true)),
    "heavy_ngrams" -> ((s, dir) =>
      FrequencyOps.heavyNgrams(D(s, dir), guaranteedOnly = true)),
    "heavy_hitters_by_source" -> ((s, dir) =>
      FrequencyOps.heavyHittersBySource(D(s, dir), guaranteedOnly = true)),
    "bpe_pairs" -> ((s, dir) => BpeOps.bpePairCounts(D(s, dir))),
    "bpe_segment" -> ((s, dir) => BpeOps.bpeSegmentFrozen(D(s, dir))),
    // train->apply composite: LIVE bpeTrainAuto merges feed the
    // segmenter; the oracle embeds the frozen sf0.01 merge sequence, so
    // the gate re-proves training determinism AND segmentation agreement
    // on every run
    "bpe_train_segment" -> ((s, dir) => BpeOps.bpeTrainSegment(D(s, dir))),
    "fingerprints" -> ((s, dir) => TextOps.fingerprints(D(s, dir))),
    // ---- events: dedup + JSON extraction (B8a, B11) ----
    "dedup_events_exact" -> ((s, dir) => EventOps.dedupExact(E(s, dir))),
    "events_json" -> ((s, dir) => EventOps.jsonExtract(E(s, dir))),
    "events_json_agg" -> ((s, dir) => EventOps.jsonAgg(E(s, dir))),
    // ---- document dedup suite (B8) over the dup-injected corpus ----
    "dedup_docs_exact" -> ((s, dir) => DedupOps.exactDedup(DedupOps.augmented(D(s, dir)))),
    "minhash_signatures" -> ((s, dir) => DedupOps.minhashSignatures(DedupOps.augmented(D(s, dir)))),
    "dedup_minhash" -> ((s, dir) => DedupOps.minhashPairs(DedupOps.augmented(D(s, dir)))),
    // the hot-bucket cap's loud half: top-k band
    // buckets by size with the candidate-pair mass, drop counts and the
    // overflow verdict under the same cap the pair surface applies — on
    // a healthy corpus every row PROVES the cap never bit
    "minhash_bucket_stats" -> ((s, dir) =>
      DedupOps.minhashBucketStats(DedupOps.augmented(D(s, dir)))),
    // split-integrity gate: near-dup pairs crossing the train/valid/test
    // hash-split boundary (leaked eval signal the id-hash split cannot
    // see); same corpus as dedup_minhash so the pair surface matches
    "split_leakage" -> ((s, dir) => DedupOps.splitLeakage(DedupOps.augmented(D(s, dir)))),
    // the audit's remedy: cluster-atomic train/valid/test assignment —
    // zero crossing near-dup pairs by construction (transitively). The
    // length guard is the count-prune no-op that keeps the md5 split
    // assignment alive under Bench's count() (the clustering itself is
    // eager at plan build and always timed).
    "leakage_safe_split" -> ((s, dir) =>
      DedupOps.leakageSafeSplit(DedupOps.augmented(D(s, dir)))
        .where(length(col("split")) >= 0)),
    // per source-pair near-dup contamination matrix (mirror-site /
    // scrape-overlap diagnostic) over the source-kept dup corpus
    "cross_source_dups" -> ((s, dir) => DedupOps.crossSourceDupMatrix(DedupOps.augmentedSourced(D(s, dir)))),
    "dedup_ngram_jaccard" -> ((s, dir) => DedupOps.ngramJaccardPairs(DedupOps.augmented(D(s, dir)))),
    // measured recall of banded-LSH MinHash vs the exhaustive
    // Jaccard-pair ground truth (the ann_recall sibling for the lexical
    // pipeline). The coalesce guard is the count-prune no-op (recall is
    // never negative; coalesce keeps it non-foldable) that holds the
    // truth⋈found hit join alive under Bench's count().
    "dedup_recall" -> ((s, dir) =>
      DedupOps.dedupRecall(DedupOps.augmented(D(s, dir)))
        .where(coalesce(col("recall"), lit(0.0)) >= 0.0)),
    // the 100 TB formulation of the recall harness: exhaustive truth
    // restricted to a content-addressed doc sample (seeded md5 bucket),
    // so the estimator's quadratic side shrinks with the sample rate
    "dedup_recall_sampled" -> ((s, dir) =>
      DedupOps.dedupRecallSampled(DedupOps.augmented(D(s, dir)))
        .where(coalesce(col("recall"), lit(0.0)) >= 0.0)),
    "simhash" -> ((s, dir) => DedupOps.simhash(DedupOps.augmented(D(s, dir)))),
    "dedup_simhash" -> ((s, dir) => DedupOps.simhashPairs(DedupOps.augmented(D(s, dir)))),
    "dedup_prefix_editdist" -> ((s, dir) => DedupOps.editDistPairs(DedupOps.augmented(D(s, dir)))),
    // ---- embedding similarity (B9) ----
    "cosine_topk" -> ((s, dir) => SimilarityOps.cosineTopK(Tables.embeddings(s, dir))),
    "ann_ivf" -> ((s, dir) => SimilarityOps.ivfTopK(Tables.embeddings(s, dir))),
    "dedup_embedding" -> ((s, dir) => SimilarityOps.embeddingNearDup(Tables.embeddings(s, dir))),
    "dedup_embedding_lsh" -> ((s, dir) => SimilarityOps.embeddingNearDupLsh(Tables.embeddings(s, dir))),
    // embedding twin of minhash_bucket_stats: signature-bucket skew audit
    // under the same cap the embedding pair surface applies
    "embedding_bucket_stats" -> ((s, dir) =>
      SimilarityOps.embeddingBucketStats(Tables.embeddings(s, dir))),
    // embedding-space twin of split_leakage: paraphrase-level leaks the
    // lexical audit cannot see; same corpus as dedup_embedding_lsh
    "split_leakage_semantic" -> ((s, dir) =>
      SimilarityOps.splitLeakageSemantic(Tables.embeddings(s, dir))),
    "embedding_quantize" -> ((s, dir) => SimilarityOps.quantizeEmbeddingsRows(Tables.embeddings(s, dir))),
    "embedding_project" -> ((s, dir) => SimilarityOps.projectEmbeddings(Tables.embeddings(s, dir))),
    "ann_project_rerank" -> ((s, dir) => SimilarityOps.annProjectRerank(Tables.embeddings(s, dir))),
    // the vector-side flagship composite (corpus_prep's embedding sibling)
    "embedding_pipeline" -> ((s, dir) => SimilarityOps.embeddingPipeline(Tables.embeddings(s, dir))),
    // persisted ANN index lifecycle: the index side
    // (codebook seeds + 3 of every 4 later vectors) is encoded once into
    // the (vec_id, bucket, codes) spine; the delta then queries it via
    // bucket-routed ADC against the FROZEN codebook — no raw index
    // vectors are re-read. The null-accepting guard is the count-prune
    // no-op (adc_dist is bounded far above -1e100; a tighter >= 0 could
    // drop a row on a -1e-18 FP residue the oracle would keep).
    "ann_index_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(PqOps.annSplitIsIndex())
      val cb = PqOps.trainCodebook(base)
      PqOps.annIndexIncremental(PqOps.annIndex(base, cb),
        emb.filter(!PqOps.annSplitIsIndex()), cb)
        .where(col("adc_dist").isNull || col("adc_dist") >= -1e100)
    }),
    "embedding_pq" -> ((s, dir) => PqOps.pqEncode(Tables.embeddings(s, dir))),
    "ann_pq_adc" -> ((s, dir) => PqOps.annPqAdc(Tables.embeddings(s, dir))),
    "ann_ivf_pq" -> ((s, dir) => PqOps.annIvfPq(Tables.embeddings(s, dir))),
    "ann_ivf_pq_residual" -> ((s, dir) => PqOps.annIvfPqResidual(Tables.embeddings(s, dir))),
    // ---- semantic dedup / decontamination (SemDeDup) ----
    // minCos=0.45: the synthetic corpus is near-orthogonal (max natural
    // pairwise cos ≈ 0.51), so 0.45 exercises the greedy within-cluster
    // sweep on natural pairs as well as the planted exact copies; real
    // embeddings use the 0.95-0.99 defaults. k=32 is the k ∝ N operating
    // discipline applied to the bench-scale corpus (~65 docs/cell at
    // sf0.1) — cells, not the corpus, bound the pair step.
    // Fixture augmentation (planted copies / planted contamination) is
    // applied HERE, at the query site — the operators take the corpus as
    // given, so production callers never inherit test planting.
    "semantic_clusters" -> ((s, dir) => SemanticOps.semanticClusters(
      SimilarityOps.augmentedEmbeddings(Tables.embeddings(s, dir)))),
    "semantic_dedup" -> ((s, dir) => SemanticOps.semanticDedup(
      SimilarityOps.augmentedEmbeddings(Tables.embeddings(s, dir)), k = 32, minCos = 0.45)),
    // DataComp-style cluster balancing: cap each semantic cluster at 32
    // members picked in content-addressed order
    "cluster_cap_sample" -> ((s, dir) => SemanticOps.clusterCapSample(
      SimilarityOps.augmentedEmbeddings(Tables.embeddings(s, dir)), k = 32)),
    // trainable Rocchio classifier distilling lang labels: train on 90%,
    // classify the held-out tenth by hashed-TF cosine argmax
    "centroid_classify" -> ((s, dir) =>
      SemanticOps.centroidClassifyHeldout(D(s, dir))),
    // held-out confusion matrix: the monitoring artifact of the gate
    "centroid_confusion" -> ((s, dir) =>
      SemanticOps.centroidConfusion(D(s, dir))),
    "semantic_decontaminate" -> ((s, dir) => SemanticOps.semanticDecontaminate(
      SemanticOps.contaminatedEmbeddings(Tables.embeddings(s, dir)))),
    "semantic_decontaminate_lsh" -> ((s, dir) => SemanticOps.semanticDecontaminateLsh(
      SemanticOps.contaminatedEmbeddings(Tables.embeddings(s, dir)))),
    // third member of the measured-recall evaluation suite: fraction of
    // the exact gate's removals the LSH-bucketed scale path also removes
    // (planting happens inside, as at the two queries above). The
    // coalesce guard is the count-prune no-op holding the removal joins
    // alive under Bench's count() (dedup_recall idiom).
    "decontaminate_recall" -> ((s, dir) =>
      SemanticOps.decontaminateRecall(Tables.embeddings(s, dir))
        .where(coalesce(col("recall"), lit(0.0)) >= 0.0)),
    "hashed_tf" -> ((s, dir) => SemanticOps.hashedTf(D(s, dir))),
    // ---- relational analytics surface ----
    // The `where` guards on the four curve layouts are semantic no-ops
    // (curve indices of valid coordinates are never negative) that force
    // the curve arithmetic under Bench's count(): without them Catalyst
    // column-prunes morton/hilbert and the bench times a bare scan, which
    // would hide any cost of the curve arithmetic itself.
    "zorder_layout" -> ((s, dir) => LayoutOps.zorderLayout(Tables.lineitem(s, dir))
      .where(col("morton") >= 0L)),
    // liquid-clustering counterpart: Hilbert curve, no diagonal jumps
    "hilbert_layout" -> ((s, dir) => LayoutOps.hilbertLayout(Tables.lineitem(s, dir))
      .where(col("hilbert") >= 0L)),
    "zorder3_layout" -> ((s, dir) => LayoutOps.zorder3Layout(Tables.lineitem(s, dir))
      .where(col("morton") >= 0L)),
    "hilbert3_layout" -> ((s, dir) => LayoutOps.hilbert3Layout(Tables.lineitem(s, dir))
      .where(col("hilbert") >= 0L)),
    // small-file compaction plan: quota-fill bin packing over the file
    // inventory (layout hygiene's other half — file COUNT, not row order)
    "compaction_plan" -> ((s, dir) =>
      LayoutOps.compactionPlan(LayoutOps.fileInventory(D(s, dir)))),
    // WRITE-PATH round trip: optimizeTableExact into
    // a pid-scoped fixture tree, read the optimized tree back, summarize
    // per physical file — the write side under the driver's hash gate.
    // The min_curve guard is the count-prune no-op (curve keys are never
    // negative) forcing the read-back curve scan under Bench's count();
    // the write itself runs eagerly at construction either way.
    "optimize_roundtrip" -> ((s, dir) =>
      LayoutOps.optimizeRoundtrip(s, D(s, dir),
          graft.ops.FixtureDirs.dir("graft_opt", dir))
        .where(col("min_curve") >= 0L)),
    // WRITE-PATH round trip #2: applyCompaction (the order-preserving
    // rewrite) into its own pid-scoped tree, read back, per-bin summary
    // with the one-file-per-bin contract IN the hash (n_files counts
    // input_file_name() on the read-back scan). The min_doc guard is the
    // count-prune no-op keeping the read-back aggregate alive.
    "compaction_roundtrip" -> ((s, dir) =>
      LayoutOps.compactionRoundtrip(s, D(s, dir),
          graft.ops.FixtureDirs.dir("graft_cmp", dir))
        .where(col("min_doc") >= 0L)),
    "q1_pricing_summary" -> ((s, dir) => RelationalOps.pricingSummary(Tables.lineitem(s, dir))),
    "orders_by_nation" -> ((s, dir) => RelationalOps.ordersByNation(
      O(s, dir), Tables.customer(s, dir), Tables.nation(s, dir))),
    "top_orders_per_priority" -> ((s, dir) => RelationalOps.topOrdersPerPriority(O(s, dir))),
    "q5_local_supplier" -> ((s, dir) => RelationalOps.localSupplierRevenue(
      Tables.customer(s, dir), O(s, dir), Tables.lineitem(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),
    "q7_volume_shipping" -> ((s, dir) => RelationalOps.volumeShipping(
      Tables.lineitem(s, dir), O(s, dir), Tables.customer(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir))),
    "q8_market_share" -> ((s, dir) => RelationalOps.marketShare(
      Tables.lineitem(s, dir), O(s, dir), Tables.customer(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir))),
    "q22_sales_opportunity" -> ((s, dir) => RelationalOps.salesOpportunity(
      Tables.customer(s, dir), O(s, dir), Tables.nation(s, dir))),
    "q13_order_distribution" -> ((s, dir) => RelationalOps.orderCountDistribution(
      Tables.customer(s, dir), O(s, dir))),
    "q14_promo_revenue" -> ((s, dir) => RelationalOps.promoRevenue(
      Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q15_top_supplier" -> ((s, dir) => RelationalOps.topSupplier(
      Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    "q19_discount_revenue" -> ((s, dir) => RelationalOps.discountedRevenue(
      Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q18_big_orders" -> ((s, dir) => RelationalOps.bigOrders(O(s, dir), Tables.lineitem(s, dir))),
    "q10_top_return_customers" -> ((s, dir) => RelationalOps.topReturnCustomers(
      Tables.customer(s, dir), O(s, dir), Tables.lineitem(s, dir), Tables.nation(s, dir))),
    "q6_revenue_change" -> ((s, dir) => RelationalOps.revenueChange(Tables.lineitem(s, dir))),
    "q3_shipping_priority" -> ((s, dir) => RelationalOps.shippingPriority(
      Tables.customer(s, dir), O(s, dir), Tables.lineitem(s, dir))),
    "q4_priority_returns" -> ((s, dir) => RelationalOps.prioritiesWithReturns(
      O(s, dir), Tables.lineitem(s, dir))),
    // ---- Catalyst decorrelation shapes (see RelationalOps) ----
    "q21_waiting_supplier" -> ((s, dir) => RelationalOps.waitingSuppliers(
      s, Tables.supplier(s, dir), Tables.lineitem(s, dir), O(s, dir))),
    "q2_min_cost_supplier" -> ((s, dir) => RelationalOps.minCostSupplier(
      s, Tables.part(s, dir), Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    "q11_important_balance" -> ((s, dir) => RelationalOps.importantNationBalance(
      s, Tables.supplier(s, dir), Tables.nation(s, dir))),
    "q12_priority_lines" -> ((s, dir) => RelationalOps.priorityLineClasses(
      s, O(s, dir), Tables.lineitem(s, dir))),
    "q20_promo_suppliers" -> ((s, dir) => RelationalOps.promoSuppliers(
      s, Tables.supplier(s, dir), Tables.lineitem(s, dir),
      Tables.part(s, dir), Tables.nation(s, dir))),
    "q9_product_profit" -> ((s, dir) => RelationalOps.productProfit(
      Tables.lineitem(s, dir), O(s, dir), Tables.part(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir))),
    "window_tumbling" -> ((s, dir) => EventOps.tumblingCounts(E(s, dir))),
    "window_sliding" -> ((s, dir) => EventOps.slidingCounts(E(s, dir))),
    "anti_join" -> ((s, dir) => RelationalOps.customersWithoutOrders(
      Tables.customer(s, dir), O(s, dir))),
    "rollup_pricing" -> ((s, dir) => RelationalOps.pricingRollup(Tables.lineitem(s, dir))),
    "cube_pricing" -> ((s, dir) => RelationalOps.pricingCube(Tables.lineitem(s, dir))),
    "grouping_sets_pricing" -> ((s, dir) => RelationalOps.pricingGroupingSets(Tables.lineitem(s, dir))),
    "pivot_returnflag" -> ((s, dir) => RelationalOps.returnFlagPivot(Tables.lineitem(s, dir))),
    "running_totals" -> ((s, dir) => RelationalOps.runningTotals(O(s, dir))),
    "rolling_revenue" -> ((s, dir) => RelationalOps.rollingRevenue(O(s, dir))),
    "window_analytics" -> ((s, dir) => RelationalOps.windowAnalytics(O(s, dir))),
    "q16_supplier_count" -> ((s, dir) => RelationalOps.supplierCountByBrand(
      Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q17_small_qty_revenue" -> ((s, dir) => RelationalOps.smallQuantityRevenue(
      s, Tables.lineitem(s, dir), Tables.part(s, dir))),
    // The `where` guards on vocab_encode/32k, unigram_scores and
    // doc_repetition below are semantic no-ops (each predicate is always
    // true for the column's value range) that keep the encode/score join
    // alive under Bench's count(): Catalyst eliminates a left join whose
    // aggregate-keyed right side is unreferenced, so without the guard
    // the bench times token explosion only, not the join being measured
    // (`Profile count-prune` audits the whole surface for this).
    "vocab_encode" -> ((s, dir) =>
      TextOps.vocabEncode(D(s, dir)).where(col("token_id") >= -1L)),
    // Tokenizer-realistic vocab size: same plan shape (TakeOrderedAndProject
    // + broadcast encode join) proven at 32k ids, not a toy 16.
    "vocab_encode_32k" -> ((s, dir) =>
      TextOps.vocabEncode(D(s, dir), 32768).where(col("token_id") >= -1L)),
    // CCNet-style corpus-statistics quality scoring (transcendental-free)
    "unigram_scores" -> ((s, dir) =>
      TextOps.unigramScores(D(s, dir)).where(col("mean_freq") >= 0.0)),
    // RAG/embedding chunker: overlapping token windows, map-side only
    "chunk_docs" -> ((s, dir) => TextOps.chunkDocuments(D(s, dir))),
    // flagship composite: quality -> scrub -> dedup -> split -> account
    "corpus_prep" -> ((s, dir) => TextOps.corpusPrep(D(s, dir))),
    "curation_report" -> ((s, dir) => TextOps.curationReport(D(s, dir))),
    // n-gram LM counting stage: bigram counts + P(w2|w1)
    "bigram_lm" -> ((s, dir) => TextOps.bigramLm(D(s, dir))),
    "lm_likelihood" -> ((s, dir) => TextOps.lmLikelihood(D(s, dir))),
    // held-out source = min(source): one bounded driver scalar, the same
    // collect contract as the ANN query sets. The avg_p guard is the
    // count-prune no-op (always true: probabilities are >= 0) that keeps
    // the LEFT model join alive under Bench's count().
    "lm_score_heldout" -> ((s, dir) => {
      val d = D(s, dir)
      val held = d.agg(min(col("source"))).head().getString(0)
      TextOps.lmLikelihoodAgainst(
        d.filter(col("source") =!= held), d.filter(col("source") === held))
        .where(col("avg_p") >= 0.0)
    }),
    "except_users" -> ((s, dir) => EventOps.churnedUsers(E(s, dir))),
    "intersect_users" -> ((s, dir) => EventOps.retainedUsers(E(s, dir))),
    "ann_lsh_multiprobe" -> ((s, dir) => SimilarityOps.lshTopKMultiProbe(Tables.embeddings(s, dir))),
    "ann_lsh_multitable" -> ((s, dir) => SimilarityOps.lshTopKMultiTable(Tables.embeddings(s, dir))),
    "ann_ivf_nprobe" -> ((s, dir) => SimilarityOps.ivfTopKProbed(Tables.embeddings(s, dir))),
    // ---- multimodal column pattern (B11) ----
    "multimodal_features" -> ((s, dir) => MultimodalOps.features(s, D(s, dir))),
    "multimodal_frames" -> ((s, dir) => MultimodalOps.sampleFrames(MultimodalOps.pack(D(s, dir)))),
    "multimodal_resize" -> ((s, dir) => MultimodalOps.resizeStub(s, MultimodalOps.pack(D(s, dir))).toDF()),
    // the REAL binaryFile ingest edge: write the fixture media tree
    // (payload bytes derived from documents, dup copies planted), read
    // it back through spark.read.format("binaryFile"), emit the
    // content-addressed manifest with digest dedup — the oracle
    // reconstructs the whole write→ingest loop from the documents table,
    // so any byte lost in the round trip breaks the digest column
    "multimodal_manifest" -> ((s, dir) => {
      val fix = MultimodalOps.fixtureDir(dir)
      MultimodalOps.writeFixtureTree(D(s, dir), fix)
      MultimodalOps.ingestManifest(s, fix)
    }),
    // REAL pixels: deterministic BMP fixtures generated from
    // documents by byte arithmetic, decoded executor-side through
    // javax.imageio; the oracle recomputes dims + exact channel sums
    // from the generation formula — encoder, JDK decoder, and DuckDB
    // must three-way agree on every pixel
    "multimodal_decode" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_bmp", dir)
      MultimodalOps.writeBmpFixtureTree(D(s, dir), fix)
      MultimodalOps.decodeImages(s,
        s.read.format("binaryFile").load(fix)).toDF()
    }),
    "multimodal_resize_real" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_bmp", dir)
      MultimodalOps.writeBmpFixtureTree(D(s, dir), fix)
      MultimodalOps.resizeDecoded(s,
        s.read.format("binaryFile").load(fix)).toDF()
    }),
    // second container format through the SAME decode gate: the
    // rasters re-encoded as PNG by ImageIO's writer (deflate, top-down,
    // chunked — nothing the hand-rolled BMP layout exercises), decoded
    // by the same executor-side path; the oracle is unchanged because
    // the pixel formula is container-independent
    "multimodal_decode_png" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_png", dir)
      MultimodalOps.writePngFixtureTree(D(s, dir), fix)
      MultimodalOps.decodeImages(s,
        s.read.format("binaryFile").load(fix),
        extPattern = "img_(\\d+)\\.png$").toDF()
    }),
    // the LOSSY-codec gate: the same rasters through ImageIO's
    // JPEG encoder at quality 0.95 — decoded pixels are approximations,
    // so the contract is dims-exact + per-channel means within a
    // tolerance band; the oracle predicts the dims and expects every
    // band verdict TRUE
    "multimodal_decode_jpeg" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_jpg", dir)
      MultimodalOps.writeJpegFixtureTree(D(s, dir), fix)
      MultimodalOps.decodeJpegBanded(s,
        s.read.format("binaryFile").load(fix), D(s, dir))
    }),
    // the quarantine contract on the lossy path: junk + truncated-JPEG
    // blobs become 'corrupt' verdict rows with null geometry; decodable
    // rasters keep exact dims (lossy compression never changes
    // geometry, so status + dims ARE cross-engine hashable)
    "multimodal_decode_jpeg_quarantine" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_jpgq", dir)
      MultimodalOps.writeJpegFixtureTree(D(s, dir), fix)
      MultimodalOps.writeCorruptJpegFixtures(fix)
      MultimodalOps.decodeImagesLenient(s,
        s.read.format("binaryFile").load(fix)).toDF()
        .select("doc_id", "status", "width", "height", "n_px")
    }),
    // REAL audio: deterministic 16-bit PCM WAV fixtures
    // hand-rolled from documents by byte arithmetic, decoded
    // executor-side through javax.sound.sampled; the oracle recomputes
    // frame counts + exact per-channel sample sums + observed range
    // from the generation formula — encoder, JDK decoder, and DuckDB
    // must three-way agree on every sample
    "multimodal_decode_wav" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_wav", dir)
      MultimodalOps.writeWavFixtureTree(D(s, dir), fix)
      MultimodalOps.decodeAudio(s,
        s.read.format("binaryFile").load(fix)).toDF()
    }),
    // 2x temporal downsample over the decoded samples — the audio
    // resize_real sibling; the oracle re-derives even-frame sums from
    // the generation formula
    "multimodal_resample_wav" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_wav", dir)
      MultimodalOps.writeWavFixtureTree(D(s, dir), fix)
      MultimodalOps.resampleAudio(s,
        s.read.format("binaryFile").load(fix)).toDF()
    }),
    // SECOND audio container: the same clips companded to
    // G.711 μ-law (hand-rolled encoder, fmt tag 7), expanded back to
    // 16-bit PCM by javax.sound's codec executor-side; the oracle
    // recomputes the companding round trip from the generation formula
    // in pure integer SQL — proving the audio gate is
    // container-independent the way PNG proved it for BMP
    "multimodal_decode_ulaw" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_ulaw", dir)
      MultimodalOps.writeUlawFixtureTree(D(s, dir), fix)
      MultimodalOps.decodeAudioCompanded(s,
        s.read.format("binaryFile").load(fix)).toDF()
    }),
    // CORRUPT-BLOB QUARANTINE: the good mu-law tree + one junk blob +
    // one empty-data container; every file gets a verdict row — 'ok'
    // with stats or 'corrupt' with nulls. One bad upload among billions
    // routes to a table instead of killing the ingest
    "multimodal_decode_quarantine" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_ulawq", dir)
      MultimodalOps.writeUlawFixtureTree(D(s, dir), fix)
      MultimodalOps.writeCorruptAudioFixtures(fix)
      MultimodalOps.decodeAudioLenient(s,
        s.read.format("binaryFile").load(fix)).toDF()
        .drop("reason") // diagnostic-only; oracle contract is status+stats
    }),
    // MULTIMODAL FLAGSHIP: manifest over both
    // asset trees -> lenient decode verdicts -> digest-dedup survivors
    // -> per-(modality, verdict) accounting, one composed plan (the
    // corpus_prep pattern for the binary families)
    "multimodal_prep" -> ((s, dir) => {
      val fixMm = FixtureDirs.dir("graft_mmprep", dir)
      val fixAu = FixtureDirs.dir("graft_mmprep_au", dir)
      MultimodalOps.writeFixtureTree(D(s, dir), fixMm)
      MultimodalOps.writeUlawFixtureTree(D(s, dir), fixAu)
      MultimodalOps.writeCorruptAudioFixtures(fixAu)
      MultimodalOps.multimodalPrep(s, fixMm, fixAu)
    }),
    // THIRD audio container: a-law — the other G.711 companding law
    // (fmt tag 6; XOR-0x55 toggling, inverted sign convention, mid-rise
    // zero cell). A decode path that quietly reused the mu-law table
    // would fail every fixture here
    "multimodal_decode_alaw" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_alaw", dir)
      MultimodalOps.writeAlawFixtureTree(D(s, dir), fix)
      MultimodalOps.decodeAudioCompanded(s,
        s.read.format("binaryFile").load(fix),
        extPattern = "al_(\\d+)\\.wav$").toDF()
    }),
    // REAL multi-frame container: animated GIF through
    // ImageIO's sequence writer/reader — the frame sampler decodes ONLY
    // every 2nd frame index; the oracle recomputes each sampled frame's
    // gray sum from the per-(frame, pixel) formula, blind to the
    // container
    "multimodal_frames_real" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_gif", dir)
      MultimodalOps.writeGifFixtureTree(D(s, dir), fix)
      MultimodalOps.sampleFramesReal(s,
        s.read.format("binaryFile").load(fix)).toDF()
    }),
    // stride=3 variant: pins the PARAMETERIZED
    // stride contract — fixtures carry 1..4 frames, so stride 3 samples
    // frame sets {0} and {0,3} while stride 2 samples {0}/{0,2}: a
    // sampler that decoded every frame and filtered afterwards would
    // still hash-match one stride by luck, not both
    "multimodal_frames_stride3" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_gif", dir)
      MultimodalOps.writeGifFixtureTree(D(s, dir), fix)
      MultimodalOps.sampleFramesReal(s,
        s.read.format("binaryFile").load(fix), stride = 3).toDF()
    }),
    // SECOND multi-frame container: multi-page
    // TIFF through the same sequence-writer core, pixel formula, and
    // stride gate — the oracle is byte-for-byte the GIF one, so a green
    // row proves frame sampling is container-independent (both strides,
    // same two-stride luck-proofing as the GIF pair)
    "multimodal_frames_tiff" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_tiff", dir)
      MultimodalOps.writeTiffFixtureTree(D(s, dir), fix)
      MultimodalOps.sampleFramesReal(s,
        s.read.format("binaryFile").load(fix),
        extPattern = "vid_(\\d+)\\.tif$").toDF()
    }),
    "multimodal_frames_tiff_stride3" -> ((s, dir) => {
      val fix = FixtureDirs.dir("graft_tiff", dir)
      MultimodalOps.writeTiffFixtureTree(D(s, dir), fix)
      MultimodalOps.sampleFramesReal(s,
        s.read.format("binaryFile").load(fix), stride = 3,
        extPattern = "vid_(\\d+)\\.tif$").toDF()
    }),
    // ---- LSH ANN, rolling fingerprint, tf-idf ----
    "ann_lsh" -> ((s, dir) => SimilarityOps.lshTopK(Tables.embeddings(s, dir))),
    // measured recall@k of probe-1 LSH vs the exact brute-force top-k —
    // the evaluation loop an ANN deployment tunes its knobs against.
    // The recall guard is the count-prune no-op (recall is never
    // negative): without it Catalyst drops the truth⋈approx hit join
    // under Bench's count() and the bench would time the truth pipeline
    // alone (`Profile count-prune` shows it).
    "ann_recall" -> ((s, dir) => SimilarityOps.annRecall(Tables.embeddings(s, dir))
      .where(col("recall_at_k") >= 0.0)),
    // tuned-config recalls: same truth side, the
    // production retrieval paths — multi-probe LSH and the IVF-PQ ADC
    // scan — as driver-tracked numbers next to the probe-1 baseline.
    "ann_recall_multiprobe" -> ((s, dir) =>
      SimilarityOps.annRecallMultiProbe(Tables.embeddings(s, dir))
        .where(col("recall_at_k") >= 0.0)),
    "ann_recall_ivfpq" -> ((s, dir) =>
      SimilarityOps.annRecallIvfPq(Tables.embeddings(s, dir))
        .where(col("recall_at_k") >= 0.0)),
    "ann_recall_funnel" -> ((s, dir) =>
      SimilarityOps.annRecallFunnel(Tables.embeddings(s, dir))
        .where(col("recall_at_k") >= 0.0)),
    "ann_recall_multitable" -> ((s, dir) =>
      SimilarityOps.annRecallMultiTable(Tables.embeddings(s, dir))
        .where(col("recall_at_k") >= 0.0)),
    // recall@1 of the persisted-index incremental path: exact
    // brute-force nearest index vector as truth, the
    // ann_index_incremental probe-1 ADC pick as found; orphan rows
    // (nn_id = -1) count as misses by the shared recallAtK arithmetic
    "ann_recall_incremental" -> ((s, dir) =>
      SimilarityOps.annRecallIncremental(Tables.embeddings(s, dir))
        .where(col("recall_at_k") >= 0.0)),
    // the multi-probe lever on the same path: hamming-1 bucket expansion
    // recovers the routing misses probe-1 owns (candidates are a strict
    // superset, so this recall dominates by construction)
    "ann_recall_incremental_mp" -> ((s, dir) =>
      SimilarityOps.annRecallIncrementalMultiProbe(Tables.embeddings(s, dir))
        .where(col("recall_at_k") >= 0.0)),
    // the same persisted-index pipeline on CLUSTERED geometry:
    // knob-sheet recipe (multiprobe, m=8/k=64) over the
    // integer product-grid fixture — deployment-grade recall where the
    // near-orthogonal rows above measure the worst case
    "ann_recall_incremental_clustered" -> ((s, dir) =>
      SimilarityOps.annRecallIncrementalClustered(Tables.embeddings(s, dir))
        .where(col("recall_at_k") >= 0.0)),
    "ann_index_incremental_mp" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(PqOps.annSplitIsIndex())
      val cb = PqOps.trainCodebook(base)
      PqOps.annIndexIncrementalMultiProbe(PqOps.annIndex(base, cb),
        emb.filter(!PqOps.annSplitIsIndex()), cb)
        .where(col("adc_dist").isNull || col("adc_dist") >= -1e100)
    }),
    "winnow_fingerprints" -> ((s, dir) => TextOps.winnowFingerprints(D(s, dir))),
    "tfidf_top" -> ((s, dir) => TextOps.tfIdfTop(D(s, dir))),
    "bm25_topk" -> ((s, dir) => TextOps.bm25TopK(D(s, dir))),
    // hybrid sparse+dense retrieval: RRF fusion (c=60) of the BM25 and
    // hashed-TF-cosine channel top-10 lists; the dense slot is the
    // brute-force baseline — any ann_* top-k satisfies the same
    // (q_id, doc_id, rank) fusion contract at scale
    "hybrid_rrf" -> ((s, dir) =>
      RetrievalOps.hybridRrf(D(s, dir), col("doc_id") < 8)),
    // persisted-inverted-index lifecycle: base postings/doclens/df
    // written to parquet and READ BACK, a doc-disjoint delta merged in
    // (postings append + vocab-sized df sum), queries scored from the
    // merged index without ever re-tokenizing the base corpus — the
    // oracle is the full-corpus bm25_topk SQL, so the row proves
    // incremental == rebuild bit-for-bit
    "bm25_incremental" -> ((s, dir) => {
      val docs = D(s, dir)
      val fix = FixtureDirs.dir("graft_bm25idx", dir)
      RetrievalOps.writeBm25Index(
        RetrievalOps.bm25BuildIndex(docs.filter(col("doc_id") % 5 =!= 3)), fix)
      val merged = RetrievalOps.bm25MergeIndex(
        RetrievalOps.readBm25Index(s, fix),
        RetrievalOps.bm25BuildIndex(docs.filter(col("doc_id") % 5 === 3)))
      RetrievalOps.bm25RanksFromIndex(merged,
        RetrievalOps.queryTerms(docs, col("doc_id") < 8))
    }),
    // the SCALE-PATH fusion proof: same RRF contract, dense channel
    // bucket-routed by ±1-hyperplane LSH over the integer doc vectors
    // (probe-1) instead of the brute-force corpus pass
    "hybrid_rrf_lsh" -> ((s, dir) =>
      RetrievalOps.hybridRrfLsh(D(s, dir), col("doc_id") < 8)),
    // contrastive triplet mining: verified near-dup pairs become
    // (anchor, positive); negatives are bucket-routed deterministic
    // picks excluding every known near-dup of the anchor
    "triplet_mining" -> ((s, dir) => SemanticOps.tripletMining(D(s, dir))),
    // pseudo-relevance feedback (RM3-lite): top-3 feedback docs per
    // query contribute their 5 most frequent non-query terms, then a
    // second BM25 pass scores the expanded term set
    "bm25_prf" -> ((s, dir) =>
      RetrievalOps.bm25Prf(D(s, dir), col("doc_id") < 8)),
    // planted-contamination recall@5 per channel (sparse/dense/hybrid)
    // over the dup-injected corpus: does the audit retrieve the edited
    // query's source document? evaluation-harness class, query-bounded
    "retrieval_recall" -> ((s, dir) => RetrievalOps.retrievalRecall(D(s, dir))),
    // the same planted-truth eval with the SCALE-PATH dense channel
    // (probe-1 LSH) — prices the bucket-routing recall cost next to
    // the brute channel's ceiling
    "retrieval_recall_lsh" -> ((s, dir) =>
      RetrievalOps.retrievalRecall(D(s, dir), lsh = true)),
    // the 100 TB formulation of the recall harness: both channels run
    // over a CO-ADDRESSED content sample (query
    // and its truth original share the bucket hash, so surviving
    // queries keep their truth), the knob carried in the output —
    // the dedup_recall_sampled pattern applied to retrieval
    "retrieval_recall_sampled" -> ((s, dir) =>
      RetrievalOps.retrievalRecallSampled(D(s, dir))),
    // PRF as a PURE INDEX CONSUMER: both scoring
    // passes + feedback weights + expansion idf read the PERSISTED
    // index (written + read back); the oracle is bm25_prf's SQL, so
    // the row IS the bit-parity proof that index-backed PRF ==
    // two-corpus-explode PRF
    "bm25_prf_index" -> ((s, dir) => {
      val docs = D(s, dir)
      val fix = FixtureDirs.dir("graft_bm25idx_prf", dir)
      RetrievalOps.writeBm25Index(RetrievalOps.bm25BuildIndex(docs), fix)
      RetrievalOps.bm25PrfFromIndex(RetrievalOps.readBm25Index(s, fix),
        RetrievalOps.queryTerms(docs, col("doc_id") < 8))
    }),
    // the fusion the 100 TB deployment actually runs: dense slot = multiprobe ADC top-k over a PERSISTED annIndex
    // of the doc vectors (written + read back), fused with BM25 by the
    // same RRF contract
    "hybrid_rrf_index" -> ((s, dir) =>
      RetrievalOps.hybridRrfIndexPersisted(s, D(s, dir),
        col("doc_id") < 8, FixtureDirs.dir("graft_annidx_docs", dir))),
    // planted-truth recall of that production configuration — the
    // third dense-channel variant (exhaustive / probe-1 LSH /
    // persisted-index multiprobe PQ) priced on one scale
    "retrieval_recall_annindex" -> ((s, dir) =>
      RetrievalOps.retrievalRecallAnnIndex(D(s, dir))),
    // coverage ledger for triplet mining's documented drop contract:
    // verified pairs whose routed bucket had no eligible negative
    "triplet_coverage" -> ((s, dir) => SemanticOps.tripletCoverage(D(s, dir))),
    "sessionize" -> ((s, dir) => EventOps.sessionize(E(s, dir))),
    // ---- composite training-pipeline flows ----
    "quality_filter" -> ((s, dir) => TextOps.qualityFilter(D(s, dir))),
    "salted_join" -> ((s, dir) => {
      val ev = E(s, dir)
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_total"))
      SkewOps.saltedJoin(ev.select("event_id", "event_type"), dim,
          "event_type", col("event_id"))
        .select("event_id", "event_type", "type_total")
    }),
    "dedup_pipeline" -> ((s, dir) => DedupOps.dedupPipeline(DedupOps.augmented(D(s, dir)))),
    "paragraph_dedup" -> ((s, dir) => DedupOps.paragraphDedup(D(s, dir))),
    // within-doc keep-first segment dedup: zero-shuffle map-side twin of
    // the cross-doc stages (CCNet per-page line dedup)
    "line_dedup" -> ((s, dir) => DedupOps.lineDedup(D(s, dir))),
    // CCNet-style boilerplate removal: ALL copies of any segment seen in
    // >1 distinct docs are dropped (vs paragraph_dedup's keep-first).
    // Runs over the dup-injected corpus — the plain corpus has no
    // cross-document segments (measured: every segment df=1 at sf0.01).
    "boilerplate_strip" -> ((s, dir) =>
      DedupOps.boilerplateStrip(DedupOps.augmented(D(s, dir)))),
    // Gopher/MassiveText rule battery: per-rule 0/1 flags + combined keep.
    // The keep guard is a semantic no-op (keep is a product of 0/1 flags,
    // never negative) that holds every rule's computation alive under
    // Bench's count(): without it Catalyst prunes the bigram left join and
    // the bench times only the stats pass (contamination_score idiom). A
    // bare-flag guard (`f_top_bigram >= 0`) does NOT work —
    // UnwrapCastInBinaryComparison folds `cast(bool as long) >= 0` to
    // true; `keep` is a Multiply, which no unwrap rule touches.
    "gopher_gate" -> ((s, dir) =>
      TextOps.gopherGate(D(s, dir)).where(col("keep") >= 0L)),
    "decontaminate" -> ((s, dir) => DedupOps.decontaminate(D(s, dir))),
    // span-level localization of the benchmark overlap: the merged
    // token intervals a surgical pipeline redacts instead of dropping
    // whole documents, and the redaction itself (row-for-row corpus out)
    "decontaminate_spans" -> ((s, dir) => DedupOps.decontaminateSpans(D(s, dir))),
    // the length guard is the count-prune no-op (`Profile count-prune`
    // shows why: a bare count() lets Catalyst drop BOTH joins and would
    // time a pruned plan, not the redaction)
    "decontaminate_surgical" -> ((s, dir) =>
      DedupOps.decontaminateSurgical(D(s, dir))
        .where(length(col("text_clean")) >= 0)),
    // bloom-prefiltered twin: byte-identical output, broadcast-bloom plan
    "bloom_decontaminate" -> ((s, dir) => DedupOps.bloomDecontaminate(D(s, dir))),
    // fractional per-doc benchmark overlap (decontaminate is the binary
    // gate). The frac guard is the count-prune no-op (frac is never
    // negative): without it Catalyst eliminates the bench-mark left join
    // under Bench's count() and the bench times gram explosion only.
    "contamination_score" -> ((s, dir) =>
      DedupOps.contaminationScore(D(s, dir)).where(col("frac") >= 0.0)),
    "substring_dup" -> ((s, dir) => DedupOps.substringDup(D(s, dir))),
    // ExactSubstr span REMOVAL — the transformation substring_dup gates.
    // The clean_len guard is a semantic no-op (length is never negative)
    // that keeps the reassembly join alive under Bench's count(): without
    // it Catalyst eliminates the left join against the interval aggregate
    // (keyed on the join key, payload unreferenced) and the bench would
    // time a parquet metadata count instead of the operator.
    "substring_dedup" -> ((s, dir) =>
      DedupOps.substringDedup(D(s, dir)).where(col("clean_len") >= 0)),
    "stats_corr" -> ((s, dir) => StatsOps.statsCorr(Tables.lineitem(s, dir))),
    "median_quantiles" -> ((s, dir) => StatsOps.quantiles(Tables.lineitem(s, dir))),
    "outlier_screen" -> ((s, dir) => StatsOps.outliers(Tables.lineitem(s, dir))),
    // feature engineering: broadcast-boundary equi-depth binning (the
    // scale-correct QuantileDiscretizer shape — no global ntile window)
    // and per-group z-score standardization behind a broadcast join
    "quantile_bins" -> ((s, dir) => StatsOps.quantileBins(Tables.lineitem(s, dir))),
    "zscore_normalize" -> ((s, dir) => StatsOps.zscoreNormalize(Tables.lineitem(s, dir))),
    // Deequ-style landing gate: one-pass per-column profile + one-pass
    // declarative constraint verdicts (the admit/reject check a pipeline
    // runs on every landed partition before training reads it)
    "data_profile" -> ((s, dir) => StatsOps.dataProfile(D(s, dir))),
    // The PRODUCTION profile variant — approx_count_distinct (HLL++) in
    // place of the exact distincts, ONE pass, NO Expand: the form a
    // 100 TB deployment actually runs. No oracle entry by design
    // (sketch estimates are engine-specific — the approx_users
    // precedent), so the driver records the weaker rows-only check;
    // the spec pins it within rsd tolerance of data_profile and exactly
    // equal on every non-distinct column.
    "data_profile_approx" -> ((s, dir) => StatsOps.dataProfileApprox(D(s, dir))),
    "constraint_check" -> ((s, dir) => StatsOps.constraintCheck(Tables.lineitem(s, dir))),
    // the actionable half: route violating rows to quarantine with the
    // list of constraints each failed (map-side, zero shuffles)
    "constraint_route" -> ((s, dir) => StatsOps.constraintRoute(Tables.lineitem(s, dir))),
    // join-key skew diagnostic: the measurement that sizes salted_join's
    // salt factor (and decides whether salting is needed at all)
    "skew_report" -> ((s, dir) => SkewOps.skewReport(Tables.lineitem(s, dir), "l_partkey")),
    // landing gate part 3: time-split distribution drift (χ²-style,
    // transcendental-free so both engines agree bitwise)
    "drift_check" -> ((s, dir) => StatsOps.driftCheck(E(s, dir))),
    // equi-depth twin: bucket grid from the pooled distribution's exact
    // quantiles (the quantile_bins boundary machinery) — equal statistical
    // power per bucket on heavy-tailed domains
    "drift_check_quantile" -> ((s, dir) => StatsOps.driftCheckQuantile(E(s, dir))),
    // release audit: what did the boilerplate-strip stage do to the
    // dup-injected corpus? (digest-compare map-side — text never
    // shuffles). Statuses reflect what the strip actually did at the
    // registered SF: changed + unchanged; 'removed' appears only when a
    // document is 100% boilerplate, which this corpus pair doesn't
    // produce at sf0.01 (the spec exercises all four statuses on
    // fixtures).
    "output_diff" -> ((s, dir) => {
      val corpus = DedupOps.augmented(D(s, dir))
      StatsOps.outputDiff(corpus, DedupOps.boilerplateStrip(corpus),
        "doc_id", "text", "text_clean")
    }),
    "simhash_shingles" -> ((s, dir) => DedupOps.simhashShingles(DedupOps.augmented(D(s, dir)))),
    "doc_repetition" -> ((s, dir) =>
      TextOps.docRepetition(D(s, dir)).where(col("top_bigram_frac") >= 0.0)),
    "pii_scrub" -> ((s, dir) => TextOps.piiScrub(D(s, dir))),
    // privacy release gate: quasi-identifier group sizes vs k — one
    // quasi-key shuffle, verdict rows are metadata-sized
    "k_anonymity" -> ((s, dir) => TextOps.kAnonymityGate(D(s, dir))),
    "source_mix" -> ((s, dir) => TextOps.sourceMix(Tables.documents(s, dir))),
    // up-sampling mix: scarce sources replicated above rate 1
    "source_mix_upsample" -> ((s, dir) =>
      TextOps.sourceMixUpsample(Tables.documents(s, dir), upsampleRates)),
    // α=0.5 temperature mixing: sampling mass ∝ √n_s under a half-corpus
    // document budget (sqrt is IEEE-exact — the one oracle-safe power)
    "source_temperature_mix" -> ((s, dir) =>
      TextOps.sourceTemperatureMix(Tables.documents(s, dir))),
    // DSIR importance scores/selection: target = held-out min(source)
    // reference set, raw = the rest (the lm_score_heldout split idiom)
    // The score_avg guard is the count-prune no-op (scores are Laplace-
    // smoothed products of positive ratios, never negative): without it
    // Catalyst eliminates the cardinality-preserving tdist LEFT join
    // inside the ratio table under Bench's count() and the bench would
    // time only the raw-distribution half (lm_score_heldout idiom;
    // `Profile count-prune` shows it).
    "dsir_weights" -> ((s, dir) => {
      val d = D(s, dir)
      val held = d.agg(min(col("source"))).head().getString(0)
      SemanticOps.dsirScores(
        d.filter(col("source") =!= held), d.filter(col("source") === held))
        .where(col("score_avg") >= 0.0)
    }),
    "dsir_select" -> ((s, dir) => {
      val d = D(s, dir)
      val held = d.agg(min(col("source"))).head().getString(0)
      SemanticOps.dsirSelect(
        d.filter(col("source") =!= held), d.filter(col("source") === held))
    }),
    // the frozen DSIR model artifact itself, oracle-verified; the ratio
    // guard is the count-prune no-op (Laplace ratios are > 0)
    "dsir_ratios" -> ((s, dir) => {
      val d = D(s, dir)
      val held = d.agg(min(col("source"))).head().getString(0)
      SemanticOps.dsirRatioTable(
        d.filter(col("source") =!= held), d.filter(col("source") === held))
        .where(col("ratio") > 0.0)
    }),
    "pack_sequences" -> ((s, dir) => TextOps.packSequences(Tables.documents(s, dir))),
    // sharded packing: (source, shard) windows — parallelism tunable to
    // the cluster instead of capped at the source count; ONE pass, pack
    // ids carry the shard in their high bits (unique per source, NOT
    // dense — see packSequencesSharded). The pack_id guard is the
    // count-prune no-op (ids are never negative) that stops count()
    // column-pruning the window arithmetic being benchmarked.
    "pack_shards" -> ((s, dir) =>
      TextOps.packSequencesSharded(Tables.documents(s, dir))
        .where(col("pack_id") >= 0L)),
    // dense renumber of the shard-encoded pack ids as a METADATA query
    // dense_rank over distinct (source, pack_id)
    // only — O(packs), proving pack_shards' "dense ids are one metadata
    // dense_rank away" claim under the driver's gate.
    "pack_shards_dense" -> ((s, dir) =>
      TextOps.packShardsDense(Tables.documents(s, dir))
        .where(col("dense_id") >= 0L)),
    // pack manifest: per-pack ordered (doc_id, offset, len) span lists
    "pack_spans" -> ((s, dir) =>
      TextOps.packSpans(Tables.documents(s, dir)).drop("spans_arr")),
    // boundary-splitting packing: exact-capacity packs, straddlers split
    "pack_split" -> ((s, dir) => TextOps.packSplit(Tables.documents(s, dir))),
    // deterministic sharded training-order shuffle (shard, pos) — a
    // global row_number would single-task the sort; shards are the
    // loader artifact anyway
    "corpus_shuffle" -> ((s, dir) => TextOps.corpusShuffle(Tables.documents(s, dir))),
    // per-source token-budget selection in content-addressed shuffle order
    "token_budget_mix" -> ((s, dir) => TextOps.tokenBudgetMix(Tables.documents(s, dir))),
    // quality-first budget fill: same budget, best documents first
    "quality_budget_mix" -> ((s, dir) => TextOps.qualityBudgetMix(Tables.documents(s, dir))),
    // exact-k per-source sample in content-addressed order (eval sets)
    "stratified_sample" -> ((s, dir) => TextOps.stratifiedSample(Tables.documents(s, dir))),
    "value_histogram" -> ((s, dir) => TextOps.valueHistogram(E(s, dir))),
    "hash_split" -> ((s, dir) => TextOps.hashSplit(D(s, dir))),
    "dedup_clusters" -> ((s, dir) => DedupOps.nearDupClusters(DedupOps.augmented(D(s, dir)))),
    "dedup_cluster_sizes" -> ((s, dir) =>
      DedupOps.clusterSizeHistogram(DedupOps.augmented(D(s, dir)))),
    // canonical representative per cluster: longest doc survives, rest drop
    "dedup_canonical" -> ((s, dir) => DedupOps.dedupCanonical(DedupOps.augmented(D(s, dir)))),
    // Incremental dedup: index = base docs' persisted signatures, delta =
    // the injected near/exact copies arriving "later" (doc_id >= 100000).
    "dedup_incremental" -> ((s, dir) => {
      val aug = DedupOps.augmented(D(s, dir))
      DedupOps.dedupIncremental(
        DedupOps.signatureIndex(aug.filter(col("doc_id") < 100000)),
        aug.filter(col("doc_id") >= 100000))
    }),
    "source_signatures" -> ((s, dir) => DedupOps.groupSignatures(D(s, dir), "source")),
    "source_overlap" -> ((s, dir) => DedupOps.sourceOverlap(D(s, dir), "source")),
    // HLL++ sketch — no oracle entry by design: estimates are engine-
    // specific, so the driver records the weaker rows-only check.
    "approx_users" -> ((s, dir) => EventOps.approxUsersByType(E(s, dir))),
    // ---- joins Spark lacks natively, composed from built-ins ----
    "funnel_conversion" -> ((s, dir) => EventOps.funnelConversion(E(s, dir))),
    // The t3 guard is the count-prune no-op (NULL-accepting, so it can
    // neither be folded nor pushed): without it Catalyst drops all six
    // user-keyed joins under Bench's count() — s1's cardinality alone
    // determines the row count — and the bench would time only the first
    // aggregation (`Profile count-prune` shows it).
    "funnel_steps" -> ((s, dir) => EventOps.funnelSteps(E(s, dir))
      .where(col("t3").isNull ||
        col("t1") + col("t2") + col("t3") >= 0L)),
    "retention_cohorts" -> ((s, dir) => EventOps.retentionCohorts(E(s, dir))),
    // CDC MERGE: events changelog (latest-per-key upsert/tombstone)
    // applied onto the customer snapshot — the lakehouse ingest shape.
    "cdc_upsert" -> ((s, dir) =>
      EventOps.cdcUpsert(E(s, dir), Tables.customer(s, dir))),
    // SCD TYPE-2: the changelog as versioned dimension history —
    // validity intervals with the max-sentinel open end, tombstones
    // close without reopening
    "scd2_history" -> ((s, dir) => EventOps.scd2History(E(s, dir))),
    // the same MERGE applied INCREMENTALLY: the changelog split into three
    // slices folded in scrambled order — tombstone retention makes the
    // fold order-insensitive, so the ONE-SHOT oracle must match exactly
    "cdc_upsert_incremental" -> ((s, dir) => {
      val e = E(s, dir)
      val slices = Seq(2L, 0L, 1L).map(i => e.filter(col("event_id") % 3 === i))
      EventOps.cdcCurrentView(
        slices.foldLeft(EventOps.cdcInitSnapshot(Tables.customer(s, dir)))(
          EventOps.cdcApplyChanges))
    }),
    "asof_join" -> ((s, dir) => {
      val e = E(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val left = e.select("event_id", "user_id", "ts_us", "event_type")
      val right = e.filter(col("event_type") === "signup")
        .select("user_id", "ts_us", "event_id", "value")
      JoinOps.asofJoin(left, right, "user_id", "ts_us", "event_id", Seq("value"))
    }),
    // interval×interval overlap via cell-bucketed candidates (the naive
    // inequality join is a corpus² BNLJ; the oracle keeps that naive form)
    "interval_join" -> ((s, dir) =>
      JoinOps.sessionOverlapPairs(EventOps.sessionize(E(s, dir)))),
    "range_join" -> ((s, dir) => {
      val tiers = s.range(20).select(col("id").as("tier"),
        (col("id") * 25000).cast("double").as("lo"),
        ((col("id") + 1) * 25000).cast("double").as("hi"))
      JoinOps.rangeJoin(O(s, dir).select("o_orderkey", "o_totalprice"),
          "o_totalprice", tiers, "lo", "hi", 25000L)
        .select("o_orderkey", "o_totalprice", "tier")
    })
  )

  /** Shared rates map for the up-sampling mix query: src1 tripled-ish
    * (2.5 → 2 copies + a content-addressed half get a 3rd), src2 doubled,
    * src3 quartered, everything else kept at 1.0. Query and oracle both
    * derive from this single value.
    */
  private val upsampleRates = Map("src1" -> 2.5, "src2" -> 2.0, "src3" -> 0.25)

  /** For each key in queries but the sketches, the DuckDB statement that
    * must return the same rows over the same parquet tables (bare table
    * names; the driver provides views). The statements are built in
    * [[graft.oracle]]; this table only names them.
    */
  def oracleSql: Map[String, String] = Map(
    "wordcount_regex" -> TextOracles.wordcountRegexOracle,
    "wordcount_space" -> TextOracles.wordcountSpaceOracle,
    "tokenize_space" -> TextOracles.tokenizeSpaceOracle,
    "payments_decode" -> PaymentOracles.decodeOracle,
    "payments_convert" -> PaymentOracles.convertOracle,
    "payments_suspicious" -> PaymentOracles.suspiciousOracle,
    // mapside variant computes the same values as the join form
    "payments_convert_mapside" -> PaymentOracles.convertOracle,
    "payments_convert_decimal" -> PaymentOracles.convertDecimalOracle,
    "payments_encode" -> PaymentOracles.encodeOracle,
    "payments_pipeline" -> PaymentOracles.pipelineOracle,
    "cast_project" -> EventOracles.castProjectOracle,
    "text_stats" -> TextOracles.textStatsSql(),
    "lang_id" -> TextOracles.langIdOracle,
    "token_counts" -> TextOracles.tokenCountsOracle,
    "heavy_hitters" -> TextOracles.heavyHittersOracle(guaranteedOnly = true),
    "heavy_ngrams" -> TextOracles.heavyNgramsOracle(guaranteedOnly = true),
    "heavy_hitters_by_source" ->
      TextOracles.heavyHittersBySourceOracle(guaranteedOnly = true),
    "bpe_pairs" -> TextOracles.bpePairCountsOracle(),
    "bpe_segment" -> TextOracles.bpeSegmentOracle(),
    "bpe_train_segment" -> TextOracles.bpeTrainSegmentOracle(),
    "fingerprints" -> TextOracles.fingerprintsOracle,
    "dedup_events_exact" -> EventOracles.dedupEventsExactOracle,
    "events_json" -> EventOracles.eventsJsonOracle,
    "events_json_agg" -> EventOracles.eventsJsonAggOracle,
    "dedup_docs_exact" -> DedupOracles.exactDedupSql,
    "minhash_signatures" -> DedupOracles.minhashSignaturesOracle,
    "dedup_minhash" -> DedupOracles.minhashPairsOracle,
    "minhash_bucket_stats" -> DedupOracles.minhashBucketStatsOracle(),
    "split_leakage" -> DedupOracles.splitLeakageOracle,
    "leakage_safe_split" -> DedupOracles.leakageSafeSplitOracle,
    "cross_source_dups" -> DedupOracles.crossSourceDupMatrixOracle,
    "dedup_ngram_jaccard" -> DedupOracles.ngramJaccardOracle,
    "dedup_recall" -> DedupOracles.dedupRecallOracle(),
    "dedup_recall_sampled" -> DedupOracles.dedupRecallSampledOracle(),
    "simhash" -> DedupOracles.simhashOracle,
    "dedup_simhash" -> DedupOracles.simhashPairsOracle,
    "dedup_prefix_editdist" -> DedupOracles.editDistPairsOracle(),
    "cosine_topk" -> SimilarityOracles.cosineTopKOracle,
    "ann_ivf" -> SimilarityOracles.ivfTopKOracle,
    "dedup_embedding" -> SimilarityOracles.embeddingNearDupOracle,
    "dedup_embedding_lsh" -> SimilarityOracles.embeddingNearDupLshOracle(),
    "embedding_bucket_stats" -> SimilarityOracles.embeddingBucketStatsOracle(),
    "split_leakage_semantic" -> SimilarityOracles.splitLeakageSemanticOracle(),
    "embedding_quantize" -> SimilarityOracles.quantizeEmbeddingsOracle,
    "embedding_project" -> SimilarityOracles.projectEmbeddingsOracle(),
    "ann_project_rerank" -> SimilarityOracles.annProjectRerankOracle(),
    "embedding_pipeline" -> SimilarityOracles.embeddingPipelineOracle(),
    "ann_index_incremental" -> SimilarityOracles.annIndexIncrementalOracle(),
    "embedding_pq" -> SimilarityOracles.pqEncodeOracle(),
    "ann_pq_adc" -> SimilarityOracles.annPqAdcOracle(),
    "ann_ivf_pq" -> SimilarityOracles.annIvfPqOracle(),
    "ann_ivf_pq_residual" -> SimilarityOracles.annIvfPqResidualOracle(),
    "semantic_clusters" -> SemanticOracles.semanticClustersOracle(),
    "semantic_dedup" -> SemanticOracles.semanticDedupOracle(k = 32, minCos = 0.45),
    "cluster_cap_sample" -> SemanticOracles.clusterCapSampleOracle(k = 32),
    "line_dedup" -> DedupOracles.lineDedupOracle(),
    "centroid_classify" -> SemanticOracles.centroidClassifyOracle(),
    "centroid_confusion" -> SemanticOracles.centroidConfusionOracle(),
    "semantic_decontaminate" -> SemanticOracles.semanticDecontaminateOracle(),
    "semantic_decontaminate_lsh" -> SemanticOracles.semanticDecontaminateLshOracle(),
    "decontaminate_recall" -> SemanticOracles.decontaminateRecallOracle(),
    "hashed_tf" -> SemanticOracles.hashedTfOracle(),
    "zorder_layout" -> LayoutOracles.zorderLayoutOracle(),
    "compaction_plan" -> LayoutOracles.compactionPlanOracle(),
    "optimize_roundtrip" -> LayoutOracles.optimizeRoundtripOracle(),
    "compaction_roundtrip" -> LayoutOracles.compactionRoundtripOracle(),
    "hilbert_layout" -> LayoutOracles.hilbertLayoutOracle(),
    "zorder3_layout" -> LayoutOracles.zorder3LayoutOracle(),
    "hilbert3_layout" -> LayoutOracles.hilbert3LayoutOracle(),
    "q1_pricing_summary" -> RelationalOracles.pricingSummaryOracle,
    "orders_by_nation" -> RelationalOracles.ordersByNationOracle,
    "top_orders_per_priority" -> RelationalOracles.topOrdersPerPriorityOracle,
    "q5_local_supplier" -> RelationalOracles.localSupplierRevenueOracle,
    "q18_big_orders" -> RelationalOracles.bigOrdersOracle,
    "q6_revenue_change" -> RelationalOracles.revenueChangeOracle,
    "q3_shipping_priority" -> RelationalOracles.shippingPriorityOracle,
    "q4_priority_returns" -> RelationalOracles.prioritiesWithReturnsOracle,
    "q21_waiting_supplier" -> RelationalOracles.waitingSuppliersOracle,
    "q2_min_cost_supplier" -> RelationalOracles.minCostSupplierOracle,
    "q11_important_balance" -> RelationalOracles.importantNationBalanceOracle,
    "q12_priority_lines" -> RelationalOracles.priorityLineClassesOracle,
    "q20_promo_suppliers" -> RelationalOracles.promoSuppliersOracle,
    "q9_product_profit" -> RelationalOracles.productProfitOracle,
    "window_tumbling" -> EventOracles.tumblingCountsOracle,
    "window_sliding" -> EventOracles.slidingCountsOracle,
    "anti_join" -> RelationalOracles.customersWithoutOrdersOracle,
    "rollup_pricing" -> RelationalOracles.pricingRollupOracle,
    "cube_pricing" -> RelationalOracles.pricingCubeOracle,
    "grouping_sets_pricing" -> RelationalOracles.pricingGroupingSetsOracle,
    "pivot_returnflag" -> RelationalOracles.returnFlagPivotOracle,
    "running_totals" -> RelationalOracles.runningTotalsOracle,
    "rolling_revenue" -> RelationalOracles.rollingRevenueOracle,
    "window_analytics" -> RelationalOracles.windowAnalyticsOracle,
    "q16_supplier_count" -> RelationalOracles.supplierCountByBrandOracle,
    "q7_volume_shipping" -> RelationalOracles.volumeShippingOracle,
    "q8_market_share" -> RelationalOracles.marketShareOracle(),
    "q22_sales_opportunity" -> RelationalOracles.salesOpportunityOracle,
    "q13_order_distribution" -> RelationalOracles.orderCountDistributionOracle,
    "q14_promo_revenue" -> RelationalOracles.promoRevenueOracle,
    "q15_top_supplier" -> RelationalOracles.topSupplierOracle,
    "q19_discount_revenue" -> RelationalOracles.discountedRevenueOracle,
    "q17_small_qty_revenue" -> RelationalOracles.smallQuantityRevenueOracle,
    "vocab_encode" -> TextOracles.vocabEncodeOracle(),
    "vocab_encode_32k" -> TextOracles.vocabEncodeOracle(32768),
    "unigram_scores" -> TextOracles.unigramScoresOracle(),
    "chunk_docs" -> TextOracles.chunkDocumentsOracle(),
    "corpus_prep" -> TextOracles.corpusPrepOracle(),
    "curation_report" -> TextOracles.curationReportOracle,
    "bigram_lm" -> TextOracles.bigramLmOracle,
    "lm_likelihood" -> TextOracles.lmLikelihoodOracle,
    "lm_score_heldout" -> TextOracles.lmLikelihoodAgainstOracle,
    "except_users" -> EventOracles.churnedUsersOracle,
    "intersect_users" -> EventOracles.retainedUsersOracle,
    "q10_top_return_customers" -> RelationalOracles.topReturnCustomersOracle,
    "ann_lsh_multiprobe" -> SimilarityOracles.lshTopKMultiProbeOracle(),
    "ann_lsh_multitable" -> SimilarityOracles.lshTopKMultiTableOracle(),
    "ann_ivf_nprobe" -> SimilarityOracles.ivfTopKProbedOracle(),
    "multimodal_features" -> MultimodalOracles.featuresOracle,
    "multimodal_frames" -> MultimodalOracles.sampleFramesOracle,
    "multimodal_resize" -> MultimodalOracles.resizeOracle,
    "multimodal_manifest" -> MultimodalOracles.ingestManifestOracle(),
    "multimodal_decode" -> MultimodalOracles.decodeImagesOracle(),
    "multimodal_decode_png" -> MultimodalOracles.decodeImagesOracle(),
    "multimodal_decode_jpeg" -> MultimodalOracles.decodeJpegBandedOracle(),
    "multimodal_decode_jpeg_quarantine" ->
      MultimodalOracles.decodeJpegQuarantineOracle(),
    "multimodal_decode_wav" -> MultimodalOracles.decodeAudioOracle(),
    "multimodal_resample_wav" -> MultimodalOracles.resampleAudioOracle(),
    "multimodal_decode_ulaw" -> MultimodalOracles.decodeUlawOracle(),
    "multimodal_decode_alaw" -> MultimodalOracles.decodeAlawOracle(),
    "multimodal_decode_quarantine" -> MultimodalOracles.decodeLenientOracle(),
    "multimodal_prep" -> MultimodalOracles.multimodalPrepOracle(),
    "multimodal_frames_real" -> MultimodalOracles.sampleFramesRealOracle(),
    "multimodal_frames_stride3" -> MultimodalOracles.sampleFramesRealOracle(stride = 3),
    "multimodal_frames_tiff" -> MultimodalOracles.sampleFramesRealOracle(),
    "multimodal_frames_tiff_stride3" -> MultimodalOracles.sampleFramesRealOracle(stride = 3),
    "multimodal_resize_real" -> MultimodalOracles.resizeDecodedOracle(),
    "ann_lsh" -> SimilarityOracles.lshTopKOracle(),
    "ann_recall" -> SimilarityOracles.annRecallOracle(),
    "ann_recall_multiprobe" -> SimilarityOracles.annRecallMultiProbeOracle(),
    "ann_recall_ivfpq" -> SimilarityOracles.annRecallIvfPqOracle(),
    "ann_recall_funnel" -> SimilarityOracles.annRecallFunnelOracle(),
    "ann_recall_multitable" -> SimilarityOracles.annRecallMultiTableOracle(),
    "ann_recall_incremental" -> SimilarityOracles.annRecallIncrementalOracle(),
    "ann_recall_incremental_mp" -> SimilarityOracles.annRecallIncrementalMultiProbeOracle(),
    "ann_recall_incremental_clustered" -> SimilarityOracles.annRecallIncrementalClusteredOracle(),
    "ann_index_incremental_mp" -> SimilarityOracles.annIndexIncrementalMultiProbeOracle(),
    "winnow_fingerprints" -> DedupOracles.winnowFingerprintsOracle,
    "tfidf_top" -> TextOracles.tfIdfTopOracle,
    "bm25_topk" -> TextOracles.bm25TopKOracle(),
    "hybrid_rrf" -> RetrievalOracles.hybridRrfOracle(),
    // incremental == rebuild: the oracle is literally the full-corpus
    // bm25_topk SQL at the same (nQueries=8, k=5)
    "bm25_incremental" -> TextOracles.bm25TopKOracle(),
    "hybrid_rrf_lsh" -> RetrievalOracles.hybridRrfLshOracle(),
    "triplet_mining" -> SemanticOracles.tripletMiningOracle(),
    "bm25_prf" -> RetrievalOracles.bm25PrfOracle(),
    "retrieval_recall" -> RetrievalOracles.retrievalRecallOracle(),
    "retrieval_recall_lsh" -> RetrievalOracles.retrievalRecallOracle(lsh = true),
    "retrieval_recall_sampled" -> RetrievalOracles.retrievalRecallSampledOracle(),
    // SAME SQL as bm25_prf — the registered bit-parity contract of the
    // index-backed PRF formulation
    "bm25_prf_index" -> RetrievalOracles.bm25PrfOracle(),
    "hybrid_rrf_index" -> RetrievalOracles.hybridRrfIndexOracle(),
    "retrieval_recall_annindex" -> RetrievalOracles.retrievalRecallAnnIndexOracle(),
    "triplet_coverage" -> SemanticOracles.tripletCoverageOracle(),
    "sessionize" -> EventOracles.sessionizeOracle,
    "quality_filter" -> TextOracles.qualityFilterOracle,
    "quality_percentile" -> TextOracles.qualityPercentileFilterOracle(),
    "quality_calibrated" -> TextOracles.qualityCalibratedOracle(),
    "salted_join" -> EventOracles.saltedJoinOracle,
    "dedup_pipeline" -> DedupOracles.dedupPipelineOracle,
    "paragraph_dedup" -> DedupOracles.paragraphDedupOracle(),
    "boilerplate_strip" -> DedupOracles.boilerplateStripOracle(),
    "gopher_gate" -> TextOracles.gopherGateOracle(),
    "decontaminate" -> DedupOracles.decontaminateOracle(),
    "decontaminate_spans" -> DedupOracles.decontaminateSpansOracle(),
    "decontaminate_surgical" -> DedupOracles.decontaminateSurgicalOracle(),
    // bloom prefilter + exact confirm ≡ exact decontamination (no false
    // negatives in a Bloom filter), so the oracle is shared verbatim
    "bloom_decontaminate" -> DedupOracles.decontaminateOracle(),
    "contamination_score" -> DedupOracles.contaminationScoreOracle(),
    "substring_dup" -> DedupOracles.substringDupOracle(),
    "substring_dedup" -> DedupOracles.substringDedupOracle(),
    "stats_corr" -> StatsOracles.statsCorrOracle,
    "median_quantiles" -> StatsOracles.quantilesOracle,
    "outlier_screen" -> StatsOracles.outliersOracle(),
    "quantile_bins" -> StatsOracles.quantileBinsOracle(),
    "zscore_normalize" -> StatsOracles.zscoreNormalizeOracle,
    "data_profile" -> StatsOracles.dataProfileOracle(),
    "constraint_check" -> StatsOracles.constraintCheckOracle(),
    "constraint_route" -> StatsOracles.constraintRouteOracle(),
    "skew_report" -> StatsOracles.skewReportOracle(),
    "drift_check" -> StatsOracles.driftCheckOracle(),
    "drift_check_quantile" -> StatsOracles.driftCheckQuantileOracle(),
    "output_diff" -> StatsOracles.outputDiffBoilerplateOracle,
    "simhash_shingles" -> DedupOracles.simhashShinglesOracle,
    "doc_repetition" -> TextOracles.docRepetitionOracle,
    "pii_scrub" -> TextOracles.piiScrubOracle,
    "k_anonymity" -> TextOracles.kAnonymityGateOracle(),
    "source_mix" -> TextOracles.sourceMixOracle,
    "source_mix_upsample" -> TextOracles.sourceMixUpsampleOracle(upsampleRates),
    "source_temperature_mix" -> TextOracles.sourceTemperatureMixOracle(),
    "dsir_weights" -> SemanticOracles.dsirScoresOracle(),
    "dsir_select" -> SemanticOracles.dsirSelectOracle(),
    "dsir_ratios" -> SemanticOracles.dsirRatiosOracle(),
    "pack_sequences" -> TextOracles.packSequencesOracle(),
    "pack_shards" -> TextOracles.packSequencesShardedOracle(),
    "pack_shards_dense" -> TextOracles.packShardsDenseOracle(),
    "pack_spans" -> TextOracles.packSpansOracle(),
    "pack_split" -> TextOracles.packSplitOracle(),
    "corpus_shuffle" -> TextOracles.corpusShuffleOracle(),
    "token_budget_mix" -> TextOracles.tokenBudgetMixOracle(),
    "quality_budget_mix" -> TextOracles.qualityBudgetMixOracle(),
    "stratified_sample" -> TextOracles.stratifiedSampleOracle(),
    "value_histogram" -> TextOracles.valueHistogramOracle(),
    "hash_split" -> TextOracles.hashSplitOracle,
    "dedup_clusters" -> DedupOracles.nearDupClustersOracle,
    "dedup_cluster_sizes" -> DedupOracles.clusterSizeHistogramOracle,
    "dedup_canonical" -> DedupOracles.dedupCanonicalOracle,
    "dedup_incremental" -> DedupOracles.dedupIncrementalOracle(),
    // Oracle uses DuckDB's NATIVE ASOF JOIN — an independent
    // implementation validating our union+window composition.
    "funnel_conversion" -> EventOracles.funnelConversionOracle(),
    "funnel_steps" -> EventOracles.funnelStepsOracle(),
    "retention_cohorts" -> EventOracles.retentionCohortsOracle,
    "cdc_upsert" -> EventOracles.cdcUpsertOracle,
    "scd2_history" -> EventOracles.scd2HistoryOracle,
    "cdc_upsert_incremental" -> EventOracles.cdcUpsertOracle,
    "asof_join" -> EventOracles.asofJoinOracle,
    "interval_join" -> EventOracles.sessionOverlapPairsOracle,
    "range_join" -> RelationalOracles.rangeJoinOracle,
    "source_signatures" -> DedupOracles.sourceSignaturesOracle,
    "source_overlap" -> DedupOracles.sourceOverlapOracle,
  )
}
