package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical profiling aggregates — the data-profiling pass a pipeline
  * runs before/after transformations (drift checks, schema profiling,
  * feature sanity). Spark has corr/covar/percentile_approx built in, but
  * their float accumulation is partial-aggregation-order-dependent: the
  * same query returns different last-ulp bits run to run, which is
  * useless for regression-testing a pipeline against a reference engine.
  * These operators compute the SAME statistics deterministically:
  *
  *  - Moments accumulate as exact integer cents (BIGINT): addition is
  *    associative/commutative, so partial aggregation order cannot change
  *    the sums; int64→double conversion is a single correctly-rounded
  *    IEEE op in every engine; the closed-form statistics then apply a
  *    fixed sequence of IEEE ops. Bitwise-reproducible across runs,
  *    partitionings, AND engines (hash-matches DuckDB).
  *  - Quantiles use the exact rank-interpolation definition (type-7,
  *    rank = p·(n−1)) — on integer-valued data with dyadic p every
  *    interpolation is exact, so engines agree bitwise.
  *
  * Scale: one partial-aggregated shuffle of 6 longs per group for the
  * moments (map-side combine does nearly all the work — shuffle traffic
  * is O(groups), independent of row count). int64 cent-sums bound the
  * domain: Σy² of 1e7-cent values overflows past ~9e18, i.e. ~1e5 rows
  * per group at max price — beyond that a production run swaps the sum
  * type to DECIMAL(38,0) (still exact, still order-independent) and
  * accepts engine-specific last-ulp conversion. Exact percentile
  * shuffles (value, count) pairs per group — bounded by distinct values
  * (50 here), NOT rows; for unbounded domains use approx sketches.
  */
object StatsOps {

  /** Pearson correlation, population covariance, and OLS slope/intercept
    * of (l_quantity, l_extendedprice) per return flag, from exact
    * integer-cent moment sums. Both inputs are 2-decimal values stored
    * as doubles: ×100 then round() lands exactly on the integer (the
    * FP error of the stored double is ≪ 0.5 cents), so the cast to long
    * is exact on both engines.
    */
  def statsCorr(lineitem: DataFrame): DataFrame = {
    val xc = round(col("l_quantity") * 100).cast("long")
    val yc = round(col("l_extendedprice") * 100).cast("long")
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    lineitem
      .select(col("l_returnflag"), xc.as("xc"), yc.as("yc"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("xc")).as("sx"), sum(col("yc")).as("sy"),
        sum(col("xc") * col("xc")).as("sxx"),
        sum(col("yc") * col("yc")).as("syy"),
        sum(col("xc") * col("yc")).as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        ((nd * d("sxy") - d("sx") * d("sy")) /
          (sqrt(nd * d("sxx") - d("sx") * d("sx")) *
            sqrt(nd * d("syy") - d("sy") * d("sy")))).as("corr_qty_price"),
        // covariance is in cents²: one exact power-of-ten division back
        (((d("sxy") - d("sx") * d("sy") / nd) / nd) / lit(10000.0)).as("covar_pop"),
        // slope is cents/cents — the scale cancels
        ((nd * d("sxy") - d("sx") * d("sy")) /
          (nd * d("sxx") - d("sx") * d("sx"))).as("slope"),
        (((d("sy") - ((nd * d("sxy") - d("sx") * d("sy")) /
          (nd * d("sxx") - d("sx") * d("sx"))) * d("sx")) / nd) / lit(100.0))
          .as("intercept"))
  }

  /** Exact quartiles of l_quantity per return flag. Spark's `percentile`
    * aggregate is the exact type-7 quantile (rank = p·(n−1), linear
    * interpolation) — the same definition as DuckDB's quantile_cont. On
    * integer-valued data with p ∈ {¼, ½, ¾} the interpolation arithmetic
    * is exact in FP, so the engines agree bitwise.
    */
  def quantiles(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      expr("percentile(l_quantity, 0.25)").as("q25"),
      expr("percentile(l_quantity, 0.5)").as("median"),
      expr("percentile(l_quantity, 0.75)").as("q75"))

  /** 1.5σ outlier screen per return flag (the synthetic prices are
    * near-uniform — max z ≈ 1.8 — so a 3σ default would select nothing):
    * mean/σ from the same exact
    * integer-cent moments as [[statsCorr]] (population σ), broadcast
    * back as 1-row-per-group scalars; each row compares against bounds
    * computed once per group — both engines evaluate the identical IEEE
    * sequence, so the flagged sets agree bitwise. Two passes over the
    * fact table (agg, then filter) — at 100 TB the second pass prunes
    * at the scan because the broadcast side is group-level metadata.
    */
  def outliers(lineitem: DataFrame, nSigma: Double = 1.5): DataFrame = {
    val yc = round(col("l_extendedprice") * 100).cast("long")
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val moments = lineitem
      .select(col("l_returnflag"), yc.as("yc"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("yc")).as("sy"),
        sum(col("yc") * col("yc")).as("syy"))
      .select(col("l_returnflag"),
        (d("sy") / nd).as("mean_c"),
        sqrt((d("syy") - d("sy") * d("sy") / nd) / nd).as("sd_c"))
    lineitem.select(col("l_returnflag"), yc.as("yc"))
      .join(broadcast(moments), "l_returnflag")
      .filter(abs(col("yc").cast("double") - col("mean_c")) >
        lit(nSigma) * col("sd_c"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_outliers"),
        (min(col("yc")).cast("double") / lit(100.0)).as("min_price"),
        (max(col("yc")).cast("double") / lit(100.0)).as("max_price"))
  }

  // --------------------------------------------------------------------
  // Table profiling (Deequ-style): the pre-training-run validation pass.
  // --------------------------------------------------------------------

  /** ONE-pass per-column table profile — the validation report a pipeline
    * computes over every landed partition before admitting it to a
    * training run: row count, per-column completeness (non-null ratio),
    * exact distinct counts, and — for numeric columns — min/max/mean.
    *
    * All ~5 metrics × N columns are computed in a SINGLE aggregate over
    * ONE scan; the wide 1-row result is then unpivoted to per-column rows
    * map-side (explode of a literal struct array over one row — free).
    * Means come from exact integer-cent sums (the [[statsCorr]] trick):
    * addition of int64 is order-independent, so the value is
    * bitwise-reproducible across partitionings AND engines; min/max of
    * doubles are exact (no accumulation). Completeness is one IEEE
    * division of two exact int64s — identical everywhere.
    *
    * Scale shape: the multiple exact `countDistinct`s plan through one
    * Expand (input ×(N+1) in the partial aggregate) — the standard Spark
    * multi-distinct strategy; shuffle traffic is per-(gid, value) partials,
    * NOT raw rows. At 100 TB exact per-column distincts are genuinely
    * expensive — a production profile swaps `countDistinct` for
    * `approx_count_distinct` (HLL++, one pass, no Expand) and accepts a
    * ±2% estimate; the exact form is kept here because the driver's
    * oracle hash-compares values. int64 cent-sums bound the mean domain
    * exactly as documented on [[statsCorr]].
    *
    * `numCols` CONTRACT (ADVICE r7): means accumulate as integer CENTS
    * (`round(col*100)` — the [[statsCorr]] exactness trick), so numeric
    * columns must be integer- or cent-domain valued (2 decimal places);
    * a double with sub-cent precision gets a silently quantized mean.
    * The default columns (doc_id, n_chars) are integers — exact.
    */
  def dataProfile(df: DataFrame,
                  numCols: Seq[String] = Seq("doc_id", "n_chars"),
                  strCols: Seq[String] = Seq("text", "lang", "source")): DataFrame =
    profileWith(df, numCols, strCols, c => countDistinct(col(c)))

  /** The documented 100 TB swap made real: identical profile shape with
    * `approx_count_distinct` (HLL++, rsd 2%) in place of the exact
    * distincts — ONE pass, NO Expand (input is not multiplied), partials
    * merge associatively, so it streams and shards. Not oracle-checkable
    * (HLL estimates are engine-specific); spec pins it within tolerance
    * of [[dataProfile]] and exactly equal on every non-distinct column. */
  def dataProfileApprox(df: DataFrame,
                        numCols: Seq[String] = Seq("doc_id", "n_chars"),
                        strCols: Seq[String] = Seq("text", "lang", "source")): DataFrame =
    // HLL partials are sketch-sized per (partition, column) — see
    // [[Sketch.coalesceToCores]] for the measured cores-width rule. The
    // EXACT twin above is deliberately untouched: its exchange carries
    // distinct values (row-bound), where partition count is not the
    // lever.
    profileWith(Sketch.coalesceToCores(df),
      numCols, strCols, c => approx_count_distinct(col(c), 0.02))

  /** Shared profile builder — the exact and approx variants differ ONLY
    * in the distinct aggregate, so they can never drift on the other
    * seven metrics. */
  private def profileWith(df: DataFrame, numCols: Seq[String],
                          strCols: Seq[String],
                          distinctAgg: String => Column): DataFrame = {
    val allCols = numCols ++ strCols
    def cents(c: String) = round(col(c) * 100).cast("long")
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        allCols.flatMap { c =>
          Seq(count(col(c)).as(s"nn_$c"), distinctAgg(c).as(s"nd_$c"))
        } ++
        numCols.flatMap { c =>
          Seq(min(col(c)).cast("double").as(s"mn_$c"),
            max(col(c)).cast("double").as(s"mx_$c"),
            sum(cents(c)).as(s"sc_$c"))
        }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = allCols.map { c =>
      val isNum = numCols.contains(c)
      val nullD = lit(null).cast("double")
      struct(
        lit(c).as("col_name"),
        col("n_rows").cast("long").as("n_rows"),
        col(s"nn_$c").cast("long").as("n_nonnull"),
        (col("n_rows") - col(s"nn_$c")).cast("long").as("n_nulls"),
        // nullif guards keep the 0-row / all-NULL degenerate cases
        // DEFINED (NULL) instead of an ANSI divide-by-zero error
        (col(s"nn_$c").cast("double") / nullif(col("n_rows").cast("double"), lit(0.0)))
          .as("completeness"),
        col(s"nd_$c").cast("long").as("n_distinct"),
        (if (isNum) col(s"mn_$c") else nullD).as("min_num"),
        (if (isNum) col(s"mx_$c") else nullD).as("max_num"),
        (if (isNum)
          (col(s"sc_$c").cast("double") / lit(100.0)) /
            nullif(col(s"nn_$c").cast("double"), lit(0.0))
        else nullD).as("mean_num"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Declarative constraint suite over lineitem — the admit/reject gate
    * that runs right after [[dataProfile]]: each constraint is an ANSI
    * SQL predicate evaluated per row; a NULL predicate counts as a
    * VIOLATION (CASE WHEN cond THEN 0 ELSE 1 — the conservative
    * accounting a gate wants, since an un-evaluable row is not a pass).
    * All constraints are folded into ONE aggregate over ONE scan, then
    * unpivoted to per-constraint verdict rows.
    *
    * The predicate strings are fed verbatim to BOTH engines (Spark
    * `expr()` and the DuckDB oracle) — shared-text conditions make
    * cross-engine drift in the constraint semantics impossible by
    * construction. Scale: sums of 0/1 int64 partials, map-side combine —
    * shuffle traffic is one row per partition regardless of table size.
    */
  val defaultConstraints: Seq[(String, String)] = Seq(
    "quantity_in_range" -> "l_quantity >= 1 AND l_quantity <= 50",
    "price_positive" -> "l_extendedprice > 0",
    "discount_in_range" -> "l_discount >= 0 AND l_discount <= 0.10",
    "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
    "linestatus_domain" -> "l_linestatus IN ('O', 'F')",
    "shipdate_nonnull" -> "l_shipdate IS NOT NULL",
    "keys_positive" -> "l_orderkey > 0 AND l_partkey > 0 AND l_suppkey > 0")

  def constraintCheck(df: DataFrame,
                      constraints: Seq[(String, String)] = defaultConstraints): DataFrame = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++ constraints.zipWithIndex.map {
        case ((_, cond), i) =>
          coalesce(sum(when(expr(cond), 0L).otherwise(1L)), lit(0L)).as(s"v_$i")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = constraints.zipWithIndex.map { case ((name, _), i) =>
      struct(
        lit(name).as("c_name"),
        col("n_rows").cast("long").as("n_rows"),
        col(s"v_$i").cast("long").as("n_violations"),
        when(col(s"v_$i") === 0L, "pass").otherwise("fail").as("status"))
    }
    one.select(explode(array(rows: _*)).as("c")).select("c.*")
  }

  /** Distribution DRIFT check — landing gate, part 3: after profile and
    * constraints pass, compare the value distribution of the newly
    * landed half of the stream against the established half. Rows are
    * split at the midpoint of the observed time range (exact integer
    * microsecond arithmetic), histogrammed into fixed-width buckets, and
    * each bucket contributes a chi-square-style term
    * `(p_a − p_b)² / ((p_a + p_b) / 2)` — deliberately TRANSCENDENTAL-
    * FREE (no ln as in PSI/KL), so every term is a fixed IEEE sequence
    * over exact int64 counts and the rows hash-match DuckDB bitwise.
    * Σ contrib > ~0.1 is the "distribution moved" alarm threshold.
    *
    * Scale shape: side assignment and bucketing are map-side; ONE
    * (bucket)-keyed aggregation with full partial aggregation counts
    * both sides simultaneously (no per-side join); the time bounds and
    * side totals are 1-row metadata broadcast via the documented
    * single-row crossJoin pattern. Shuffle traffic is O(buckets), not
    * rows.
    */
  def driftCheck(events: DataFrame, width: Double = 50.0): DataFrame = {
    // Tables.events canonical ts is epoch NANOS as LONG; micros idiom
    val tsUs = expr("ts div 1000")
    val bounds = events.agg(
      min(tsUs).as("t0"), max(tsUs).as("t1"))
      .select(expr("t0 + (t1 - t0) div 2").as("mid"))
    val sided = events.select(tsUs.as("t_us"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
      .crossJoin(broadcast(bounds))
      .select(col("bucket"), when(col("t_us") <= col("mid"), 1L).otherwise(0L).as("is_a"))
    val counts = sided.groupBy("bucket").agg(
      sum(col("is_a")).as("n_a"),
      sum(lit(1L) - col("is_a")).as("n_b"))
    val totals = counts.agg(
      sum("n_a").cast("long").as("tot_a"), sum("n_b").cast("long").as("tot_b"))
    // nullif: an empty split side (all events at one instant, or an
    // all-side-a landed partition) yields NULL p/contrib — defined
    // output, not an ANSI divide-by-zero (reviewer-caught)
    val pA = col("n_a").cast("double") / nullif(col("tot_a").cast("double"), lit(0.0))
    val pB = col("n_b").cast("double") / nullif(col("tot_b").cast("double"), lit(0.0))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        pA.as("p_a"), pB.as("p_b"),
        chiSquareContrib(pA, pB).as("contrib"))
  }

  /** The ONE definition of the drift term, shared by [[driftCheck]] and
    * the streaming monitor (`StreamingClean.driftGateStream`) — the
    * batch and streaming gates cannot diverge on the metric. */
  def chiSquareContrib(pA: Column, pB: Column): Column =
    (pA - pB) * (pA - pB) / ((pA + pB) / lit(2.0))

  /** EQUI-DEPTH drift check (VERDICT r7 item 6): [[driftCheck]]'s
    * fixed-width buckets under-resolve heavy-tailed domains — one fat
    * bucket swallows the tail and the χ² term goes blind to movement
    * inside it. This variant derives the bucket grid from the POOLED
    * distribution's exact quantiles (the [[histExactBoundaries]]
    * machinery [[quantileBins]] shares — one derivation, the gates and
    * the discretizer cannot disagree on a grid), so every bucket holds
    * ~1/nBins of the pooled mass and the per-bucket comparison has equal
    * statistical power across the whole domain. Same time-midpoint
    * split, same transcendental-free [[chiSquareContrib]] term —
    * hash-matches DuckDB bitwise.
    *
    * Values quantize to integer cents first (`round(value*100)` — the
    * events feed is 2-decimal, so the cent is exact; the [[statsCorr]]
    * argument), making the type-7 boundary interpolation exact on both
    * engines. Scale shape: boundary derivation is bounded by distinct
    * cents; bucket assignment is map-side against the broadcast 1-row
    * boundary array; then ONE (bucket)-keyed aggregation counts both
    * sides — shuffle traffic O(nBins), not rows.
    */
  def driftCheckQuantile(events: DataFrame, nBins: Int = 8): DataFrame = {
    val tsUs = expr("ts div 1000")
    val cents = events.select(tsUs.as("t_us"),
      round(col("value") * 100).cast("long").as("vc"))
    val bounds = histExactBoundaries(cents.select("vc"), "vc", nBins)
    val mid = events.agg(min(tsUs).as("t0"), max(tsUs).as("t1"))
      .select(expr("t0 + (t1 - t0) div 2").as("mid"))
    val sided = cents
      .crossJoin(broadcast(bounds)).crossJoin(broadcast(mid))
      .select(quantileBucket.as("bucket"),
        when(col("t_us") <= col("mid"), 1L).otherwise(0L).as("is_a"))
    val counts = sided.groupBy("bucket").agg(
      sum(col("is_a")).as("n_a"),
      sum(lit(1L) - col("is_a")).as("n_b"))
    val totals = counts.agg(
      sum("n_a").cast("long").as("tot_a"), sum("n_b").cast("long").as("tot_b"))
    val pA = col("n_a").cast("double") / nullif(col("tot_a").cast("double"), lit(0.0))
    val pB = col("n_b").cast("double") / nullif(col("tot_b").cast("double"), lit(0.0))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        pA.as("p_a"), pB.as("p_b"),
        chiSquareContrib(pA, pB).as("contrib"))
  }

  /** The ONE quantile-grid bucket assignment, shared by
    * [[driftCheckQuantile]] and the streaming twin
    * (`StreamingClean.referenceHistogramQuantile` /
    * `driftGateQuantileStream`): count of boundaries strictly below the
    * cent value `vc` against the broadcast boundary array `bs`. A NULL
    * value keeps its OWN (NULL) bucket — without the explicit branch,
    * `IF(NULL > b, 1, 0)` counts 0 per boundary and NULLs silently
    * conflate into bucket 0 while being excluded from the boundary
    * derivation (review-caught): an all-NULL sensor fault must alarm as
    * a NULL-bucket anomaly, exactly as the fixed-width twin's
    * `floor(NULL / width)` does. */
  private[graft] def quantileBucket: Column =
    when(col("vc").isNull, lit(null).cast("long"))
      .otherwise(expr("aggregate(bs, 0L, (acc, b) -> acc + IF(vc > b, 1L, 0L))"))

  /** Release-audit DIFF between two pipeline outputs keyed on `key`:
    * how many rows a new run ADDED, REMOVED, CHANGED, or left UNCHANGED
    * versus the previous run — the regression report a data-pipeline
    * release gate reads before promoting a corpus version.
    *
    * Scale shape: values are compared by md5 DIGEST computed map-side
    * BEFORE the join — `unhex(md5(...))`, 16 raw bytes, not the
    * 32-char hex string — so the key-partitioned full-outer sort-merge
    * join shuffles (key, 16-byte binary) and never the document text. The
    * status classification and count are then one tiny aggregate.
    * Digest equality is exact for change DETECTION (no within-bucket
    * verify needed: a release audit counts differences, it does not
    * need to prove collisions impossible — an md5 collision would
    * undercount `changed` by one at probability ~2⁻¹²⁸).
    */
  def outputDiff(a: DataFrame, b: DataFrame, key: String,
                 valA: String, valB: String): DataFrame = {
    val left = a.select(col(key).as("k"), unhex(md5(col(valA))).as("da"),
      lit(1).as("in_a"))
    val right = b.select(col(key).as("k"), unhex(md5(col(valB))).as("db"),
      lit(1).as("in_b"))
    left.join(right, Seq("k"), "full_outer")
      .select(
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(col("da") <=> col("db"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))
  }

  /** Equi-depth BINNING (the feature-engineering discretizer): bin
    * boundaries are the exact type-7 percentiles of integer-cent prices
    * — the same bitwise-cross-engine interpolation as [[quantiles]] —
    * broadcast as a 1-row array, and every row is assigned its bin
    * MAP-SIDE by counting boundaries below its value. This is the
    * scale-correct formulation (Spark's own QuantileDiscretizer shape):
    * a global `ntile` window would serialize the whole table through one
    * task, which is exactly what this avoids. Ties share a bin, so
    * counts are near-equal rather than exactly equal — the honest
    * semantics at 100 TB. Output: per-bin count and value span.
    *
    * REGIME SELECTION (VERDICT r7 item 1 — the
    * `nearDupClusters(driverMaxEdges)` cutover idiom): the boundary
    * derivation is picked at plan-build time from ONE cheap pre-pass
    * (`count` + `approx_count_distinct`, a single scan collected as a
    * bounded driver scalar — the same collect contract as the ANN query
    * sets):
    *
    *  - `raw_exact` (rows ≤ rawMaxRows): exact percentile straight over
    *    the rows — no histogram shuffle. Percentile's own partial buffer
    *    is a value→count map, so the map-side combine already compresses
    *    per partition; at small scale the extra pre-histogram groupBy was
    *    pure overhead (measured +1.4 s at sf0.1, where prices are
    *    near-unique and the histogram cannot compress).
    *  - `hist_exact` (rows large, distinct estimate ≤ histMaxDistinct):
    *    frequency-weighted exact percentile over the (value, count)
    *    histogram — the shuffle AND the final reducer's buffer are
    *    bounded by DISTINCT values, not rows (30× decade: 17 s → ~4 s).
    *    IDENTICAL multiset ⇒ identical boundaries: the two exact regimes
    *    can never disagree, so the oracle is regime-independent.
    *  - `approx` (distinct estimate beyond the reducer bound — the
    *    unbounded-domain 100 TB case): `approx_percentile` boundaries
    *    (mergeable sketch partials, constant memory). ε-approximate —
    *    rank error ≤ n/accuracy — and engine-specific, so this regime is
    *    never engaged on the oracle-checked path (thresholds keep the
    *    registered SFs exact); the spec pins its boundary agreement vs
    *    exact on a near-unique synthetic domain.
    *
    * The assignment pass downstream (broadcast boundary array, map-side
    * boundary count) is shared verbatim by all three regimes.
    *
    * Selector cost contract (review-caught): the stage-1 `count()` is
    * ~free ONLY when the input is a bare file scan (parquet footer
    * metadata) — on a derived frame (filters, unions, the decade
    * ladders' amplified corpora) it is one full extra job executed
    * eagerly at plan-build time. Callers on hot derived inputs should
    * persist the input first (the ladders do) or accept the extra scan;
    * the registered query is a bare scan, where the contract holds.
    */
  def quantileBins(lineitem: DataFrame, nBins: Int = 8,
                   rawMaxRows: Long = DefaultRawMaxRows,
                   histMaxDistinct: Long = DefaultHistMaxDistinct,
                   approxAccuracy: Int = 10000): DataFrame = {
    val yc = round(col("l_extendedprice") * 100).cast("long")
    val ps = (1 until nBins).map(k => k.toDouble / nBins)
    val cents = lineitem.select(yc.as("yc"))
    // TWO-STAGE selector: the row count alone decides raw-vs-not, and
    // `df.count()` on a parquet source is answered from footer metadata
    // (no column scan) — so at small scale the selector costs ~nothing
    // and the raw regime's saving is actually realized (a combined
    // count+HLL pre-pass was measured to give the ~1 s saving straight
    // back). The HLL distinct estimate — a real column scan — runs ONLY
    // when rows exceed the raw bound, where the one extra pass is
    // amortized by the data it's sizing.
    val n = lineitem.count()
    val regime =
      if (n <= rawMaxRows) "raw_exact"
      else binRegime(n,
        cents.agg(approx_count_distinct(col("yc"), 0.05)).head().getLong(0),
        rawMaxRows, histMaxDistinct)
    val bounds = regime match {
      case "raw_exact" =>
        cents.agg(expr(s"percentile(yc, array(${ps.mkString(", ")}))").as("bs"))
      case "hist_exact" => histExactBoundaries(cents, "yc", nBins)
      case _ =>
        // cast to array<double>: the exact regimes' percentile returns
        // doubles — one boundary type downstream regardless of regime
        cents.agg(expr(
          s"cast(approx_percentile(yc, array(${ps.mkString(", ")}), $approxAccuracy) as array<double>)")
          .as("bs"))
    }
    cents
      .crossJoin(broadcast(bounds))
      .select(col("yc"),
        expr("aggregate(bs, 0L, (acc, b) -> acc + IF(yc > b, 1L, 0L))").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        (min(col("yc")).cast("double") / lit(100.0)).as("min_price"),
        (max(col("yc")).cast("double") / lit(100.0)).as("max_price"))
  }

  /** The ONE equi-depth boundary derivation (quantile-grid machinery),
    * shared by [[quantileBins]]'s hist_exact regime and
    * [[driftCheckQuantile]]: frequency-weighted exact type-7 percentiles
    * over the (value, count) histogram of integer-valued `valueCol` — the
    * shuffle and the final reducer's buffer are bounded by DISTINCT
    * values, not rows. Returns a 1-row frame with the boundary array
    * `bs` (array<double>), broadcast by callers. */
  def histExactBoundaries(cents: DataFrame, valueCol: String,
                          nBins: Int): DataFrame = {
    val ps = (1 until nBins).map(k => k.toDouble / nBins)
    cents.groupBy(valueCol).agg(count(lit(1)).as("cnt"))
      .agg(expr(s"percentile($valueCol, array(${ps.mkString(", ")}), cnt)")
        .as("bs"))
  }

  /** The ONE home of the selector thresholds — [[quantileBins]] and
    * [[binRegime]] both default to these, so tuning the cutover can
    * never leave the decade harness's regime print and the timed call
    * disagreeing (review-caught). rawMaxRows bounds the raw exact
    * percentile's reducer input by ROWS; histMaxDistinct bounds the
    * histogram form's reducer by DISTINCT values (~16M (long, count)
    * pairs ≈ 256 MB — executor-heap-sized). */
  val DefaultRawMaxRows: Long = 4000000L
  val DefaultHistMaxDistinct: Long = 16000000L

  /** The boundary-derivation selector of [[quantileBins]], exposed so the
    * decade harness can report which regime a given scale engages. Pure
    * function of the pre-pass scalars. */
  def binRegime(nRows: Long, nDistinctEst: Long,
                rawMaxRows: Long = DefaultRawMaxRows,
                histMaxDistinct: Long = DefaultHistMaxDistinct): String =
    if (nRows <= rawMaxRows) "raw_exact"
    else if (nDistinctEst <= histMaxDistinct) "hist_exact"
    else "approx"

  /** Per-group z-score NORMALIZATION — the feature transform sibling of
    * [[outliers]]: group moments broadcast back as 1-row-per-group
    * scalars, every row standardized map-side by the same fixed IEEE
    * sequence on both engines. Two passes over the fact table by
    * definition (moments, then transform); at 100 TB the second pass is
    * a map-only stage behind a broadcast join.
    *
    * Unlike [[statsCorr]]/[[outliers]] (which keep int64 sums and
    * document the ~1e5-rows-per-group Σy² bound), this transform SHIPS
    * the documented production swap: Σy² accumulates as DECIMAL(38,0) —
    * still exact and order-independent, headroom to 1e38 (≈1e12 rows of
    * max-price cents²), reviewer-caught: the int64 sum was at 80% of
    * Long.Max at sf0.1 already and overflows at the 10× decade check.
    * Both engines convert the same exact integer to double with one
    * correctly-rounded op (Spark Decimal, DuckDB HUGEINT), so the
    * z-scores still hash-match. sd_c = 0 (constant or single-row group)
    * yields z = NULL via a nullif guard — defined, never an ANSI
    * divide-by-zero.
    */
  def zscoreNormalize(lineitem: DataFrame): DataFrame = {
    val yc = round(col("l_extendedprice") * 100).cast("long")
    val ycDec = col("yc").cast("decimal(19,0)")
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val moments = lineitem
      .select(col("l_returnflag"), yc.as("yc"))
      .groupBy("l_returnflag")
      // BOTH moments decimal: Σy as int64 overflows at ~1e9 max-price
      // rows, well inside the headroom Σy² was widened for (review-2)
      .agg(count(lit(1)).as("n"), sum(ycDec).as("sy"),
        sum((ycDec * ycDec).cast("decimal(38,0)")).as("syy"))
      .select(col("l_returnflag"),
        (d("sy") / nd).as("mean_c"),
        // greatest(·, 0): catastrophic cancellation on near-constant
        // big-cent groups can round the radicand to −ulp; sqrt would be
        // NaN here but an ERROR in DuckDB — clamp on both engines, the
        // σ=0 nullif then yields NULL z (review-2)
        sqrt(greatest((d("syy") - d("sy") * d("sy") / nd) / nd, lit(0.0)))
          .as("sd_c"))
    lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), yc.as("yc"))
      .join(broadcast(moments), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        ((col("yc").cast("double") - col("mean_c"))
          / nullif(col("sd_c"), lit(0.0))).as("z"))
  }

  /** Quarantine ROUTER — the actionable half of [[constraintCheck]]:
    * instead of counting violations, ROUTE the violating rows out of the
    * landing path, each carrying the comma-joined list of the
    * constraints it failed (the triage label the quarantine reviewer
    * reads). A predicate evaluating to NULL routes the row (same
    * conservative semantics as the counter: un-evaluable ≠ clean), via
    * `IS NOT TRUE` on both engines. Entirely MAP-SIDE — per-row
    * predicate evaluation and string assembly, zero shuffles; the clean
    * complement is `df.except`-free: just the same filter negated.
    */
  val routeConstraints: Seq[(String, String)] = Seq(
    "quantity_low" -> "l_quantity <= 30",
    "discount_low" -> "l_discount <= 0.05")

  def constraintRoute(df: DataFrame,
                      constraints: Seq[(String, String)] = routeConstraints): DataFrame = {
    val reasons = array(constraints.map { case (name, cond) =>
      when(expr(s"($cond) IS NOT TRUE"), name)
    }: _*)
    // concat_ws drops NULL elements — only failed constraint names remain
    df.withColumn("violations", concat_ws(",", reasons))
      .filter(col("violations") =!= "")
      .select(col("l_orderkey"), col("l_linenumber"), col("violations"))
  }

}
