package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT — the write-side half of scan pruning.
  * Clustering a table by a space-filling curve over two predicate
  * columns groups the rows that 2-D range queries touch, so min/max
  * file statistics skip most files for box predicates on EITHER OR BOTH
  * dimensions — the technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`
  * and the classic Morton-order layout literature. A single-column
  * layout gives perfect pruning on that column and none on the other;
  * the Z-curve trades a little of the first for most of the second
  * (measured in LayoutOpsSpec: a supplier-constrained box predicate
  * touches every partkey-layout block but a small fraction of z-blocks).
  *
  * Nothing like this exists in the reference (SURVEY.md §2.7) — it is
  * part of the 100 TB extension surface: at scale the dominant cost of
  * this engine's dedup/ANN/relational scans is bytes read, and bytes
  * read is a function of layout, not just plan shape.
  *
  * Scale design: the Morton code is a per-row integer expression (16
  * codegen'd shift/mask terms per dimension — no joins, no shuffle),
  * and the BLOCK is carved from the code's high bits (`morton >>
  * blockBits`), i.e. a fixed spatial tile — so the whole layout
  * assignment is MAP-SIDE with zero exchanges. A writer realizes it
  * with one `repartitionByRange(morton)` pass (the same cost any
  * compaction rewrite already pays); a global row_number over the sort
  * would serialize into one task and is exactly what this formulation
  * avoids. Everything is exact integer arithmetic, so the registered
  * query hash-matches DuckDB bit-for-bit.
  */
object LayoutOps {

  /** Morton (Z-curve) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Disjoint targets, so the OR-accumulation is
    * a plain sum — identical arithmetic in Spark and DuckDB.
    */
  def mortonCode(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val aL = a.cast("long")
    val bL = b.cast("long")
    val code = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc + shiftleft(shiftrightunsigned(aL, i) % 2, 2 * i) +
        shiftleft(shiftrightunsigned(bL, i) % 2, 2 * i + 1)
    }
    // ONE guard around the assembled code (not per bit) keeps the
    // expression tree linear; the branch fires before any truncated
    // result can escape.
    val n = 1L << bits
    when(aL < 0L || aL >= n || bL < 0L || bL >= n,
      raise_error(concat(
        lit(s"mortonCode: coordinate out of [0, $n) for bits=$bits: "),
        aL.cast("string"), lit(","), bL.cast("string"))))
      .otherwise(code)
  }

  /** Z-order layout of lineitem over its two join-key predicate columns
    * (part, supplier): every row tagged with its Morton key and its
    * spatial block (`morton >> blockBits` — the file/row-group a
    * z-ordering writer would emit it into). At lineitem's near-uniform
    * key density the tiles are near-equal-sized; skewed domains would
    * pick blockBits from a quantile sketch the same way range
    * partitioning does.
    */
  def zorderLayout(lineitem: DataFrame, blockBits: Int = 10): DataFrame = {
    require(blockBits >= 0 && blockBits < 32,
      s"blockBits must be in [0, 32) for a 2x16-bit Morton code, got $blockBits")
    lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .withColumn("morton", mortonCode(col("l_partkey"), col("l_suppkey")))
      .withColumn("block", shiftrightunsigned(col("morton"), blockBits))
  }

  /** Hilbert-curve index of two non-negative integer columns on the
    * 2^bits × 2^bits grid — the curve behind Databricks liquid
    * clustering and the stronger half of the space-filling-curve
    * trade: unlike the Z-curve it has NO diagonal jumps (consecutive
    * curve positions are always grid neighbors — spec-proven
    * bijection + continuity), so range boxes touch fewer, more
    * compact runs of the curve.
    *
    * Implementation is the standard per-level fold (Wikipedia xy2d,
    * full-grid rotation so coordinates provably stay in [0, 2^bits)):
    * each level reads one bit of each coordinate, accumulates
    * s²·quadrant, and rotates/reflects the frame. The quadrant term
    * (3·rx)^ry is computed ARITHMETICALLY (3rx + ry − 2rx·ry — the
    * identity holds on {0,1}²) so no engine-specific xor is needed.
    * All exact integer CASE/add/multiply — bitwise cross-engine. The
    * Spark side runs the loop as a native expression
    * ([[graft.functions.HilbertIndex2D]] — see the note in the body);
    * the oracle remains a CTE chain GENERATED FROM THE SAME per-level
    * recurrence, so the two sides cannot diverge structurally.
    * Map-side, zero joins/shuffles — the same writer contract as
    * [[zorderLayout]].
    */
  def withHilbert(df: DataFrame, xCol: Column, yCol: Column,
                  bits: Int = 16, out: String = "hilbert"): DataFrame = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(!df.columns.contains(out),
      s"withHilbert output column collides with an input column: $out")
    // Native Catalyst expression, not a per-level withColumn chain
    // (the 100× ladder shows why): the declarative chain inlined
    // under CollapseProject into a multiplicatively-growing tree — at
    // bits=16 the optimizer/codegen phase ran for MINUTES whenever the
    // column was actually EVALUATED (clustered writes; guarded counts).
    // graft.functions.HilbertKernel.eval2 is the identical per-level
    // recurrence as an O(bits) per-row loop inside whole-stage codegen;
    // outputs are bit-identical, so the generated CTE oracle and the
    // LayoutOpsSpec grid proofs are unchanged. Out-of-range coordinates
    // still fail loudly from the kernel (silent high-bit truncation
    // would degrade clustering locality invisibly); NULL
    // coordinates still yield a NULL index.
    df.withColumn(out, graft.functions.hilbert.index2(
      xCol.cast("long"), yCol.cast("long"), bits))
  }

  /** d-dimensional Morton (Z-curve) interleave (production OPTIMIZE
    * ZORDER takes 3-4 columns): bit i of dimension j
    * lands at position d·i + j, the direct generalization of the 2-D
    * [[mortonCode]] (which this reproduces bit-for-bit at d=2). Disjoint
    * bit targets, so the accumulation stays a plain exact-integer sum.
    */
  def mortonCodeN(cols: Seq[Column], bits: Int = 16): Column = {
    val d = cols.size
    require(d >= 2, s"mortonCodeN needs >= 2 dimensions, got $d")
    require(bits > 0 && d * bits <= 63,
      s"d*bits must fit a positive long: d=$d bits=$bits")
    val longs = cols.map(_.cast("long"))
    val code = longs.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, j)) =>
      (0 until bits).foldLeft(acc) { (a, i) =>
        a + shiftleft(shiftrightunsigned(c, i) % 2, d * i + j)
      }
    }
    val n = 1L << bits
    val outOfRange = longs.map(c => c < 0L || c >= n).reduce(_ || _)
    when(outOfRange,
      raise_error(concat(
        lit(s"mortonCodeN: coordinate out of [0, $n) for bits=$bits: ") +:
          longs.flatMap(c => Seq(c.cast("string"), lit(","))).dropRight(1): _*)))
      .otherwise(code)
  }

  /** 3-D Z-order layout of lineitem over (part, supplier, linenumber) —
    * the multi-column OPTIMIZE ZORDER form. Same map-side zero-exchange
    * contract as [[zorderLayout]]; block carves the 48-bit code's high
    * bits.
    */
  def zorder3Layout(lineitem: DataFrame, blockBits: Int = 38): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .withColumn("morton", mortonCodeN(
        Seq(col("l_partkey"), col("l_suppkey"), col("l_linenumber"))))
      .withColumn("block", shiftrightunsigned(col("morton"), blockBits))

  /** Hilbert layout of lineitem over (part, supplier) — the liquid-
    * clustering counterpart of [[zorderLayout]], same block contract.
    */
  def hilbertLayout(lineitem: DataFrame, blockBits: Int = 10): DataFrame = {
    require(blockBits >= 0 && blockBits < 32,
      s"blockBits must be in [0, 32) for a 2x16-bit Hilbert index, got $blockBits")
    withHilbert(
      lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")),
      col("l_partkey"), col("l_suppkey"))
      .withColumn("block", shiftrightunsigned(col("hilbert"), blockBits))
  }

  /** Realize a curve layout on disk: range-repartition on the curve key
    * (contiguous curve runs per output file), sort within partitions so
    * row groups are tight too, and write parquet. This is what makes the
    * keys computed by [[zorderLayout]]/[[hilbertLayout]] DO something:
    * each file's min/max statistics over the original predicate columns
    * become narrow boxes, so engines skip files/row-groups on 2-D range
    * predicates (spec-measured: per-file key spans shrink by an order of
    * magnitude vs an unclustered write of the same rows —
    * [[graft.LayoutOpsSpec]]).
    *
    * `repartitionByRange` samples the key to pick near-equal-sized range
    * bounds — the same one extra pass any compaction/OPTIMIZE rewrite
    * already pays; no global sort task, no driver bottleneck.
    */
  def writeClustered(df: DataFrame, path: String, curveCol: String,
                     numFiles: Int = 8): Unit =
    df.repartitionByRange(numFiles, col(curveCol))
      .sortWithinPartitions(curveCol)
      .write.mode("overwrite").parquet(path)

  /** d-dimensional Hilbert index via Skilling's transform (John
    * Skilling, "Programming the Hilbert curve", AIP Conf. Proc. 707,
    * 2004 — the public d-dimensional algorithm behind every production
    * multi-column Hilbert layout). Three fixed-shape
    * phases, all exact integer CASE/xor/and/shift — bitwise
    * cross-engine:
    *
    *  1. inverse-undo: for each bit level Q from 2^(bits-1) down to 2
    *     and each dimension i, conditionally invert/exchange the low
    *     bits of (X0, Xi) — the rotation bookkeeping the 2-D fold does
    *     with its reflect/swap branch;
    *  2. Gray encode: Xi ^= X(i-1) cascade, then xor the suffix
    *     correction t derived from the last dimension into every axis;
    *  3. transpose interleave: bit q of Xi lands at q·d + (d-1-i) —
    *     MSB-first groups, dimension 0 most significant within a group.
    *
    * Bijection + continuity (consecutive indices are Manhattan-distance-1
    * grid neighbors) are spec-proven over full grids at d = 2, 3, 4
    * ([[graft.LayoutOpsSpec]]). Computed by the native
    * [[graft.functions.HilbertIndexN]] expression — the identical
    * Skilling phases as an O(d·bits) per-row loop (the [[withHilbert]]
    * CollapseProject lesson applied at d dimensions); out-of-range
    * coordinates fail loudly from the kernel, NULL coordinates yield a
    * NULL index. Map-side, zero exchanges.
    */
  def withHilbertN(df: DataFrame, coords: Seq[Column], bits: Int = 16,
                   out: String = "hilbert"): DataFrame = {
    val d = coords.size
    require(d >= 2, s"withHilbertN needs >= 2 dimensions, got $d")
    require(bits > 0 && d * bits <= 63,
      s"d*bits must fit a positive long: d=$d bits=$bits")
    require(!df.columns.contains(out),
      s"withHilbertN output column collides with an input column: $out")
    df.withColumn(out, graft.functions.hilbert.indexN(
      array(coords.map(_.cast("long")): _*), bits))
  }

  /** 3-D Hilbert layout of lineitem over (part, supplier, linenumber) —
    * the d>2 liquid-clustering form; same contract as [[hilbertLayout]].
    */
  def hilbert3Layout(lineitem: DataFrame, blockBits: Int = 38): DataFrame =
    withHilbertN(
      lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")),
      Seq(col("l_partkey"), col("l_suppkey"), col("l_linenumber")))
      .withColumn("block", shiftrightunsigned(col("hilbert"), blockBits))

  // --------------------------------------------------------------------
  // Small-file compaction planning — the OTHER half of layout hygiene.
  // --------------------------------------------------------------------

  /** Deterministic file inventory derived from the documents table: 97
    * pseudo-files keyed by `doc_id % 97`, sized by their total text
    * bytes. Stands in for a real `FileSystem.listStatus` inventory so
    * the PLANNER below is oracle-checkable; a production caller feeds
    * the actual (file_id, size_bytes) listing instead. */
  def fileInventory(documents: DataFrame, nFiles: Int = 97): DataFrame =
    documents
      .groupBy(pmod(col("doc_id"), lit(nFiles)).cast("long").as("file_id"))
      .agg(sum("n_chars").cast("long").as("size_bytes"))

  /** Small-file COMPACTION plan: assign every file to an output bin so
    * each compacted file lands near `targetBytes`. A 100 TB table that
    * ingests hourly accretes millions of KB-scale files; scan cost (task
    * scheduling, footer reads, row-group seeks) is then dominated by
    * file COUNT, and periodic compaction is what keeps
    * `maxPartitionBytes`-sized splits meaningful.
    *
    * Policy: quota-fill by descending size — files sorted (size DESC,
    * file_id) take `bin = cum_bytes_before div targetBytes`. This is the
    * deterministic, window-expressible cousin of first-fit-decreasing:
    * every bin's payload is within one file of the quota, large files
    * concentrate early, and — unlike true FFD's mutable bin state — the
    * whole plan is ONE window over the inventory, so both engines
    * compute it identically.
    *
    * Scale shape: the input is file METADATA (one row per file — ~1e6
    * rows for a 100 TB table at 100 MB/file), three orders of magnitude
    * under data scale, so the single-partition global window is a
    * deliberate, bounded driver-adjacent step (same class as the
    * documented bounded `.collect()` sites); the expensive part of
    * compaction — actually rewriting bytes — is the per-bin
    * `repartitionByRange` write that CONSUMES this plan, and that is
    * fully distributed. */
  def compactionPlan(files: DataFrame, targetBytes: Long = 128 * 1024): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("size_bytes").desc, col("file_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    files
      .select(col("file_id"), col("size_bytes"),
        coalesce(sum(col("size_bytes")).over(w), lit(0L)).as("cum_before"))
      .select(col("file_id"), col("size_bytes"),
        expr(s"cum_before div ${targetBytes}L").cast("long").as("raw_bin"))
      // dense renumber: a file >= targetBytes advances the quota counter
      // by more than one, leaving gaps that would overstate the output
      // file count and create empty shuffle partitions in the rewrite
      // (reviewer-caught); dense_rank over the same ordered metadata
      // window closes them identically in both engines
      .select(col("file_id"), col("size_bytes"),
        (org.apache.spark.sql.functions.dense_rank()
          .over(W.orderBy(col("raw_bin"))) - 1).cast("long").as("bin"))
  }

  /** EXECUTE a compaction plan end-to-end: re-write `documents` so each
    * plan bin becomes exactly ONE output file (`bin=k/part-*.parquet`).
    * The distributed half of the planner: rows map-side join the
    * broadcast (file_id → bin) plan, hash-repartition on bin (each bin
    * lands wholly in one task → one file per `partitionBy` directory),
    * and stream to parquet. The only driver-side step is reading the
    * bin COUNT off the plan — bounded metadata (one long), same class
    * as the engine's other documented bounded collects. Returns the bin
    * count so callers can assert the file-count contraction. */
  def applyCompaction(documents: DataFrame, path: String,
                      nFiles: Int = 97, targetBytes: Long = 128 * 1024): Long = {
    // collect the plan ONCE — nFiles metadata rows (the documented
    // bounded-collect class). Deriving nBins with a separate .agg and
    // then joining the un-cached plan would run the full inventory scan
    // twice (review-2); the collected rows also seed the broadcast side
    // locally, so the rewrite job scans `documents` exactly once. An
    // empty collected plan (empty landed partition) is zero bins, not an
    // NPE; bins are dense so max+1 IS the output file count.
    val spark = documents.sparkSession
    val planRows = compactionPlan(fileInventory(documents, nFiles), targetBytes)
      .select("file_id", "bin").collect()
    val nBins = if (planRows.isEmpty) 0L else planRows.map(_.getLong(1)).max + 1
    val planLocal = spark.createDataFrame(
      java.util.Arrays.asList(planRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.LongType))))
    documents
      .withColumn("file_id", pmod(col("doc_id"), lit(nFiles)).cast("long"))
      .join(broadcast(planLocal), "file_id")
      .drop("file_id")
      .repartition(math.max(1L, nBins).toInt, col("bin"))
      .write.mode("overwrite").partitionBy("bin").parquet(path)
    nBins
  }

  /** ONE-CALL table OPTIMIZE: compact small files
    * AND re-cluster on the curve key in a SINGLE rewrite — the
    * maintenance pass a lakehouse runs as `OPTIMIZE t ZORDER BY (...)`.
    * Composition of the engine's three layout tools:
    *
    *  - [[compactionPlan]] supplies the SIZING: its dense quota-fill bin
    *    count over the file inventory is the output file count that
    *    lands each rewritten file near `targetBytes`;
    *  - the rewrite itself is [[writeClustered]] at that file count —
    *    range-repartition + in-partition sort on the curve key;
    *  - [[applyCompaction]]'s per-bin assignment is deliberately
    *    REPLACED by curve-range assignment: once every row is being
    *    rewritten anyway, binning by ORIGINAL file wastes the rewrite —
    *    assigning by curve range buys the zone-map skip payoff for the
    *    same write cost. (applyCompaction remains the right tool when
    *    rows must NOT be reordered — e.g. an append-ordered changelog.)
    *
    * One distributed pass over the data (the plan input is file
    * metadata); returns the output file count so callers can assert the
    * contraction. The read-side proof ([[graft.LayoutOpsSpec]]) re-runs
    * the zone-map skip measurement on the optimized tree: fewer files
    * AND ≥ the unoptimized clustered skip rate, with lossless
    * pruned-scan parity.
    */
  def optimizeTable(df: DataFrame, inventory: DataFrame, path: String,
                    curveCol: String, targetBytes: Long = 128 * 1024): Long = {
    // one metadata-sized aggregate off the plan (bins are dense, so
    // max+1 IS the output file count); empty table ⇒ zero bins but one
    // (empty) output partition, mirroring applyCompaction
    val maxBin = compactionPlan(inventory, targetBytes)
      .agg(max("bin")).head()
    val nBins = if (maxBin.isNullAt(0)) 0L else maxBin.getLong(0) + 1
    writeClustered(df, path, curveCol, math.max(1L, nBins).toInt)
    nBins
  }

  /** DETERMINISTIC clustered write — the exact-boundary twin of
    * [[writeClustered]]. `repartitionByRange`
    * SAMPLES the curve key to pick range bounds, so the per-file row
    * assignment varies run to run (the RangePartitioner seed folds in
    * the RDD id); that is fine for production layout but makes the
    * write path impossible to oracle-check per file. This writer
    * derives the bin of every row by EXACT equi-depth arithmetic over
    * the curve-key histogram — bin(v) = rows-below(v) · nBins div
    * total — so the full (file → rows) assignment is a pure function of
    * the data, bitwise reproducible across runs, partitionings, and
    * engines. It also aligns the write path with the engine's own
    * determinism convention (content-addressed md5 grids, never
    * `rand()`): a retried OPTIMIZE produces byte-identical file
    * contents.
    *
    * Scale shape: ONE groupBy(curve) histogram shuffle (bounded by
    * DISTINCT curve values — ≤ 4^bits grid cells, metadata-sized by
    * construction); the cumulative window runs over those distinct
    * values (same bounded single-task class as [[compactionPlan]]'s
    * documented inventory window — never over rows); the mapping
    * broadcasts and rows take their bin MAP-SIDE; then the one
    * repartition-for-write pass every clustered rewrite already pays.
    * Bins are monotone in the curve key, so files are DISJOINT curve
    * ranges — the same zone-map skip contract as [[writeClustered]].
    * Rows with a NULL curve key are DROPPED — excluded before the
    * histogram so they distort neither `below` nor `total` for the
    * rows that are kept (a layout key must exist to be clustered
    * on). */
  def writeClusteredExact(df: DataFrame, path: String, curveCol: String,
                          nBins: Int): Unit = {
    require(nBins >= 1, s"writeClusteredExact needs nBins >= 1, got $nBins")
    // NULL curve keys are excluded BEFORE the histogram, not just at
    // the join: a NULL group in the histogram would inflate `below` and
    // `total` for every real value (nulls-first ordering), shifting the
    // retained rows into later bins — leading bins empty, the rest over
    // the equi-depth target (review-caught). Excluding up front keeps
    // the documented drop AND the assignment exact over what is kept.
    val rows = df.filter(col(curveCol).isNotNull)
    val W = org.apache.spark.sql.expressions.Window
    val hist = rows.groupBy(col(curveCol).as("cv")).agg(count(lit(1)).as("cnt"))
    val w = W.orderBy("cv").rowsBetween(W.unboundedPreceding, -1)
    val tot = hist.agg(sum("cnt").cast("long").as("total"))
    val mapping = hist
      .select(col("cv"), coalesce(sum("cnt").over(w), lit(0L)).as("below"))
      .crossJoin(broadcast(tot))
      .select(col("cv"),
        expr(s"below * ${nBins}L div total").cast("long").as("file_bin"))
    // sort on (file_bin, curve): partitionBy requires child ordering on
    // the partition column — a curve-only sort would NOT satisfy it and
    // FileFormatWriter would insert its own sort on file_bin above the
    // sorted data, wasting the sort and leaving in-file curve order to
    // that sort's tie behavior (review-caught). The prefixed sort
    // satisfies the requirement, keeps files curve-sorted, and makes
    // the byte-identical-retry claim hold.
    rows.join(broadcast(mapping), col(curveCol) === col("cv"))
      .drop("cv")
      .repartition(nBins, col("file_bin"))
      .sortWithinPartitions(col("file_bin"), col(curveCol))
      .write.mode("overwrite").partitionBy("file_bin").parquet(path)
  }

  /** One-call OPTIMIZE with the DETERMINISTIC writer: same sizing as
    * [[optimizeTable]] ([[compactionPlan]]'s dense quota-fill bin count
    * over the file inventory), rewrite via [[writeClusteredExact]] —
    * the variant a reproducible-build pipeline (or an oracle) wants,
    * at the cost of the histogram pre-pass. Returns the planner bin
    * count. */
  def optimizeTableExact(df: DataFrame, inventory: DataFrame, path: String,
                         curveCol: String,
                         targetBytes: Long = 128 * 1024): Long = {
    val maxBin = compactionPlan(inventory, targetBytes)
      .agg(max("bin")).head()
    val nBins = if (maxBin.isNullAt(0)) 0L else maxBin.getLong(0) + 1
    writeClusteredExact(df, path, curveCol, math.max(1L, nBins).toInt)
    nBins
  }

  /** WRITE-PATH ROUND TRIP — the registered query that puts the
    * engine's write side under the oracle hash gate (a write-path defect
    * such as the Hilbert CollapseProject hang stays hidden otherwise:
    * Bench's count() column-prunes the curve, and no other registered
    * query READs an optimized tree back). End to end: curve-key the
    * documents table (8-bit Morton
    * over (doc_id mod 256, n_chars mod 256) — exact integer, oracle
    * expression shared with [[zorderLayout]]'s), OPTIMIZE it into a
    * pid-scoped fixture tree via [[optimizeTableExact]] (planner-sized
    * file count, deterministic equi-depth assignment, one file per
    * bin), then READ THE TREE BACK through a fresh parquet scan and
    * summarize per physical file: row count and the min/max curve-key
    * span. The oracle reconstructs the identical summary from the
    * source table alone — planner CTE for the bin count, the same
    * cumulative-histogram assignment — so a row lost, duplicated, or
    * mis-binned anywhere in plan→write→list→read breaks the hash.
    * `file_bin` comes back as a PARTITION column (directory name), so
    * the summary also proves the on-disk layout, not just the rows.
    *
    * [[optimizeTable]] itself (the sampled-range production default)
    * stays spec-verified (LayoutOpsSpec: contraction, skip rate,
    * lossless parity) — sampling makes its per-file assignment
    * legitimately run-varying, which is exactly why the deterministic
    * twin exists for the driver-tracked check; the two share the
    * planner and the writer contract. */
  def optimizeRoundtrip(spark: org.apache.spark.sql.SparkSession,
                        documents: DataFrame, path: String,
                        targetBytes: Long = 32 * 1024): DataFrame = {
    val curved = documents
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"),
        mortonCode(pmod(col("doc_id"), lit(256L)),
          pmod(col("n_chars"), lit(256L)), 8).as("curve"))
    optimizeTableExact(curved, fileInventory(documents), path, "curve",
      targetBytes)
    // explicit read-back schema: an EMPTY source writes zero data files
    // (only _SUCCESS — no files for no rows is the right compaction
    // output), which schema INFERENCE cannot read; declaring the schema
    // (partition column included) keeps the round trip total
    val rbSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("curve",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("file_bin",
        org.apache.spark.sql.types.LongType)))
    spark.read.schema(rbSchema).parquet(path)
      .groupBy(col("file_bin").cast("long").as("file_bin"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min("curve").cast("long").as("min_curve"),
        max("curve").cast("long").as("max_curve"))
  }

  /** WRITE-PATH round trip #2 — [[applyCompaction]] under the driver's
    * hash gate. [[optimizeRoundtrip]] covers the re-clustering writer;
    * this covers the OTHER rewrite the engine ships: pure compaction
    * that preserves the original file grouping (the right tool when
    * rows must not be reordered — an append-ordered changelog). End to
    * end: plan bins over the deterministic file inventory, execute the
    * rewrite into a pid-scoped tree (one physical file per bin —
    * asserted by `n_files`, counted from `input_file_name()` on the
    * read-back scan, so the on-disk contract is in the hash, not just a
    * spec), read the tree back through a fresh parquet scan, and
    * summarize per bin: row count, file count, doc-id span, byte total.
    * The oracle reconstructs the identical summary from the source
    * table alone (inventory → quota-fill plan → row assignment via
    * `doc_id % nFiles`), so a row lost, duplicated, or mis-binned
    * anywhere in plan→write→list→read breaks the hash — and a bin split
    * across two files breaks `n_files`. */
  def compactionRoundtrip(spark: org.apache.spark.sql.SparkSession,
                          documents: DataFrame, path: String,
                          nFiles: Int = 97,
                          targetBytes: Long = 128 * 1024): DataFrame = {
    applyCompaction(documents, path, nFiles, targetBytes)
    // declared read-back schema (partition column included) — same
    // empty-source totality convention as [[optimizeRoundtrip]]
    import org.apache.spark.sql.types._
    val rbSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("bin", LongType)))
    spark.read.schema(rbSchema).parquet(path)
      // input_file_name() is nondeterministic — projected to an
      // attribute BEFORE the aggregate (Spark rejects it as a direct
      // aggregate argument)
      .withColumn("__file", input_file_name())
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("__file")).cast("long").as("n_files"),
        min("doc_id").cast("long").as("min_doc"),
        max("doc_id").cast("long").as("max_doc"),
        sum("n_chars").cast("long").as("chars_total"))
  }

}
