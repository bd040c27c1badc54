package graft

import graft.ops.LayoutOps
import org.apache.spark.sql.functions._

/** Z-order layout: Morton-code correctness on knowable bit patterns, and
  * the pruning property the layout exists for — measured as the fraction
  * of blocks a box predicate touches under the z-layout vs a
  * single-column layout of matching granularity.
  */
class LayoutOpsSpec extends SparkSpec {
  import spark.implicits._

  test("mortonCode: hand-checked interleaves") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("a", "b")
      .withColumn("m", LayoutOps.mortonCode(col("a"), col("b")))
    val got = df.select("m").as[Long].collect().toSeq
    // interleave(3, 5): a bits 1,1 -> positions 0,2; b bits 1,0,1 ->
    // positions 1,5 -> 1 + 2 + 4 + 32 = 39
    assert(got == Seq(0L, 1L, 2L, 3L, 39L, (1L << 32) - 1))
  }

  test("z-layout prunes box predicates on either dimension; single-column layout cannot") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01").cache()
    val z = LayoutOps.zorderLayout(li) // blockBits=10: 32x32 key tiles
    // single-column layout at matching granularity: partkey >> 3 gives
    // ~250 blocks vs ~256 populated z-tiles
    val oneD = li.select(col("l_partkey"), col("l_suppkey"))
      .withColumn("block", shiftrightunsigned(col("l_partkey"), 3))
    def frac(df: org.apache.spark.sql.DataFrame, pred: org.apache.spark.sql.Column): Double = {
      val total = df.select("block").distinct().count().toDouble
      df.filter(pred).select("block").distinct().count() / total
    }
    val suppBox = col("l_suppkey").between(10, 19)
    val partBox = col("l_partkey").between(100, 199)
    // supplier-constrained: z skips most tiles, the partkey layout none
    assert(frac(z, suppBox) < 0.5, s"z supp frac ${frac(z, suppBox)}")
    assert(frac(oneD, suppBox) > 0.9, s"1d supp frac ${frac(oneD, suppBox)}")
    // partkey-constrained: both prune; z stays within 3x of the
    // specialist layout (the documented Z-curve trade)
    assert(frac(z, partBox) < 3 * frac(oneD, partBox) + 0.02,
      s"z part frac ${frac(z, partBox)} vs 1d ${frac(oneD, partBox)}")
    // the layout assignment is map-side: the OPERATOR adds no exchange
    // (asserted on a loader-free frame — Tables' round-robin spread
    // would otherwise show up as the scan's own exchange)
    val plain = Seq((1L, 1, 5L, 7L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val plan = LayoutOps.zorderLayout(plain).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"z-layout must not shuffle:\n$plan")
    li.unpersist()
  }

  // ---- Hilbert curve ----

  /** Plain-JVM reference (Wikipedia xy2d, full-grid rotation) — the
    * independent implementation the Spark expression chain is checked
    * against cell-for-cell. */
  private def hilbertRef(bits: Int, x0: Long, y0: Long): Long = {
    val n = 1L << bits
    var (x, y, d) = (x0, y0, 0L)
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("withHilbert matches the JVM reference on a full 32x32 grid; bijection + curve continuity") {
    val bits = 5
    val n = 1 << bits
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val got = LayoutOps.withHilbert(grid, col("x"), col("y"), bits, "d")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // cell-for-cell agreement with the independent reference
    got.foreach { case ((x, y), d) =>
      assert(d == hilbertRef(bits, x, y), s"($x,$y): $d != ref ${hilbertRef(bits, x, y)}")
    }
    // bijection onto [0, n^2)
    assert(got.values.toSet == (0L until (n.toLong * n)).toSet)
    // THE Hilbert property Z-order lacks: consecutive curve positions are
    // always Manhattan-neighbors (no diagonal jumps)
    val byD = got.map(_.swap)
    (0L until (n.toLong * n - 1)).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
    // contrast: Morton DOES jump (it is why Hilbert exists) — verify the
    // property genuinely discriminates rather than being vacuous
    val morton = grid.withColumn("m", LayoutOps.mortonCode(col("x"), col("y"), bits))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).toMap
    val mortonJumps = (0L until (n.toLong * n - 1)).count { d =>
      val (x1, y1) = morton(d); val (x2, y2) = morton(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(mortonJumps > 0, "Morton should exhibit diagonal jumps on this grid")
  }

  test("writeClustered tightens per-file min/max statistics vs an unclustered write") {
    import spark.implicits._
    // near-uniform 2-D keys in ingestion (= random) order
    val rows = (0L until 4096L).map { i =>
      val x = (i * 2654435761L) % 256   // golden-ratio scatter
      val y = (i * 40503L) % 256
      (i, x, y)
    }.toDF("id", "kx", "ky")
    val keyed = LayoutOps.withHilbert(rows, col("kx"), col("ky"), bits = 8)
    val dir = tempDir("graft_layout").toString
    try {
      LayoutOps.writeClustered(keyed, s"$dir/clustered", "hilbert", numFiles = 16)
      rows.repartition(16).write.mode("overwrite").parquet(s"$dir/plain")
      def meanSpan(path: String): Double = {
        val spans = spark.read.parquet(path)
          .groupBy(input_file_name().as("f"))
          .agg((max("kx") - min("kx")).as("sx"), (max("ky") - min("ky")).as("sy"))
          .collect().map(r => (r.getLong(1) + r.getLong(2)) / 2.0)
        spans.sum / spans.length
      }
      val clustered = meanSpan(s"$dir/clustered")
      val plain = meanSpan(s"$dir/plain")
      // random order: every file spans ~the full 0..255 domain on both
      // dims; a contiguous Hilbert run covers a compact tile
      assert(plain > 200, s"unclustered files should span the domain, got $plain")
      assert(clustered < plain * 0.6,
        s"clustered per-file key span must shrink (clustered=$clustered plain=$plain)")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("writeClustered payoff: a selective 2-D box scan skips most clustered files and none of the control (VERDICT r6 item 4)") {
    import spark.implicits._
    // the read-side proof the key-span spec above only implies: apply a
    // zone-map skip (file min/max stats vs the predicate box — exactly
    // the parquet row-group / Delta file-skipping rule) and count the
    // units a stats-aware scan must actually read
    val rows = (0L until 8192L).map { i =>
      val x = (i * 2654435761L) % 256
      val y = (i * 40503L) % 256
      (i, x, y)
    }.toDF("id", "kx", "ky")
    val keyed = LayoutOps.withHilbert(rows, col("kx"), col("ky"), bits = 8)
    val dir = tempDir("graft_layout_skip").toString
    try {
      LayoutOps.writeClustered(keyed, s"$dir/clustered", "hilbert", numFiles = 32)
      rows.repartition(32).write.mode("overwrite").parquet(s"$dir/plain")
      // box: 1/64 of the key domain (32x32 of 256x256)
      val (xLo, xHi, yLo, yHi) = (64L, 95L, 128L, 159L)
      def stats(path: String) = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("kx").as("x0"), max("kx").as("x1"),
          min("ky").as("y0"), max("ky").as("y1"))
        .collect()
      // zone-map rule: the file must be READ iff its stat box OVERLAPS
      // the predicate box (x1 >= xLo && x0 <= xHi, same on y)
      def overlaps(r: org.apache.spark.sql.Row): Boolean =
        r.getLong(2) >= xLo && r.getLong(1) <= xHi &&
          r.getLong(4) >= yLo && r.getLong(3) <= yHi
      def touched(path: String): (Int, Int) = {
        val st = stats(path)
        (st.count(overlaps), st.length)
      }
      val (clTouched, clTotal) = touched(s"$dir/clustered")
      val (plTouched, plTotal) = touched(s"$dir/plain")
      assert(clTotal == 32 && plTotal == 32)
      // random layout: every file's stat box covers the whole domain, so
      // zone maps skip NOTHING
      assert(plTouched == 32, s"control should touch every file, got $plTouched")
      // Hilbert clustering: the box lives on a short run of the curve —
      // a stats-aware scan reads a small minority of files
      assert(clTouched <= 8,
        s"clustered scan should skip most files, touched $clTouched/32")
      // and the skip is semantically lossless: reading ONLY the
      // intersecting files returns exactly the full filtered result
      val boxPred = col("kx").between(xLo, xHi) && col("ky").between(yLo, yHi)
      val full = spark.read.parquet(s"$dir/clustered").filter(boxPred)
        .select("id").as[Long].collect().toSet
      val keep = stats(s"$dir/clustered")
        .filter(overlaps)
        .map(_.getString(0).stripPrefix("file:")).toSeq
      val pruned = spark.read.parquet(keep: _*).filter(boxPred)
        .select("id").as[Long].collect().toSet
      assert(pruned == full && full.nonEmpty,
        s"pruned scan must be exact: ${pruned.size} vs ${full.size}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("optimizeTable: one rewrite compacts the file count AND keeps the clustered skip rate (VERDICT r7 item 5)") {
    import spark.implicits._
    val rows = (0L until 8192L).map { i =>
      val x = (i * 2654435761L) % 256
      val y = (i * 40503L) % 256
      (i, x, y)
    }.toDF("id", "kx", "ky")
    val keyed = LayoutOps.withHilbert(rows, col("kx"), col("ky"), bits = 8)
    // inventory: 32 equal small files; quota 4 files' worth per bin ⇒ the
    // plan's dense bin count is 8 — the sizing optimizeTable must adopt
    val inventory = (0L until 32L).map(f => (f, 1000L)).toDF("file_id", "size_bytes")
    val dir = tempDir("graft_optimize").toString
    try {
      // fragmented control: the same rows scattered over 32 random files
      rows.repartition(32).write.mode("overwrite").parquet(s"$dir/plain")
      val nOut = LayoutOps.optimizeTable(keyed, inventory, s"$dir/opt",
        "hilbert", targetBytes = 4000L)
      assert(nOut == 8L)
      // file-count CONTRACTION on disk: exactly the plan's bin count
      def partFiles(p: String): Int =
        new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
      assert(partFiles(s"$dir/opt") == 8 && partFiles(s"$dir/plain") == 32)
      // read-side proof re-run on the OPTIMIZED tree (same zone-map rule
      // as the writeClustered payoff spec above)
      val (xLo, xHi, yLo, yHi) = (64L, 95L, 128L, 159L)
      def stats(path: String) = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("kx").as("x0"), max("kx").as("x1"),
          min("ky").as("y0"), max("ky").as("y1"))
        .collect()
      def overlaps(r: org.apache.spark.sql.Row): Boolean =
        r.getLong(2) >= xLo && r.getLong(1) <= xHi &&
          r.getLong(4) >= yLo && r.getLong(3) <= yHi
      val st = stats(s"$dir/opt")
      val touched = st.count(overlaps)
      assert(st.length == 8)
      // ≥ the clustered 32-file skip RATE (≤8/32 = ≤25%): ≤2 of 8 files
      assert(touched <= 2, s"optimized scan should skip ≥75%, touched $touched/8")
      // control skips nothing — the contraction didn't do the work alone
      val pl = stats(s"$dir/plain")
      assert(pl.count(overlaps) == 32)
      // lossless: reading only intersecting files = the full filtered scan
      val boxPred = col("kx").between(xLo, xHi) && col("ky").between(yLo, yHi)
      val full = spark.read.parquet(s"$dir/opt").filter(boxPred)
        .select("id").as[Long].collect().toSet
      val keep = st.filter(overlaps).map(_.getString(0).stripPrefix("file:")).toSeq
      val pruned = spark.read.parquet(keep: _*).filter(boxPred)
        .select("id").as[Long].collect().toSet
      assert(pruned == full && full.nonEmpty,
        s"pruned scan must be exact: ${pruned.size} vs ${full.size}")
      // empty table: zero bins reported, single empty output partition
      val emptyInv = Seq.empty[(Long, Long)].toDF("file_id", "size_bytes")
      assert(LayoutOps.optimizeTable(keyed.limit(0), emptyInv,
        s"$dir/empty", "hilbert") == 0L)
      assert(spark.read.parquet(s"$dir/empty").isEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  /** Plain-JVM Skilling reference (AIP Conf. Proc. 707, 2004) — the
    * independent implementation [[LayoutOps.withHilbertN]] is checked
    * against, and the property harness for arbitrary d. */
  private def hilbertNRef(bits: Int, coords: Array[Long]): Long = {
    val d = coords.length
    val x = coords.clone()
    val m = 1L << (bits - 1)
    var q = m
    while (q > 1) {
      val p = q - 1
      for (i <- 0 until d) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
      }
      q >>= 1
    }
    for (i <- 1 until d) x(i) ^= x(i - 1)
    var t = 0L
    q = m
    while (q > 1) { if ((x(d - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    for (i <- 0 until d) x(i) ^= t
    var idx = 0L
    for (i <- 0 until d; qb <- 0 until bits)
      idx |= ((x(i) >> qb) & 1L) << (qb * d + (d - 1 - i))
    idx
  }

  test("hilbertNRef: bijection + continuity over full grids at d = 2, 3, 4") {
    for ((d, bits) <- Seq((2, 4), (3, 3), (4, 2))) {
      val n = 1 << bits
      val cells = Seq.fill(d)(0 until n).foldLeft(Seq(Seq.empty[Int])) {
        (acc, r) => acc.flatMap(c => r.map(c :+ _))
      }
      val byIdx = cells.map(c =>
        hilbertNRef(bits, c.map(_.toLong).toArray) -> c).toMap
      assert(byIdx.keySet == (0L until math.pow(n, d).toLong).toSet,
        s"d=$d bits=$bits: index must biject onto [0, n^d)")
      val jumps = (0L until math.pow(n, d).toLong - 1).count { i =>
        byIdx(i).zip(byIdx(i + 1)).map { case (a, b) => math.abs(a - b) }.sum != 1
      }
      assert(jumps == 0, s"d=$d bits=$bits: $jumps non-neighbor steps")
    }
  }

  test("withHilbertN matches the JVM Skilling reference on a full 8x8x8 grid; d=2 stays a valid curve") {
    import spark.implicits._
    val bits = 3
    val n = 1 << bits
    val grid = (for { x <- 0L until n; y <- 0L until n; z <- 0L until n }
      yield (x, y, z)).toDF("x", "y", "z")
    val got = LayoutOps.withHilbertN(grid,
        Seq(col("x"), col("y"), col("z")), bits, "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    for (((x, y, z), d) <- got)
      assert(d == hilbertNRef(bits, Array(x, y, z)),
        s"($x,$y,$z): got $d want ${hilbertNRef(bits, Array(x, y, z))}")
    // d=2 through the N-dim path is also a bijective continuous curve
    // (orientation may differ from the dedicated 2-D fold — both are
    // valid Hilbert curves; the layout property is what matters)
    val grid2 = (for { x <- 0L until 16L; y <- 0L until 16L } yield (x, y))
      .toDF("x", "y")
    val got2 = LayoutOps.withHilbertN(grid2, Seq(col("x"), col("y")), 4, "d")
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1))).toMap
    assert(got2.keySet == (0L until 256L).toSet)
    assert((0L until 255L).forall { i =>
      val (x1, y1) = got2(i); val (x2, y2) = got2(i + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) == 1
    })
  }

  test("mortonCodeN: reproduces the 2-D code bit-for-bit and interleaves d=3 correctly") {
    import spark.implicits._
    val df = Seq((3L, 5L, 1L), (65535L, 65535L, 65535L), (0L, 0L, 0L))
      .toDF("a", "b", "c")
      .withColumn("m2", LayoutOps.mortonCode(col("a"), col("b")))
      .withColumn("n2", LayoutOps.mortonCodeN(Seq(col("a"), col("b"))))
      .withColumn("n3", LayoutOps.mortonCodeN(Seq(col("a"), col("b"), col("c")), bits = 16))
    val rows = df.collect()
    assert(rows.forall(r => r.getAs[Long]("m2") == r.getAs[Long]("n2")),
      "d=2 N-code must equal the dedicated 2-D interleave")
    // (3, 5, 1): a bits {0,1} -> pos 0,3; b bits {0,2} -> pos 1,7;
    // c bit {0} -> pos 2 => 1 + 8 + 2 + 128 + 4 = 143
    assert(rows.find(_.getLong(0) == 3L).get.getAs[Long]("n3") == 143L)
    assert(rows.find(_.getLong(0) == 65535L).get.getAs[Long]("n3") == (1L << 48) - 1)
    // map-side like every layout op: no exchange in the d=3 lineitem form
    val plain = Seq((1L, 1, 5L, 7L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val plan3 = LayoutOps.zorder3Layout(plain).queryExecution.executedPlan.toString
    assert(!plan3.contains("Exchange"), s"zorder3 must not shuffle:\n$plan3")
    val planH3 = LayoutOps.hilbert3Layout(plain).queryExecution.executedPlan.toString
    assert(!planH3.contains("Exchange"), s"hilbert3 must not shuffle:\n$planH3")
  }

  test("hilbertLayout is map-side: no Exchange; block carves the index high bits") {
    import spark.implicits._
    val plain = Seq((1L, 1, 5L, 7L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val out = LayoutOps.hilbertLayout(plain, blockBits = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hilbert layout must not shuffle:\n$plan")
    val r = out.collect().head
    assert(r.getAs[Long]("block") == (r.getAs[Long]("hilbert") >>> 4))
  }
}
