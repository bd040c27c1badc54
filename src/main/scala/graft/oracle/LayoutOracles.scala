package graft.oracle

/** DuckDB oracles of the layout family (`LayoutOps`): Z-order and
  * Hilbert keys, OPTIMIZE/compaction round trips and compaction plans.
  */
object LayoutOracles {

  /** The Morton (Z-order) key of `cols`: bit i of column j lands at
    * bit d·i + j, d = cols.size. */
  private def morton(cols: Seq[String], bits: Int): String = {
    val d = cols.size
    (for { (c, j) <- cols.zipWithIndex; i <- 0 until bits }
      yield s"((($c >> $i) & 1) << ${d * i + j})").mkString(" + ")
  }

  /** The lineitem keys with the 16-bit Morton key of `cols` and its
    * block (the key shifted right by `blockBits`). */
  private def zorderLayout(cols: Seq[String], blockBits: Int): String = {
    val m = morton(cols, 16)
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  CAST($m AS BIGINT) AS morton,
       |  CAST(($m) >> $blockBits AS BIGINT) AS block
       |FROM lineitem""".stripMargin
  }

  def zorderLayoutOracle(blockBits: Int = 10): String =
    zorderLayout(Seq("l_partkey", "l_suppkey"), blockBits)

  def zorder3LayoutOracle(blockBits: Int = 38): String =
    zorderLayout(Seq("l_partkey", "l_suppkey", "l_linenumber"), blockBits)

  /** Oracle generated FROM THE SAME three-phase loop as [[LayoutOps.withHilbertN]]
    * (the hilbert-oracle idiom): one CTE per inverse-undo step — the
    * exchange step inlines its `t` twice since both updates read only
    * pre-step values — then the Gray cascade and the final interleave
    * sum. DuckDB's xor() is the engine-independent exact-int xor.
    */
  def hilbert3LayoutOracle(blockBits: Int = 38, bits: Int = 16): String = {
    val d = 3
    val keys = "l_orderkey, l_linenumber, l_partkey, l_suppkey"
    val ctes = collection.mutable.ArrayBuffer.empty[String]
    var k = 0
    var q = (1L << bits) >> 1
    while (q > 1) {
      val p = q - 1
      for (i <- 0 until d) {
        k += 1
        val body =
          if (i == 0)
            s"""SELECT $keys,
               |  CASE WHEN (x0 & $q) != 0 THEN xor(x0, $p) ELSE x0 END AS x0,
               |  ${(1 until d).map(j => s"x$j").mkString(", ")}
               |FROM s${k - 1}""".stripMargin
          else {
            val rest = (1 until d).filter(_ != i).map(j => s"x$j")
            s"""SELECT $keys,
               |  CASE WHEN (x$i & $q) != 0 THEN xor(x0, $p)
               |       ELSE xor(x0, xor(x0, x$i) & $p) END AS x0,
               |  CASE WHEN (x$i & $q) != 0 THEN x$i
               |       ELSE xor(x$i, xor(x0, x$i) & $p) END AS x$i${
                 if (rest.nonEmpty) ",\n  " + rest.mkString(", ") else ""}
               |FROM s${k - 1}""".stripMargin
          }
        ctes += s"s$k AS (\n$body)"
      }
      q >>= 1
    }
    // Gray cascade: one CTE per dimension so each reads the updated prior
    for (i <- 1 until d) {
      k += 1
      val rest = (0 until d).filter(_ != i).map(j => s"x$j")
      ctes += s"""s$k AS (
        |SELECT $keys, ${rest.mkString(", ")}, xor(x$i, x${i - 1}) AS x$i
        |FROM s${k - 1})""".stripMargin
    }
    val tChain = {
      var e = "CAST(0 AS BIGINT)"
      var qq = (1L << bits) >> 1
      while (qq > 1) {
        e = s"xor($e, CASE WHEN (x${d - 1} & $qq) != 0 THEN ${qq - 1} ELSE 0 END)"
        qq >>= 1
      }
      e
    }
    k += 1
    ctes += s"""s$k AS (
      |SELECT $keys, ${(0 until d).map(j => s"x$j").mkString(", ")}, $tChain AS t
      |FROM s${k - 1})""".stripMargin
    k += 1
    ctes += s"""s$k AS (
      |SELECT $keys, ${(0 until d).map(j => s"xor(x$j, t) AS x$j").mkString(", ")}
      |FROM s${k - 1})""".stripMargin
    val interleave = (for { i <- 0 until d; qb <- 0 until bits }
      yield s"(((x$i >> $qb) & 1) << ${qb * d + (d - 1 - i)})").mkString(" + ")
    s"""WITH s0 AS (
       |  SELECT $keys,
       |    CAST(l_partkey AS BIGINT) AS x0,
       |    CAST(l_suppkey AS BIGINT) AS x1,
       |    CAST(l_linenumber AS BIGINT) AS x2
       |  FROM lineitem),
       |${ctes.mkString(",\n")}
       |SELECT $keys,
       |  CAST($interleave AS BIGINT) AS hilbert,
       |  CAST(($interleave) >> $blockBits AS BIGINT) AS block
       |FROM s$k""".stripMargin
  }

  /** Oracle CTE chain generated from the same per-level loop as
    * [[LayoutOps.withHilbert]] — one CTE per level carrying (h_x, h_y, hd). */
  def hilbertLayoutOracle(blockBits: Int = 10, bits: Int = 16): String = {
    val n = 1L << bits
    val levels = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, k) =>
      val s = 1L << i
      s"""h${k + 1} AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${n - 1} - h_y ELSE h_y END)
         |         ELSE h_x END AS h_x,
         |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${n - 1} - h_x ELSE h_x END)
         |         ELSE h_y END AS h_y,
         |    hd + ${s * s} * (3 * rx + ry - 2 * rx * ry) AS hd
         |  FROM (SELECT *,
         |          CASE WHEN (h_x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |          CASE WHEN (h_y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |        FROM h$k))""".stripMargin
    }
    s"""WITH h0 AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    CAST(l_partkey AS BIGINT) AS h_x, CAST(l_suppkey AS BIGINT) AS h_y,
       |    CAST(0 AS BIGINT) AS hd
       |  FROM lineitem),
       |${levels.mkString(",\n")}
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  CAST(hd AS BIGINT) AS hilbert,
       |  CAST(hd >> $blockBits AS BIGINT) AS block
       |FROM h$bits""".stripMargin
  }

  /** The whole loop in DuckDB, from the source table alone: the
    * [[compactionPlanOracle]] CTE chain — embedded VERBATIM as a
    * nested-WITH subquery (the outputDiff idiom: one derivation per
    * planner, so a planner change cannot silently diverge between the
    * two write-path oracles) — sizes nbins, the cumulative histogram
    * reproduces [[LayoutOps.writeClusteredExact]]'s assignment (both sides exact
    * integer `div`/`//` on non-negative longs), and the final group-by
    * is the read-back summary. */
  def optimizeRoundtripOracle(targetBytes: Long = 32 * 1024,
                              nFiles: Int = 97): String =
    s"""WITH c AS (
       |  SELECT CAST(${morton(Seq("(doc_id % 256)", "(n_chars % 256)"), 8)}
       |    AS BIGINT) AS curve
       |  FROM documents WHERE n_chars IS NOT NULL),
       |plan AS (
       |  SELECT bin FROM (
       |${compactionPlanOracle(targetBytes, nFiles)}
       |  ) p),
       |nb AS (SELECT CAST(GREATEST(COALESCE(max(bin) + 1, 0), 1) AS BIGINT)
       |  AS nbins FROM plan),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM c),
       |hist AS (SELECT curve, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1),
       |cum AS (
       |  SELECT curve, cnt,
       |    CAST(COALESCE(sum(cnt) OVER (ORDER BY curve
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS below
       |  FROM hist),
       |assigned AS (
       |  SELECT curve, cnt,
       |    CAST((below * (SELECT nbins FROM nb)) // (SELECT total FROM t)
       |      AS BIGINT) AS file_bin
       |  FROM cum)
       |SELECT file_bin, CAST(sum(cnt) AS BIGINT) AS n_rows,
       |  CAST(min(curve) AS BIGINT) AS min_curve,
       |  CAST(max(curve) AS BIGINT) AS max_curve
       |FROM assigned GROUP BY 1""".stripMargin

  /** The compaction loop in DuckDB from the source table alone:
    * [[compactionPlanOracle]]'s CTE chain is embedded verbatim (one
    * derivation per planner — the outputDiff idiom), rows join the plan
    * on their derived file_id, and `n_files` is the literal 1 the
    * one-file-per-bin writer contract promises. */
  def compactionRoundtripOracle(targetBytes: Long = 128 * 1024,
                                nFiles: Int = 97): String =
    s"""WITH plan AS (
       |SELECT file_id, bin FROM (
       |${compactionPlanOracle(targetBytes, nFiles)}
       |) p)
       |SELECT p.bin, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(1 AS BIGINT) AS n_files,
       |  CAST(min(d.doc_id) AS BIGINT) AS min_doc,
       |  CAST(max(d.doc_id) AS BIGINT) AS max_doc,
       |  CAST(sum(d.n_chars) AS BIGINT) AS chars_total
       |FROM documents d JOIN plan p ON CAST(d.doc_id % $nFiles AS BIGINT) = p.file_id
       |GROUP BY 1""".stripMargin

  /** Same inventory + quota-fill window in DuckDB. Both sides use EXACT
    * integer division (Spark `div`, DuckDB `//`) — not double division,
    * whose correctly-rounded quotient can land ON the next integer when
    * bin indices approach 2^36 (half-ulp ≈ 1/target there), i.e. exactly
    * the 100 TB-inventory regime this planner exists for. */
  def compactionPlanOracle(targetBytes: Long = 128 * 1024, nFiles: Int = 97): String =
    s"""WITH inv AS (
       |  SELECT CAST(doc_id % $nFiles AS BIGINT) AS file_id,
       |    CAST(sum(n_chars) AS BIGINT) AS size_bytes
       |  FROM documents GROUP BY 1),
       |w AS (
       |  SELECT file_id, size_bytes,
       |    CAST(COALESCE(sum(size_bytes) OVER (
       |      ORDER BY size_bytes DESC, file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM inv)
       |SELECT file_id, size_bytes,
       |  CAST(dense_rank() OVER (ORDER BY cum_before // $targetBytes) - 1
       |    AS BIGINT) AS bin
       |FROM w""".stripMargin
}
