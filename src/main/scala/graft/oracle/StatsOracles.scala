package graft.oracle

import graft.ops.StatsOps.{defaultConstraints, routeConstraints}

/** DuckDB oracles of the statistics family (`StatsOps`, `SkewOps`):
  * correlations, quantiles, profiles, drift and constraint checks.
  */
object StatsOracles {

  /** Same two-level aggregate in DuckDB; sum(BIGINT)→HUGEINT cast back
    * before use so both engines see the same int64s. */
  def skewReportOracle(table: String = "lineitem", key: String = "l_partkey"): String =
    s"""WITH per AS (
       |  SELECT $key, count(*) AS per_key FROM $table GROUP BY 1),
       |a AS (
       |  SELECT count(*) AS n_keys,
       |    CAST(COALESCE(sum(per_key), 0) AS BIGINT) AS n_rows,
       |    min(per_key) AS min_per_key, max(per_key) AS max_per_key
       |  FROM per)
       |SELECT '$key' AS key_col,
       |  CAST(n_keys AS BIGINT) AS n_keys, n_rows,
       |  CAST(min_per_key AS BIGINT) AS min_per_key,
       |  CAST(max_per_key AS BIGINT) AS max_per_key,
       |  CAST(n_rows AS DOUBLE) / NULLIF(CAST(n_keys AS DOUBLE), 0.0)
       |    AS mean_per_key,
       |  CAST(max_per_key AS DOUBLE)
       |    / (CAST(n_rows AS DOUBLE) / NULLIF(CAST(n_keys AS DOUBLE), 0.0))
       |    AS skew_factor,
       |  CAST(ceil(CAST(max_per_key AS DOUBLE)
       |    / (CAST(n_rows AS DOUBLE) / NULLIF(CAST(n_keys AS DOUBLE), 0.0)))
       |    AS BIGINT) AS recommended_salt
       |FROM a""".stripMargin

  /** Identical moment sums and IEEE op sequence in DuckDB. sum(BIGINT)
    * returns HUGEINT there — cast back to BIGINT before the double
    * conversion so both engines convert the same int64. */
  val statsCorrOracle: String =
    """WITH cents AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS xc,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
      |    CAST(sum(xc * xc) AS BIGINT) AS sxx,
      |    CAST(sum(yc * yc) AS BIGINT) AS syy,
      |    CAST(sum(xc * yc) AS BIGINT) AS sxy
      |  FROM cents GROUP BY 1),
      |f AS (
      |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS fn,
      |    CAST(sx AS DOUBLE) AS fx, CAST(sy AS DOUBLE) AS fy, CAST(sxx AS DOUBLE) AS fxx,
      |    CAST(syy AS DOUBLE) AS fyy, CAST(sxy AS DOUBLE) AS fxy
      |  FROM m)
      |SELECT l_returnflag, n,
      |  (fn * fxy - fx * fy) / (sqrt(fn * fxx - fx * fx) * sqrt(fn * fyy - fy * fy))
      |    AS corr_qty_price,
      |  ((fxy - fx * fy / fn) / fn) / 10000.0 AS covar_pop,
      |  (fn * fxy - fx * fy) / (fn * fxx - fx * fx) AS slope,
      |  ((fy - ((fn * fxy - fx * fy) / (fn * fxx - fx * fx)) * fx) / fn) / 100.0 AS intercept
      |FROM f""".stripMargin

  def outliersOracle(nSigma: Double = 1.5): String =
    s"""WITH cents AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
       |  FROM lineitem),
       |m AS (
       |  SELECT l_returnflag,
       |    CAST(CAST(sum(yc) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |      AS mean_c,
       |    sqrt((CAST(CAST(sum(yc * yc) AS BIGINT) AS DOUBLE)
       |          - CAST(CAST(sum(yc) AS BIGINT) AS DOUBLE)
       |            * CAST(CAST(sum(yc) AS BIGINT) AS DOUBLE)
       |            / CAST(count(*) AS DOUBLE))
       |         / CAST(count(*) AS DOUBLE)) AS sd_c
       |  FROM cents GROUP BY 1)
       |SELECT l_returnflag, count(*) AS n_outliers,
       |  CAST(min(yc) AS DOUBLE) / 100.0 AS min_price,
       |  CAST(max(yc) AS DOUBLE) / 100.0 AS max_price
       |FROM cents JOIN m USING (l_returnflag)
       |WHERE abs(CAST(yc AS DOUBLE) - mean_c) > $nSigma * sd_c
       |GROUP BY 1""".stripMargin

  val quantilesOracle: String =
    """SELECT l_returnflag, count(*) AS n,
      |  quantile_cont(l_quantity, 0.25) AS q25,
      |  quantile_cont(l_quantity, 0.5) AS median,
      |  quantile_cont(l_quantity, 0.75) AS q75
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Same single-scan wide aggregate in DuckDB, unpivoted by a UNION ALL
    * over the 1-row CTE (each branch is a constant projection — DuckDB
    * scans once). sum(BIGINT) is HUGEINT there — cast back before the
    * double conversion so both engines convert the same int64. */
  def dataProfileOracle(table: String = "documents",
                        numCols: Seq[String] = Seq("doc_id", "n_chars"),
                        strCols: Seq[String] = Seq("text", "lang", "source")): String = {
    val allCols = numCols ++ strCols
    val aggSelects =
      Seq("count(*) AS n_rows") ++
        allCols.flatMap { c =>
          Seq(s"count($c) AS nn_$c", s"count(DISTINCT $c) AS nd_$c")
        } ++
        numCols.flatMap { c =>
          Seq(s"CAST(min($c) AS DOUBLE) AS mn_$c",
            s"CAST(max($c) AS DOUBLE) AS mx_$c",
            s"CAST(sum(CAST(round($c * 100) AS BIGINT)) AS BIGINT) AS sc_$c")
        }
    val branches = allCols.map { c =>
      val isNum = numCols.contains(c)
      val mn = if (isNum) s"mn_$c" else "CAST(NULL AS DOUBLE)"
      val mx = if (isNum) s"mx_$c" else "CAST(NULL AS DOUBLE)"
      val mean =
        if (isNum)
          s"(CAST(sc_$c AS DOUBLE) / 100.0) / NULLIF(CAST(nn_$c AS DOUBLE), 0.0)"
        else "CAST(NULL AS DOUBLE)"
      s"""SELECT '$c' AS col_name, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(nn_$c AS BIGINT) AS n_nonnull,
         |  CAST(n_rows - nn_$c AS BIGINT) AS n_nulls,
         |  CAST(nn_$c AS DOUBLE) / NULLIF(CAST(n_rows AS DOUBLE), 0.0) AS completeness,
         |  CAST(nd_$c AS BIGINT) AS n_distinct,
         |  $mn AS min_num, $mx AS max_num, $mean AS mean_num
         |FROM a""".stripMargin
    }
    s"WITH a AS (SELECT ${aggSelects.mkString(", ")} FROM $table)\n" +
      branches.mkString("\nUNION ALL\n")
  }

  /** Same split/bucket/term arithmetic in DuckDB. epoch_us is the exact
    * integer microsecond form on both engines; integer midpoint via `//`
    * mirrors Spark's long division. */
  def driftCheckOracle(width: Double = 50.0): String =
    s"""WITH b AS (
       |  SELECT (min(epoch_us(ts)) +
       |          (max(epoch_us(ts)) - min(epoch_us(ts))) // 2) AS mid
       |  FROM events),
       |sided AS (
       |  SELECT CAST(floor(value / $width) AS BIGINT) AS bucket,
       |    CASE WHEN epoch_us(ts) <= (SELECT mid FROM b) THEN 1 ELSE 0 END AS is_a
       |  FROM events),
       |$driftTail""".stripMargin

  /** The χ² drift terms over `sided(bucket, is_a)`: per-bucket counts of
    * the two halves, their shares p_a/p_b and (p_a − p_b)² / mean. */
  private val driftTail: String =
    """counts AS (
      |  SELECT bucket, CAST(sum(is_a) AS BIGINT) AS n_a,
      |    CAST(sum(1 - is_a) AS BIGINT) AS n_b
      |  FROM sided GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
      |    CAST(sum(n_b) AS BIGINT) AS tot_b FROM counts),
      |p AS (
      |  SELECT bucket, n_a, n_b,
      |    CAST(n_a AS DOUBLE) / NULLIF(CAST(tot_a AS DOUBLE), 0.0) AS p_a,
      |    CAST(n_b AS DOUBLE) / NULLIF(CAST(tot_b AS DOUBLE), 0.0) AS p_b
      |  FROM counts, tot)
      |SELECT bucket, n_a, n_b, p_a, p_b,
      |  (p_a - p_b) * (p_a - p_b) / ((p_a + p_b) / 2.0) AS contrib
      |FROM p""".stripMargin

  /** DuckDB twin: quantile_cont over the same integer cents (bitwise
    * equal to the frequency-weighted Spark percentile — identical
    * multiset), the same strict-greater boundary count (NULL keeps its
    * own bucket on both sides), the same midpoint split and χ² tail as
    * [[driftCheckOracle]]. */
  def driftCheckQuantileOracle(nBins: Int = 8): String = {
    val ps = (1 until nBins).map(k => k.toDouble / nBins)
    s"""WITH cents AS (
       |  SELECT epoch_us(ts) AS t_us,
       |    CAST(round(value * 100) AS BIGINT) AS vc
       |  FROM events),
       |q AS (
       |  SELECT quantile_cont(vc, [${ps.mkString(", ")}]) AS bs FROM cents),
       |b AS (
       |  SELECT (min(t_us) + (max(t_us) - min(t_us)) // 2) AS mid FROM cents),
       |sided AS (
       |  SELECT CASE WHEN vc IS NULL THEN NULL
       |              ELSE CAST(len(list_filter(bs, x -> vc > x)) AS BIGINT)
       |         END AS bucket,
       |    CASE WHEN t_us <= (SELECT mid FROM b) THEN 1 ELSE 0 END AS is_a
       |  FROM cents, q),
       |$driftTail""".stripMargin
  }

  /** Oracle for the registered pair (the dup-injected corpus vs its
    * boilerplate-stripped rewrite — removed/changed/unchanged all
    * populated): the a-side is the shared `augmentedSql` CTE and the
    * b-side is the ENTIRE [[DedupOracles.boilerplateStripOracle]]
    * text embedded as a nested-WITH CTE subquery — one derivation per
    * side, zero drift. */
  def outputDiffBoilerplateOracle: String =
    s"""WITH ${DedupOracles.augmentedSql},
       |b AS (
       |${DedupOracles.boilerplateStripOracle()}
       |),
       |d AS (
       |  SELECT CASE WHEN in_a IS NULL THEN 'added'
       |              WHEN in_b IS NULL THEN 'removed'
       |              WHEN md5(a.text) IS NOT DISTINCT FROM md5(b.text_clean)
       |                THEN 'unchanged'
       |              ELSE 'changed' END AS status
       |  FROM (SELECT doc_id, text, 1 AS in_a FROM corpus) a
       |  FULL OUTER JOIN (SELECT *, 1 AS in_b FROM b) b
       |    ON a.doc_id = b.doc_id)
       |SELECT status, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1""".stripMargin
  // ^ presence markers (in_a/in_b), NOT key nullness: a NULL-keyed a-side
  //   row is unmatched (NULL keys never join) and must count 'removed' on
  //   both engines — key-null CASE branches would call it 'added'

  /** DuckDB twin: quantile_cont over the same integer cents (bitwise
    * equal to Spark's `percentile`, proven by [[StatsOps.quantiles]]), the same
    * strict-greater boundary count via list_filter. */
  def quantileBinsOracle(nBins: Int = 8): String = {
    val ps = (1 until nBins).map(k => k.toDouble / nBins)
    s"""WITH cents AS (
       |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS yc FROM lineitem),
       |b AS (
       |  SELECT quantile_cont(yc, [${ps.mkString(", ")}]) AS bs FROM cents),
       |assigned AS (
       |  SELECT yc,
       |    CAST(len(list_filter(bs, x -> yc > x)) AS BIGINT) AS bin
       |  FROM cents, b)
       |SELECT bin, count(*) AS n,
       |  CAST(min(yc) AS DOUBLE) / 100.0 AS min_price,
       |  CAST(max(yc) AS DOUBLE) / 100.0 AS max_price
       |FROM assigned GROUP BY 1""".stripMargin
  }

  /** DuckDB mirror with the SAME extended-domain hardening: the per-row
    * product is computed as HUGEINT (a bare `yc * yc` BIGINT multiply
    * raises a DuckDB overflow at cents > ~3e9 — the sum()'s HUGEINT
    * promotion happens AFTER the product), both sums convert
    * HUGEINT → DOUBLE directly (the same correctly-rounded conversion of
    * the same exact integer as Spark's DECIMAL path), and the radicand
    * carries the same greatest(·, 0) clamp. */
  val zscoreNormalizeOracle: String =
    """WITH cents AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag,
      |    CAST(sum(yc) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      AS mean_c,
      |    sqrt(greatest(
      |      (CAST(sum(CAST(yc AS HUGEINT) * yc) AS DOUBLE)
      |          - CAST(sum(yc) AS DOUBLE)
      |            * CAST(sum(yc) AS DOUBLE)
      |            / CAST(count(*) AS DOUBLE))
      |         / CAST(count(*) AS DOUBLE), 0.0)) AS sd_c
      |  FROM cents GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l_returnflag,
      |  (CAST(yc AS DOUBLE) - mean_c) / NULLIF(sd_c, 0.0) AS z
      |FROM cents JOIN m USING (l_returnflag)""".stripMargin

  def constraintRouteOracle(table: String = "lineitem",
                            constraints: Seq[(String, String)] = routeConstraints): String = {
    val cases = constraints.map { case (name, cond) =>
      s"CASE WHEN ($cond) IS NOT TRUE THEN '$name' END"
    }.mkString(", ")
    s"""WITH flagged AS (
       |  SELECT l_orderkey, l_linenumber,
       |    array_to_string(list_filter([$cases], x -> x IS NOT NULL), ',')
       |      AS violations
       |  FROM $table)
       |SELECT l_orderkey, l_linenumber, violations
       |FROM flagged WHERE violations <> ''""".stripMargin
  }

  def constraintCheckOracle(table: String = "lineitem",
                            constraints: Seq[(String, String)] = defaultConstraints): String = {
    val aggSelects =
      Seq("count(*) AS n_rows") ++ constraints.zipWithIndex.map {
        case ((_, cond), i) =>
          s"CAST(COALESCE(sum(CASE WHEN $cond THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_$i"
      }
    val branches = constraints.zipWithIndex.map { case ((name, _), i) =>
      s"""SELECT '$name' AS c_name, CAST(n_rows AS BIGINT) AS n_rows,
         |  v_$i AS n_violations,
         |  CASE WHEN v_$i = 0 THEN 'pass' ELSE 'fail' END AS status
         |FROM a""".stripMargin
    }
    s"WITH a AS (SELECT ${aggSelects.mkString(", ")} FROM $table)\n" +
      branches.mkString("\nUNION ALL\n")
  }
}
