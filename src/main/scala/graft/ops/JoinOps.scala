package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators Spark lacks natively, composed Spark-first from
  * built-ins (custom-operator preference (a) — no custom strategy needed):
  *
  *  - **As-of join**: each left row picks the latest right row with
  *    right_time <= left_time (inclusive), per key. Implemented as a
  *    tagged UNION + per-key window `last(..., ignoreNulls)` — one shuffle
  *    on the key, one per-key local sort, NO range/nested-loop join. At
  *    100 TB this beats the naive non-equi join (which plans as a
  *    broadcast-nested-loop or cartesian) by orders of magnitude; it is
  *    the standard "merge the streams" formulation.
  *
  *  - **Range join**: left value ∈ [lo, hi) against an interval table.
  *    Naively a non-equi join (BNLJ). Bucketized: intervals explode to the
  *    fixed-width buckets they overlap, facts compute their bucket, the
  *    join becomes an EQUI-join on bucket + residual filter — shuffle-
  *    partitionable, AQE-skew-splittable. Bucket width trades replication
  *    (intervals spanning many buckets) against selectivity.
  */
object JoinOps {

  /** Backward as-of join (inclusive). `left`/`right` must share `keyCol`;
    * times are comparable numerics; `valueCols` are carried from right.
    * Right-side ties on (key, time) resolve by largest `rightOrderCol`
    * (pass e.g. an event id for full determinism).
    *
    * All `valueCols` travel in ONE struct per right row: the struct is
    * non-null for every right row even when its value fields are NULL, so
    * `last(..., ignoreNulls)` always selects the genuinely latest right
    * row — a NULL value column propagates as NULL instead of leaking an
    * earlier row's value, and multiple valueCols can never mix rows.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               timeCol: String, rightOrderCol: String,
               valueCols: Seq[String]): DataFrame = {
    val rStruct = org.apache.spark.sql.types.StructType(valueCols.map(c =>
      org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)))
    val leftOther = left.columns.filterNot(c => c == keyCol || c == timeCol)
    val lTagged = left.select(
      (col(keyCol) +: col(timeCol) +: lit(0).as("__is_right") +:
        lit(null).cast("long").as("__ord") +:
        lit(null).cast(rStruct).as("__r") +:
        leftOther.map(col)): _*)
    val rTagged = right.select(
      (col(keyCol) +: col(timeCol) +: lit(1).as("__is_right") +:
        col(rightOrderCol).cast("long").as("__ord") +:
        struct(valueCols.map(col): _*).as("__r") +:
        leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    // right rows sort BEFORE left rows at equal time (inclusive as-of),
    // and among right ties the largest __ord wins (it is the last seen).
    val w = Window.partitionBy(keyCol)
      .orderBy(col(timeCol).asc, col("__is_right").desc, col("__ord").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = lTagged.unionByName(rTagged)
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
    merged.filter(col("__is_right") === 0)
      .select((col(keyCol) +: col(timeCol) +: leftOther.map(col)) ++
        valueCols.map(c => col("__asof").getField(c).as(s"asof_$c")): _*)
  }

  /** Bucketized range join: rows of `facts` matched to rows of
    * `intervals` where `lo <= value < hi`. `width` is the bucket size.
    */
  def rangeJoin(facts: DataFrame, valueCol: String,
                intervals: DataFrame, loCol: String, hiCol: String,
                width: Long): DataFrame = {
    val f = facts.withColumn("__bucket", floor(col(valueCol) / width))
    val iv = intervals.withColumn("__bucket", explode(sequence(
      floor(col(loCol) / width),
      // hi is exclusive: the last overlapped bucket is floor((hi-ulp)/W);
      // for integer-ish domains floor((hi-1)/W) — use hi/W and filter,
      // one extra bucket of replication at worst.
      floor(col(hiCol) / width))))
    f.join(iv, Seq("__bucket"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bucket")
  }

  /** INTERVAL-OVERLAP self-join — overlapping session pairs across
    * different users (the interval×interval sibling of [[rangeJoin]]'s
    * point×interval). Naively `a.s <= b.e AND b.s <= a.e` is a
    * BroadcastNestedLoopJoin over corpus² — the classic scale-killer.
    * Bucketized: each interval explodes to the fixed-width time CELLS it
    * covers, candidates meet by cell EQUI-join, and a pair is emitted
    * only in the FIRST cell both intervals cover
    * (`cell = greatest(a_start_cell, b_start_cell)` — the grid-join
    * dedup trick: no `distinct` shuffle, each true pair tested exactly
    * once). Verification is the exact overlap predicate; `overlap_us`
    * is pure integer arithmetic, so the naive-formulation DuckDB oracle
    * hash-matches bitwise.
    *
    * Scale: replication is (length/cellUs + 1) cells per interval and
    * candidate work is Σ_cell |cell|² — `cellUs` trades the two
    * (sessions here are ≤ ~3 h against 1 h cells). A pathological hot
    * cell (everyone online at the same hour) is the df-cap situation:
    * shrink `cellUs`, or salt the cell key (`SkewOps`) for the
    * verify-heavy variant; AQE skew-split handles moderate skew.
    *
    * Input: `sessions` as produced by `EventOps.sessionize`
    * (user_id, session_idx, start_us, end_us).
    */
  def sessionOverlapPairs(sessions: DataFrame,
                          cellUs: Long = 3600L * 1000 * 1000): DataFrame = {
    val cells = sessions.select(
      col("user_id"), col("session_idx"), col("start_us"), col("end_us"),
      expr(s"start_us div $cellUs").as("start_cell"),
      explode(expr(s"sequence(start_us div $cellUs, end_us div $cellUs)"))
        .as("cell"))
    val a = cells.select(col("cell"),
      col("user_id").as("a_user"), col("session_idx").as("a_session"),
      col("start_us").as("a_s"), col("end_us").as("a_e"),
      col("start_cell").as("a_start_cell"))
    val b = cells.select(col("cell"),
      col("user_id").as("b_user"), col("session_idx").as("b_session"),
      col("start_us").as("b_s"), col("end_us").as("b_e"),
      col("start_cell").as("b_start_cell"))
    a.join(b, Seq("cell"))
      .filter(col("a_user") < col("b_user") &&
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e") &&
        col("cell") === greatest(col("a_start_cell"), col("b_start_cell")))
      .select(col("a_user"), col("a_session"), col("b_user"), col("b_session"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("overlap_us"))
  }

}
