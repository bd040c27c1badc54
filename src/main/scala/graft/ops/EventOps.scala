package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operators over the `events` table — the engine's stand-in for a Kafka
  * record stream in batch form (SURVEY.md §2.3 F5, §7 B8a/B11).
  *
  * All stages are built from codegen'd built-ins; the aggregations get
  * map-side partial aggregation, so at 100 TB the shuffle carries
  * (key, partial) pairs bounded by key cardinality × partitions, not rows.
  */
object EventOps {

  /** F5 — projection + cast, the reference's `selectExpr("CAST(value AS
    * STRING)")` (spark/kafka/App.java:74) applied to the events stream:
    * event_id plays the Kafka key, props the value.
    */
  def castProject(events: DataFrame): DataFrame =
    events.select(
      col("event_id").cast("string").as("key"),
      col("props").as("value"))

  /** B8a — exact dedup of the event stream on its semantic key
    * (user_id, event_type), keeping the earliest event_id. GroupBy-min
    * rather than window-row_number: one shuffle, full map-side partial
    * aggregation, no per-group sort — the cheaper plan at scale.
    */
  def dedupExact(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type")
      .agg(min("event_id").as("first_event_id"),
        count(lit(1)).as("n_events"))

  /** B11 — JSON property extraction from the untyped `props` column
    * (events.props carries {"k": N}), the engine's get_json_object path.
    */
  def jsonExtract(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** Batch sessionization: per-user sessions split on event-time gaps
    * > gapUs (ts is raw nanos — see Tables.table). Pure integer window
    * arithmetic (lag → gap flag → running sum), deterministic tiebreak on
    * event_id, per-user partitioned windows — the sort is local to each
    * user's partition, never global.
    */
  def sessionize(events: DataFrame, gapUs: Long = 3600L * 1000 * 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ts is raw NANOS; work in micros (ts div 1000) — DuckDB's TIMESTAMP
    // is micro-precision, so the oracle can only see micros.
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"))
  }

  /** Sketch surface — approximate distinct users per event type via
    * Spark's native HyperLogLog++ (`approx_count_distinct`). Sketches are
    * THE cardinality tool at 100 TB (exact distinct = full shuffle of the
    * key space; HLL++ is a few KB per group, mergeable, one pass). No SQL
    * oracle: HLL estimates are implementation-specific, so the driver's
    * weaker rows-only check applies — the exact-count twin
    * [[dedupExact]]-style `events_json_agg` stays the correctness anchor.
    */
  def approxUsersByType(events: DataFrame, rsd: Double = 0.05): DataFrame =
    // HLL partials are sketch-sized per (partition, group) — see
    // [[Sketch.coalesceToCores]] for the measured cores-width rule
    Sketch.coalesceToCores(events)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        count(lit(1)).as("n_events"))

  /** Tumbling event-time window aggregation via Spark's native
    * `window()` — the SAME operator Structured Streaming uses for
    * watermarked windowed aggs, exercised here in batch (identical
    * semantics, epoch-aligned micros arithmetic). Emits window start as
    * BIGINT micros: bitwise-stable across compare harnesses, and what a
    * downstream join key should be anyway. One shuffle, map-side partial
    * aggregation; window assignment is a projection (no explode for
    * tumbling).
    */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("ts_utc"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_k"))

  /** Sliding (hopping) event-time window: width 1h, slide 30m — each
    * event lands in width/slide = 2 windows (Spark expands via an
    * internal explode, shuffle volume = rows × overlap; bounded and
    * linear, the standard hopping-window cost).
    */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("ts_utc"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"))

  /** Set difference — users active in the first half of the window but
    * silent in the second (churn). `except` is a real relational
    * operator, not client-side set math: Spark plans distinct + LEFT
    * ANTI hash join, shuffling only distinct user ids.
    */
  private def behaviorKeys(events: DataFrame): (DataFrame, DataFrame) = {
    // Behavior key = (user, type, value band): fine-grained enough that
    // the set difference is non-empty at every scale (user-level alone
    // saturates — all users touch both halves). floor() of the same
    // stored double is exact in any engine.
    val us = events.select(
      expr("ts div 1000").as("ts_us"), col("user_id"), col("event_type"),
      floor(col("value")).cast("long").as("value_band"))
    val midUs = 1705363200000000L
    (us.filter(col("ts_us") < midUs).select("user_id", "event_type", "value_band"),
      us.filter(col("ts_us") >= midUs).select("user_id", "event_type", "value_band"))
  }

  def churnedUsers(events: DataFrame): DataFrame = {
    val (first, second) = behaviorKeys(events)
    first.except(second)
  }

  /** Set intersection — behaviors present in BOTH halves (retention).
    * Plans distinct + LEFT SEMI hash join.
    */
  def retainedUsers(events: DataFrame): DataFrame = {
    val (first, second) = behaviorKeys(events)
    first.intersect(second)
  }

  /** B11 — aggregate over the extracted JSON property. Integer sums only
    * (double sums are partition-order dependent and would break the
    * bitwise oracle compare).
    */
  def jsonAgg(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))

  /** Funnel conversion: for every purchase, the latest preceding view by
    * the same user (inclusive), and whether it falls inside the
    * conversion window. COMPOSES [[JoinOps.asofJoin]] — the union+window
    * merge, one shuffle on user_id, no range join — rather than
    * reimplementing the sequence-match; the oracle is DuckDB's NATIVE
    * ASOF JOIN (an independent engine formulation, not a mirror).
    */
  def funnelConversion(events: DataFrame,
                       windowUs: Long = 3600L * 1000 * 1000): DataFrame = {
    val e = events.withColumn("ts_us", expr("ts div 1000"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("ts_us").as("v_ts"))
    JoinOps.asofJoin(purchases, views, "user_id", "ts_us", "event_id",
        Seq("v_ts"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_v_ts").as("last_view_us"),
        when(col("asof_v_ts").isNotNull &&
          col("ts_us") - col("asof_v_ts") <= windowUs, 1L).otherwise(0L)
          .as("converted"))
  }

  /** CDC changelog apply — the lakehouse MERGE shape. The events stream is
    * read as a changelog keyed by `user_id`: `event_type = 'error'` is a
    * delete tombstone, every other type upserts `value` as the new account
    * balance. The LATEST change per key (event-time order, event_id
    * tiebreak) is applied to the customer snapshot keyed by `c_custkey`:
    * untouched base rows pass through (`last_op` NULL), updated rows carry
    * the changed balance, changelog keys absent from the base become
    * inserts (`c_name` NULL), and keys whose latest change is a tombstone
    * are dropped.
    *
    * Scale design: latest-per-key is one window shuffle over the DELTA
    * (delta-sized, not base-sized), then ONE key-partitioned full-outer
    * join against the snapshot — exactly what Delta/Iceberg MERGE
    * executes. The production optimization on top is file-level pruning
    * (probe the delta keys against per-file min/max zone maps — see
    * [[LayoutOps.writeClustered]] — so only touched files rewrite); the
    * join itself is the irreducible cost and is key-partitioned, never
    * broadcast (FULL OUTER cannot build a one-sided hash table without
    * losing the other side's unmatched rows). The survivor filter keeps
    * NULL `last_op` rows, so Catalyst correctly does NOT push it below
    * the join (a pushdown would resurrect tombstoned base rows). Carried
    * values are byte-passthrough — no arithmetic — so the oracle
    * hash-matches bitwise.
    */
  def cdcUpsert(events: DataFrame, customer: DataFrame): DataFrame = {
    // one shared latest-per-key derivation with the incremental path
    // ([[cdcApplyChanges]]) — the two forms are asserted equivalent, so
    // the tiebreak/tombstone rules must live in exactly one place
    val latest = latestChanges(events)
      .select(col("chg_key"), col("chg_op").as("last_op"), col("new_bal"))
    customer
      .select(col("c_custkey").as("base_key"), col("c_name"), col("c_acctbal"))
      .join(latest, col("base_key") === col("chg_key"), "full_outer")
      .filter(col("last_op").isNull || col("last_op") =!= "delete")
      .select(
        coalesce(col("base_key"), col("chg_key")).as("key"),
        col("c_name"),
        when(col("last_op") === "upsert", col("new_bal"))
          .otherwise(col("c_acctbal")).as("acctbal"),
        col("last_op"))
  }

  /** Latest change per key for one changelog slice, retaining the
    * (ts_us, event_id) ordering tuple so later slices can arbitrate
    * against already-applied changes.
    */
  private def latestChanges(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    events
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("chg_key"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("chg_op"),
        col("value").as("new_bal"),
        col("ts_us").as("chg_ts_us"),
        col("event_id").as("chg_event_id"))
  }

  /** The [[cdcUpsert]] snapshot in INCREMENTAL form: base rows carry a
    * NULL applied-change tuple; every applied change records its
    * (op, ts_us, event_id) so later slices can lose to it.
    */
  def cdcInitSnapshot(customer: DataFrame): DataFrame =
    customer.select(col("c_custkey").as("key"), col("c_name"),
      col("c_acctbal").as("acctbal"),
      lit(null).cast("string").as("last_op"),
      lit(null).cast("long").as("last_ts_us"),
      lit(null).cast("long").as("last_event_id"))

  /** One incremental MERGE step — apply a changelog SLICE to a snapshot.
    * The snapshot RETAINS delete tombstones (with their ordering tuple):
    * that is what makes slice application ORDER-INSENSITIVE — a late
    * slice carrying an older upsert for a deleted key loses the
    * (ts_us, event_id) comparison instead of resurrecting the row, so
    * folding any partition of the changelog in any order yields the
    * same snapshot as one-shot [[cdcUpsert]] over the whole changelog
    * (the registered `cdc_upsert_incremental` query proves this against
    * the SAME DuckDB oracle as the one-shot form). Production systems
    * expire tombstones after a retention window bounded by the maximum
    * slice lag; here they are retained indefinitely.
    *
    * Scale shape: per step, one delta-sized window + one
    * key-partitioned full-outer join — the nightly-MERGE-batch plan,
    * repeated per slice.
    */
  def cdcApplyChanges(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    val latest = latestChanges(changes)
    val chgWins = col("chg_key").isNotNull && (col("last_ts_us").isNull ||
      struct(col("chg_ts_us"), col("chg_event_id")) >
        struct(col("last_ts_us"), col("last_event_id")))
    snapshot.join(latest, col("key") === col("chg_key"), "full_outer")
      .select(
        coalesce(col("key"), col("chg_key")).as("key"),
        col("c_name"),
        when(chgWins,
          when(col("chg_op") === "upsert", col("new_bal"))
            .otherwise(lit(null).cast("double")))
          .otherwise(col("acctbal")).as("acctbal"),
        when(chgWins, col("chg_op")).otherwise(col("last_op")).as("last_op"),
        when(chgWins, col("chg_ts_us")).otherwise(col("last_ts_us"))
          .as("last_ts_us"),
        when(chgWins, col("chg_event_id")).otherwise(col("last_event_id"))
          .as("last_event_id"))
  }

  /** The queryable face of an incremental snapshot: tombstones hidden,
    * columns exactly those of one-shot [[cdcUpsert]].
    */
  def cdcCurrentView(snapshot: DataFrame): DataFrame =
    snapshot.filter(col("last_op").isNull || col("last_op") =!= "delete")
      .select("key", "c_name", "acctbal", "last_op")

  /** SCD TYPE-2 history — the versioned complement of [[cdcUpsert]]'s
    * latest-snapshot: every upsert in the changelog becomes a dimension
    * VERSION with a validity interval [valid_from_us, valid_to_us), the
    * warehouse shape that lets a fact row join "the balance AS OF its
    * own timestamp". Interval rules (the standard ones):
    *
    *  - a version's valid_to is the NEXT change's timestamp for that
    *    key — whether that change is another upsert or a delete
    *    (tombstones CLOSE the open interval without opening one, so a
    *    trailing delete leaves the key with no current row);
    *  - the open interval carries the conventional max-sentinel
    *    (Long.MaxValue, the '9999-12-31' of epoch micros) instead of
    *    NULL — `is_current` = sentinel. Sentinel, not NULL, on purpose:
    *    range predicates (`from <= t AND t < to`) need no null branch,
    *    and the driver's hash compare is representation-fragile on
    *    nullable BIGINT (pandas <NA> vs DuckDB NaN);
    *  - ties on ts break by event_id — same total order as
    *    [[cdcUpsert]]'s `latestChanges`, so snapshot and history can
    *    never disagree on which change is "last".
    *
    * Scale shape: ONE user-keyed shuffle; lead() runs inside each
    * key partition (per-key local sort, never global). The CDC-family
    * class — identical exchange profile to [[cdcUpsert]].
    */
  def scd2History(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    events
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("valid_to_us",
        coalesce(lead(col("ts_us"), 1).over(w), lit(Long.MaxValue)))
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("value").as("bal"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        (col("valid_to_us") === Long.MaxValue).as("is_current"))
  }

  /** Multi-step ordered funnel — the k-step generalization of
    * [[funnelConversion]]'s 2-step as-of: for each user, the GREEDY
    * earliest completion of the step sequence (t1 = first step-1 event;
    * t_i = first step-i event strictly after t_{i-1}), and whether the
    * whole sequence completed within `windowUs` of t1. The greedy
    * earliest chain is the standard funnel semantics (Amplitude-style
    * "in order" conversion) and is deterministic — pure integer
    * event-time micros, so DuckDB reproduces it exactly.
    *
    * Scale shape: one aggregation per step plus a user-keyed join each —
    * ALL keyed on user_id, so the shuffles co-partition and AQE
    * coalesces them in practice; per-step state is one timestamp per
    * user (never the event list). Users that never reach step 1 are
    * absent; later steps left-join so partial funnels surface with NULL
    * step times and converted = 0.
    */
  def funnelSteps(events: DataFrame,
                  steps: Seq[String] = Seq("signup", "click", "purchase"),
                  windowUs: Long = 24L * 3600 * 1000 * 1000): DataFrame = {
    require(steps.nonEmpty, "funnelSteps needs at least one step")
    val e = events.select(col("user_id"), col("event_type"),
      expr("ts div 1000").as("ts_us"))
    val first = e.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val chained = steps.zipWithIndex.tail.foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"t$i"
        val cur = s"t${i + 1}"
        val next = e.filter(col("event_type") === step)
          .join(acc.select(col("user_id"), col(prev)), Seq("user_id"))
          .filter(col("ts_us") > col(prev))
          .groupBy("user_id").agg(min("ts_us").as(cur))
        acc.join(next.select(col("user_id"), col(cur)), Seq("user_id"), "left")
    }
    val last = s"t${steps.length}"
    chained.withColumn("converted",
      when(col(last).isNotNull && col(last) - col("t1") <= windowUs, 1L)
        .otherwise(0L))
  }

  /** Retention cohorts: users grouped by first-activity week, distinct
    * active users per (cohort, week offset). Pure integer epoch-week
    * arithmetic (no calendar functions — exact on every engine). Two
    * shuffles on user_id (cohort agg + join back — co-partitioned, AQE
    * merges them in practice), then a count-distinct whose partial
    * distinct bounds the final shuffle by |cohorts × offsets|.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val weeks = events.select(col("user_id"),
      expr(s"(ts div 1000) div $weekUs").as("week"))
    val cohorts = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
    weeks.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

}
