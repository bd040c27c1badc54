package graft.oracle

/** DuckDB oracles of the event family (`EventOps`, `JoinOps` over
  * events): windows, sessions, funnels, CDC and SCD2 history, set
  * operations and the event joins. Event times are epoch nanos on the
  * Spark side; the oracles work in DuckDB's microsecond timestamps.
  */
object EventOracles {

  val sessionizeOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w > 3600000000 THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sessions AS (
      |  SELECT user_id, ts_us,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |  min(ts_us) AS start_us, max(ts_us) AS end_us
      |FROM sessions GROUP BY 1, 2""".stripMargin

  /** Oracle: epoch-aligned floor division in micros — an independent
    * integer-arithmetic formulation of the same window assignment.
    */
  val tumblingCountsOracle: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sliding oracle: each event contributes to the 2 slide-aligned
    * windows covering it (i = 0 is the window starting at its own slide
    * bucket, i = 1 the one 30m earlier).
    */
  val slidingCountsOracle: String =
    """SELECT ((epoch_us(ts) // 1800000000) - i) * 1800000000 AS window_start_us,
      |  event_type, count(*) AS n_events
      |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i)
      |GROUP BY 1, 2""".stripMargin

  private val behaviorKeysSql =
    """SELECT user_id, event_type, CAST(floor(value) AS BIGINT) AS value_band
      |FROM events WHERE epoch_us(ts)""".stripMargin

  val churnedUsersOracle: String =
    s"""$behaviorKeysSql < 1705363200000000
       |EXCEPT
       |$behaviorKeysSql >= 1705363200000000""".stripMargin

  val retainedUsersOracle: String =
    s"""$behaviorKeysSql < 1705363200000000
       |INTERSECT
       |$behaviorKeysSql >= 1705363200000000""".stripMargin

  def funnelConversionOracle(windowUs: Long = 3600L * 1000 * 1000): String =
    s"""WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events),
      |v AS (
      |  SELECT user_id, ts_us, max(ts_us) AS v_ts
      |  FROM e WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts_us,
      |  v.v_ts AS last_view_us,
      |  CAST(CASE WHEN v.v_ts IS NOT NULL
      |    AND p.ts_us - v.v_ts <= $windowUs THEN 1 ELSE 0 END AS BIGINT)
      |    AS converted
      |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin

  val cdcUpsertOracle: String =
    s"""WITH latest AS (
      |${DuckSql.topK("user_id AS chg_key, CASE WHEN event_type = 'error' THEN 'delete' " +
                     "ELSE 'upsert' END AS last_op, value AS new_bal",
                     "events", "user_id", "epoch_us(ts) DESC, event_id DESC", 1)})
      |SELECT COALESCE(c.c_custkey, l.chg_key) AS key,
      |  c.c_name,
      |  CASE WHEN l.last_op = 'upsert' THEN l.new_bal ELSE c.c_acctbal END
      |    AS acctbal,
      |  l.last_op
      |FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.chg_key
      |WHERE l.last_op IS NULL OR l.last_op <> 'delete'""".stripMargin

  val scd2HistoryOracle: String =
    """WITH v AS (
      |  SELECT user_id, event_id, value, event_type, epoch_us(ts) AS ts_us,
      |    COALESCE(lead(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
      |      9223372036854775807) AS valid_to_us
      |  FROM events)
      |SELECT user_id, value AS bal, ts_us AS valid_from_us, valid_to_us,
      |  valid_to_us = 9223372036854775807 AS is_current
      |FROM v WHERE event_type <> 'error'""".stripMargin

  def funnelStepsOracle(steps: Seq[String] = Seq("signup", "click", "purchase"),
                        windowUs: Long = 24L * 3600 * 1000 * 1000): String = {
    def esc(s: String) = s.replace("'", "''")
    val first =
      s"""s1 AS (
         |  SELECT user_id, min(ts_us) AS t1 FROM e
         |  WHERE event_type = '${esc(steps.head)}' GROUP BY 1)""".stripMargin
    val chain = steps.zipWithIndex.tail.map { case (step, i) =>
      s"""s${i + 1} AS (
         |  SELECT e.user_id, min(e.ts_us) AS t${i + 1}
         |  FROM e JOIN s$i ON e.user_id = s$i.user_id
         |  WHERE e.event_type = '${esc(step)}' AND e.ts_us > s$i.t$i
         |  GROUP BY 1)""".stripMargin
    }
    val joins = (2 to steps.length)
      .map(i => s"LEFT JOIN s$i ON s1.user_id = s$i.user_id").mkString("\n")
    val cols = (1 to steps.length).map(i => s"t$i").mkString(", ")
    val last = s"t${steps.length}"
    val ctes = (first +: chain).mkString(",\n")
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |$ctes
       |SELECT s1.user_id, $cols,
       |  CAST(CASE WHEN $last IS NOT NULL AND $last - t1 <= $windowUs
       |       THEN 1 ELSE 0 END AS BIGINT) AS converted
       |FROM s1
       |$joins""".stripMargin
  }

  val retentionCohortsOracle: String =
    """WITH weeks AS (
      |  SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
      |cohorts AS (
      |  SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1)
      |SELECT cohort_week, week - cohort_week AS week_offset,
      |  count(DISTINCT w.user_id) AS n_users
      |FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Oracle: the NAIVE inequality-join formulation over the same
    * sessionize CTE — independent of the cell/dedup machinery.
    */
  def sessionOverlapPairsOracle: String =
    s"""WITH s AS ($sessionizeOracle)
       |SELECT a.user_id AS a_user, a.session_idx AS a_session,
       |  b.user_id AS b_user, b.session_idx AS b_session,
       |  least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us)
       |    AS overlap_us
       |FROM s a JOIN s b
       |  ON a.user_id < b.user_id
       | AND a.start_us <= b.end_us AND b.start_us <= a.end_us""".stripMargin

  val castProjectOracle: String =
    "SELECT CAST(event_id AS VARCHAR) AS key, props AS value FROM events"

  val dedupEventsExactOracle: String =
    """SELECT user_id, event_type, min(event_id) AS first_event_id,
      |  count(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  val eventsJsonOracle: String =
    "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events"

  val eventsJsonAggOracle: String =
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  val saltedJoinOracle: String =
    """SELECT event_id, e.event_type, type_total
      |FROM events e JOIN (SELECT event_type, count(*) AS type_total
      |                    FROM events GROUP BY 1) d
      |  ON e.event_type = d.event_type""".stripMargin

  /** DuckDB's native ASOF JOIN: an implementation independent of the
    * union+window composition it checks. */
  val asofJoinOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
      |  FROM events),
      |r AS (
      |  SELECT user_id, ts_us, arg_max(value, event_id) AS value
      |  FROM e WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts_us, e.event_type,
      |       r.value AS asof_value
      |FROM e ASOF LEFT JOIN r
      |  ON e.user_id = r.user_id AND e.ts_us >= r.ts_us""".stripMargin
}
