package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Time-series queries over the events table (ns-precision timestamps,
  * JSON props column). See Tables.events for the nanos handling. */
object Events {

  private val dec2 = DecimalType(12, 2)

  /** Hourly per-type counts/sums — the batch shape of the streaming
    * windowed aggregation (Streaming.scala runs the same logic
    * incrementally). Scale: single shuffle on (hour, type); partial
    * aggregation makes the exchange tiny. */
  def hourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // Exact decimal SUM, then ONE IEEE conversion — deterministic across
        // engines and immune to decimal-scale/trailing-zero drift in the
        // driver's hash (DuckDB widens to DECIMAL(38,x)).
        sum(col("value").cast(dec2)).cast(DoubleType).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour"), col("event_type"))

  val hourlySql: String =
    """SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** N-stage ordered conversion funnel over arbitrary events: stage 1
    * is each user's FIRST event passing `stages(0)`'s filter; stage i>1
    * is the user's first event passing `stages(i)`'s filter that is
    * strictly after their stage-(i−1) time and within `within` of the
    * stage-1 ANCHOR time. Output: one row of per-stage qualifying-user
    * counts, columns `n_<stageName>` in stage order.
    *
    * Scale shape: each stage is a per-user MIN aggregation plus an
    * equi-join on the user key — the standard distributed funnel
    * (shuffles carry one row per qualifying user, never the event
    * stream; timestamp+interval comparisons are exact in both engines).
    * Each non-final stage frame is referenced twice (next stage + its
    * own count), so it is persisted — or Catalyst re-evaluates the whole
    * subplan per reference (2·N event scans); the persists are
    * registered with [[graft.util.IntermediateCaches]] for eager
    * release after the result is materialized. */
  def funnelStages(events: DataFrame, stages: Seq[(String, Column)],
      within: java.time.Duration, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least two stages")
    val win = expr(s"INTERVAL ${within.getSeconds} SECONDS")
    var stage = graft.util.Lineage.reuse(events.filter(stages.head._2)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as("t_anchor"))
      .withColumn("t_stage", col("t_anchor")))
    val counts = Seq.newBuilder[DataFrame]
    counts += stage.agg(count(lit(1)).as(s"n_${stages.head._1}"))
    for (((name, pred), i) <- stages.tail.zipWithIndex) {
      val prev = stage.select(col(userCol), col("t_anchor"),
        col("t_stage").as("t_prev"))
      val next = events.filter(pred).join(prev, userCol)
        .filter(col(tsCol) > col("t_prev") &&
          col(tsCol) <= col("t_anchor") + win)
        .groupBy(col(userCol), col("t_anchor"))
        .agg(min(col(tsCol)).as("t_stage"))
      // the LAST stage is referenced once (its count) — no persist
      stage = if (i == stages.size - 2) next else graft.util.Lineage.reuse(next)
      counts += stage.agg(count(lit(1)).as(s"n_$name"))
    }
    counts.result().reduce(_.crossJoin(_))
  }

  /** The gate funnel: first view → first click within 24 h of that view
    * → first purchase after the click (still inside the view's 24 h
    * window) — the 3-stage instantiation of [[funnelStages]]. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    funnelStages(ev, Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")),
      java.time.Duration.ofHours(24))
  }

  val funnelSql: String =
    """WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
      |           FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, v.v_ts, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click'
      |        AND CAST(e.ts AS TIMESTAMP) > v.v_ts
      |        AND CAST(e.ts AS TIMESTAMP) <= v.v_ts + INTERVAL 24 HOUR
      |      GROUP BY 1, 2),
      |p AS (SELECT c.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase'
      |        AND CAST(e.ts AS TIMESTAMP) > c.c_ts
      |        AND CAST(e.ts AS TIMESTAMP) <= c.v_ts + INTERVAL 24 HOUR
      |      GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |  (SELECT COUNT(*) FROM c) AS n_click,
      |  (SELECT COUNT(*) FROM p) AS n_purchase""".stripMargin

  /** Weekly retention cohorts: cohort = week of the user's first event;
    * a (cohort, offset) cell counts users with ANY event `offset` weeks
    * later. Two per-user aggregations + one join — the event stream is
    * reduced to distinct (user, week) before anything shuffles twice. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstWeek = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    active.join(firstWeek, "user_id")
      .select(col("cohort").as("cohort_week"),
        expr("CAST(datediff(wk, cohort) DIV 7 AS BIGINT)").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionSql: String =
    """WITH f AS (SELECT user_id,
      |             DATE_TRUNC('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort
      |           FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id,
      |        DATE_TRUNC('week', CAST(ts AS TIMESTAMP)) AS wk FROM events)
      |SELECT CAST(cohort AS TIMESTAMP) AS cohort_week,
      |  CAST((CAST(wk AS DATE) - CAST(cohort AS DATE)) // 7 AS BIGINT) AS week_offset,
      |  COUNT(*) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Hopping (sliding) windows — 1-hour windows every 30 minutes: each
    * event lands in windowDuration/slideDuration = 2 windows, which
    * Spark's window() generates inline (a 1→2 generator, map-only; the
    * only shuffle is the (window, type) aggregation, map-side
    * combined). The oracle replays the hop assignment with an explicit
    * 2-element unnest over the 30-minute time buckets. */
  def hopping(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hop_start"), col("event_type"),
        col("n_events"))
      .orderBy(col("hop_start"), col("event_type"))

  val hoppingSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |    time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
      |      - s * INTERVAL 30 MINUTE AS hop_start
      |  FROM events, LATERAL (SELECT unnest([0, 1]) AS s))
      |SELECT CAST(hop_start AS TIMESTAMP) AS hop_start, event_type,
      |  COUNT(*) AS n_events
      |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** 7-day rolling event totals per type — the RANGE-interval window
    * frame (value-based, unlike q6's rows-based rank): aggregate to
    * daily grain FIRST so the window's input is days × types, not the
    * event stream, then run the range frame over the day-grain epoch
    * seconds. At 100 TB the only window input is the dimension-sized
    * daily summary — the event-grain shuffle happens once, map-side
    * combined. */
  def rolling(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(unix_timestamp(col("day")))
      .rangeBetween(-6L * 86400L, 0L)
    daily.select(col("event_type"), col("day"), col("n_events"),
        sum(col("n_events")).over(w).as("n_7d"))
      .orderBy(col("event_type"), col("day"))
  }

  val rollingSql: String =
    """WITH d AS (SELECT event_type,
      |    CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, n_events,
      |  CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY day
      |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
      |FROM d ORDER BY event_type, day""".stripMargin

  /** JSON extraction from the props column via from_json with an explicit
    * schema (codegen'd Jackson parse — no UDF). */
  def jsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", from_json(col("props"), StructType(Seq(
        StructField("k", LongType)))).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val jsonPropsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** JSON-Schema-driven extraction: the props schema arrives as a JSON
    * Schema document (as it would from a registry/contract), is converted
    * to a StructType by graft's converter, and drives the codegen'd
    * from_json parse. */
  def jsonSchemaProps(s: SparkSession, dir: String): DataFrame = {
    val contract =
      """{"type":"object","properties":{"k":{"type":"integer"}},"required":["k"]}"""
    val schema = graft.jsonschema.JsonSchemaConverter.toSparkSchema(contract)
    Tables.events(s, dir)
      .filter(col("event_id") % 101 === 0)
      .select(col("event_id"),
        from_json(col("props"), schema).getField("k").as("k"))
  }

  val jsonSchemaPropsSql: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |FROM events WHERE event_id % 101 = 0""".stripMargin

  /** Banded range join WITHOUT an equality key: for each error event,
    * how many OTHER users' sessions were active at that instant. A bare
    * BETWEEN join would plan as BroadcastNestedLoopJoin (all-pairs);
    * graft.operators.RangeJoin buckets the time axis hourly and
    * equi-joins. Oracle: DuckDB's native inequality-join (IEJoin)
    * planner on the same BETWEEN predicate. */
  def rangeActiveSessions(s: SparkSession, dir: String): DataFrame = {
    val sess = sessions(s, dir).select(
      col("user_id").as("s_user"),
      unix_micros(col("sess_start")).as("lo_us"),
      unix_micros(col("sess_end")).as("hi_us"))
    val points = Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt_us"))
    graft.operators.RangeJoin
      .pointInInterval(points, "pt_us", sess, "lo_us", "hi_us", 3600L * 1000000L)
      .filter(col("s_user") =!= col("user_id"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("event_id"))
  }

  val rangeActiveSessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |         OR EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM marked),
      |iv AS (
      |  SELECT user_id AS s_user, MIN(ts) AS lo, MAX(ts) AS hi
      |  FROM sess GROUP BY user_id, sess_id)
      |SELECT e.event_id, COUNT(*) AS n_active
      |FROM events e JOIN iv
      |  ON CAST(e.ts AS TIMESTAMP) BETWEEN iv.lo AND iv.hi
      |  AND iv.s_user <> e.user_id
      |WHERE e.event_type = 'error'
      |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin

  /** As-of join: each purchase matched to the user's most recent click
    * at-or-before the purchase time (union + ordered-window composition,
    * one shuffle — graft.operators.AsOfJoin). Oracle: DuckDB's native
    * ASOF LEFT JOIN, an independent implementation of the semantics. */
  def asofClicks(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // dedupe clicks to one row per (user, ts) on BOTH sides: with ties
    // DuckDB's ASOF JOIN picks an arbitrary row, ours the greatest —
    // pre-aggregation makes the oracle well-defined for any data
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"))
    graft.operators.AsOfJoin.asof(purchases, clicks,
      key = "user_id", ts = "ts", pick = Seq("event_id"))
      .orderBy(col("event_id"))
  }

  val asofClicksSql: String =
    """SELECT p.event_id, p.user_id, p.ts, c.event_id AS asof_event_id
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |        MAX(event_id) AS event_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2) c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  /** Sessionization with window functions: a new session starts after
    * >30 min of user inactivity. Classic scalable pattern — lag + cumulative
    * sum inside a per-user window, one shuffle on user_id. */
  def sessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(byUser))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"),
        max(col("ts")).as("sess_end"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  /** Sessionization via Spark's NATIVE session windows — same semantics
    * as [[sessions]] expressed with the built-in merging session_window.
    * Boundary convention (probed empirically, SessionBoundarySpec): an
    * event exactly `gap` after the previous one MERGES into its session
    * — UpdatingSessionsIterator merges when sessionStart ≤ sessionEnd —
    * so the oracle splits only on a STRICTLY greater gap, same as
    * [[sessions]]. This is the grouping that runs identically in
    * Structured Streaming. */
  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
        col("sw.end").as("sess_end"), col("n_events"))
      .orderBy(col("user_id"), col("sess_start"))

  val sessionWindowsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |         OR EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM marked)
      |SELECT user_id, MIN(ts) AS sess_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS sess_end, COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_start""".stripMargin

  /** Exact-integer z-score anomaly detection per event type: flag
    * events more than 3 standard deviations from their type's mean —
    * with ZERO float arithmetic. `value` has exact 2-decimal
    * provenance, so cents `v = value·100` are exact BIGINTs; the test
    * (v−μ)² > 9σ² cross-multiplies to the all-integer form
    * (n·v − S)² > 9·(n·SS − S²) over the per-type moments
    * (n, S=Σv, SS=Σv²), evaluated in DECIMAL(38,0) (SS alone overflows
    * int64 past ~10⁹ rows per type; DuckDB runs the identical chain in
    * HUGEINT) — cross-engine bit-deterministic where a float z-score
    * would drift on summation order.
    *
    * Scale shape: the moments are ONE map-side-combined aggregate with
    * one row per event type; the flag pass is a broadcast join + a
    * map-only integer filter — no second shuffle, no sort until the
    * dimension-sized output. */
  def anomalies(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec2) * lit(100)).cast("long").as("v"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("v")).cast(d38).as("s"),
      sum(col("v").cast(d38) * col("v").cast(d38)).as("ss"))
    val dev = ev("v").cast(d38) * col("n") - col("s")
    ev.join(broadcast(stats), "event_type")
      .filter(dev * dev > lit(9).cast(d38) * (col("n") * col("ss") - col("s") * col("s")))
      .select(col("event_id"), col("event_type"), ev("v"))
      .orderBy(col("event_id"))
  }

  val anomaliesSql: String =
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v FROM events),
      |st AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
      |         CAST(SUM(v) AS HUGEINT) AS s,
      |         SUM(CAST(v AS HUGEINT) * v) AS ss
      |       FROM e GROUP BY 1)
      |SELECT event_id, event_type, v
      |FROM e JOIN st USING (event_type)
      |WHERE (n * v - s) * (n * v - s) > 9 * (n * ss - s * s)
      |ORDER BY event_id""".stripMargin

  val sessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |         OR EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM marked)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  MIN(ts) AS sess_start, MAX(ts) AS sess_end
      |FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin
}
