package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Temporal / event-stream operator inventory over the `events` table —
  * the batch-checkable analogs of the reference's streaming semantics
  * (SURVEY.md §2.6-§2.7, §2.12). The streaming forms of the same
  * operators live in graft.streaming (MemoryStream-tested); these bodies
  * are the ones the DuckDB oracle can hash-check.
  *
  * Timestamp discipline: events.ts is nanosecond-precision in parquet;
  * Spark reads micros, DuckDB reads nanos. Every cross-engine comparison
  * therefore happens on floor-to-second epochs (`epochS`) or on exact
  * minute boundaries (tumbling windows) — never on raw ts values.
  */
object EventOps {

  /** Floor epoch seconds — identical in Spark (µs domain) and DuckDB
    * (ns domain) because flooring to seconds absorbs the precision gap. */
  private def epochS(c: Column): Column =
    unix_timestamp(c.cast("timestamp")).cast("long")

  private def dec(c: Column) = c.cast(DecimalType(18, 2))

  /** Hour-of-day histogram, "HH:00"-formatted — the reference's Q2
    * bus-affluence shape (`batch_bus_affluence.ipynb` cell 4 intent,
    * SURVEY §2.11.3: one count per record, no digit iteration). */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .select(concat(lpad(hour($"ts").cast("string"), 2, "0"), lit(":00"))
        .as("hour"))
      .groupBy($"hour")
      .agg(count(lit(1)).as("n_events"))
  }

  private val hourlyCountsSql =
    """SELECT CONCAT(LPAD(CAST(hour(ts) AS VARCHAR), 2, '0'), ':00') AS hour,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin

  /** Shared body of the tumbling/sliding window twins: same agg (count
    * + decimal-disciplined sum, the cross-engine determinism rule) and
    * same output shape, parameterized only by the window spec — so the
    * decimal rule can never diverge between the twins. */
  private def windowedStats(spark: SparkSession, dir: String,
      win: Column): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy(win.as("window"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("total_value"))
      .select($"window.start".as("window_start"), $"event_type", $"n",
        $"total_value")
  }

  /** 1-minute tumbling window stats — the reference's windowed avg
    * (`src/bike_consumer.py:93-100`, `src/previous_tp_code.py:157-165`).
    * window().start is an exact minute boundary, so emitting it raw is
    * cross-engine safe. */
  def tumblingWindowStats(spark: SparkSession, dir: String): DataFrame =
    windowedStats(spark, dir, window(col("ts"), "1 minute"))

  private val tumblingWindowStatsSql =
    """SELECT date_trunc('minute', ts) AS window_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  private val asofOracleSql =
    """SELECT e.event_id,
      |  MIN(CAST(floor(epoch(p.ts)) AS BIGINT)) AS next_purchase_s
      |FROM events e JOIN events p
      |  ON p.user_id = e.user_id AND p.event_type = 'purchase'
      | AND floor(epoch(p.ts)) > floor(epoch(e.ts))
      |WHERE e.event_type = 'click'
      |GROUP BY e.event_id""".stripMargin

  /** Forward as-of join, reference composition: theta join + min — the
    * Q1 plane→next-bus pattern (`src/plane_naolib_consumer.py:93-105`).
    * Equi on user_id keeps it a shuffled hash/SMJ join, not a nested
    * loop; the range predicate filters post-match. */
  def asofThetaJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "events")
    val clicks = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", epochS($"ts").as("ts_s"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), epochS($"ts").as("p_ts_s"))
    clicks
      .join(purchases, $"user_id" === $"p_user" && $"p_ts_s" > $"ts_s")
      .groupBy($"event_id")
      .agg(min($"p_ts_s").as("next_purchase_s"))
  }

  /** Same as-of semantics as [[asofThetaJoin]] but the 100 TB plan: ONE
    * shuffle+sort on user_id, then a running min over a range frame —
    * no join blow-up when a user has many purchases. Delegates to the
    * generic [[graft.operators.Operators.asofForward]]; checked against
    * the identical oracle to prove equivalence. */
  def asofWindowed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type", epochS($"ts").as("ts_s"))
    graft.operators.Operators.asofForward(
      left = e.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts_s"),
      right = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts_s"),
      key = "user_id", leftTime = "ts_s", rightTime = "ts_s",
      resultCol = "next_purchase_s")
      .filter($"next_purchase_s".isNotNull)
      .select($"event_id", $"next_purchase_s")
  }

  /** Deterministic dedup — keep the first event per (user_id, event_type)
    * by (ts, event_id). Batch analog of streaming
    * `dropDuplicatesWithinWatermark` (`src/previous_tp_code.py:149,212`,
    * SURVEY §2.6); the rank-1 idiom makes "which duplicate survives"
    * well-defined, unlike raw dropDuplicates. */
  def dedupFirstEvent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Operators.dedupKeepFirst(
      Tables(spark, dir, "events"),
      keys = Seq("user_id", "event_type"),
      order = Seq($"ts".asc), tieBreak = $"event_id".asc)
      .select($"event_id", $"user_id", $"event_type")
  }

  private val dedupFirstEventSql =
    """SELECT event_id, user_id, event_type FROM (
      |  SELECT event_id, user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM events) t WHERE rn = 1""".stripMargin

  /** lag(): seconds since the user's previous event. Gaps are computed
    * in the floored-second domain on both engines. */
  def eventGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables(spark, dir, "events")
      .withColumn("ts_s", epochS($"ts"))
      .withColumn("gap_s", $"ts_s" - lag($"ts_s", 1).over(w))
      .filter($"gap_s".isNotNull)
      .select($"event_id", $"user_id", $"gap_s")
  }

  private val eventGapsSql =
    """SELECT event_id, user_id, gap_s FROM (
      |  SELECT event_id, user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT)
      |      - LAG(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
      |          PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_s
      |  FROM events) t WHERE gap_s IS NOT NULL""".stripMargin

  /** Running total per user — aggregate over a rows frame (absent from
    * the reference, SURVEY §2.7 "absent"; included for engine
    * completeness). Decimal accumulation keeps it order-insensitive. */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "events")
      .withColumn("running_value", sum(dec($"value")).over(w).cast("double"))
      .select($"event_id", $"user_id", $"running_value")
  }

  private val runningTotalSql =
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_value
      |FROM events""".stripMargin

  /** Gap-based sessionization: a new session starts after >30 min of
    * user inactivity. The batch form of stateful streaming session
    * assignment (mapGroupsWithState analog; streaming twin in
    * graft.streaming). One shuffle on user_id serves both windows and
    * the final group-by. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Operators.sessionize(
      Tables(spark, dir, "events").withColumn("ts_s", epochS($"ts")),
      key = "user_id", tsSeconds = "ts_s", tieBreak = "event_id",
      gapS = 1800L)
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("n_events"),
        min($"ts_s").as("session_start_s"),
        (max($"ts_s") - min($"ts_s")).as("duration_s"))
  }

  private val sessionizeSql =
    """WITH g AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |    CAST(floor(epoch(ts)) AS BIGINT)
      |      - LAG(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
      |          PARTITION BY user_id
      |          ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
      |      AS gap_s
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts_s,
      |    CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS session_idx
      |  FROM g)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |  MIN(ts_s) AS session_start_s,
      |  MAX(ts_s) - MIN(ts_s) AS duration_s
      |FROM s GROUP BY user_id, session_idx""".stripMargin

  /** Pivot: per-user event-type count matrix. Explicit value list keeps
    * the plan one pass (no distinct-collect job) — at 100 TB an
    * unlisted pivot would scan twice. */
  def eventTypeMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "view", "purchase", "signup", "error")
    val piv = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .pivot("event_type", types)
      .count()
    types.foldLeft(piv)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
  }

  private val eventTypeMatrixSql =
    """SELECT user_id,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'view') AS view,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id""".stripMargin

  /** JSON path extraction from the props column (get_json_object —
    * noted absent in the reference, SURVEY §2.10; first-class here). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .groupBy($"event_type")
      .agg(count($"k").as("n_with_k"),
        sum($"k".cast("long")).as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
  }

  private val jsonExtractSql =
    """SELECT event_type,
      |  COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events) t
      |GROUP BY event_type""".stripMargin

  /** lead(): seconds until the user's NEXT event — the forward-looking
    * twin of [[eventGaps]] (completes the lag/lead pair flagged absent
    * in SURVEY §2.7). */
  def eventLead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables(spark, dir, "events")
      .withColumn("ts_s", epochS($"ts"))
      .withColumn("next_gap_s", lead($"ts_s", 1).over(w) - $"ts_s")
      .filter($"next_gap_s".isNotNull)
      .select($"event_id", $"user_id", $"next_gap_s")
  }

  private val eventLeadSql =
    """SELECT event_id, user_id, next_gap_s FROM (
      |  SELECT event_id, user_id,
      |    LEAD(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
      |        PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |      - CAST(floor(epoch(ts)) AS BIGINT) AS next_gap_s
      |  FROM events) t WHERE next_gap_s IS NOT NULL""".stripMargin

  /** Sliding (hopping) windows — 2-minute windows every 1 minute, so
    * each event lands in exactly two windows. The reference only ever
    * uses tumbling windows; the sliding form is the same one-shuffle
    * groupBy, with the window replication happening map-side (Spark
    * expands window() to an explode over the containing windows before
    * the exchange — no extra pass, ~2× shuffle rows by construction).
    * Oracle: each event's two containing window starts are
    * floor_minute(ts) and floor_minute(ts) - 1 min. */
  def slidingWindowStats(spark: SparkSession, dir: String): DataFrame =
    windowedStats(spark, dir, window(col("ts"), "2 minutes", "1 minute"))

  private val slidingWindowStatsSql =
    """SELECT ws AS window_start, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT date_trunc('minute', ts) AS ws, event_type, value FROM events
      |  UNION ALL
      |  SELECT date_trunc('minute', ts) - INTERVAL 1 MINUTE, event_type, value
      |  FROM events) t
      |GROUP BY 1, 2""".stripMargin

  /** Native session windows: Spark's `session_window` stateful operator
    * over pre-floored second timestamps, proving the built-in gives the
    * same sessions as the manual window-function sessionizer (q17).
    * Boundary semantics differ deliberately: session_window treats a
    * gap of EXACTLY the gap duration as a split (interval is
    * [start, last+gap)), while q17's lag-based form splits only on
    * gap > 1800 — the oracle here uses >= to match the native rule.
    * Pre-flooring via timestamp_seconds keeps membership decisions in
    * the same integer-second domain as the oracle (raw micros could
    * disagree exactly at the boundary). */
  def sessionWindowNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .withColumn("tss", timestamp_seconds(epochS($"ts")))
      .groupBy($"user_id", session_window($"tss", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_timestamp($"session_window.start").as("session_start_s"),
        $"n_events")
  }

  private val sessionWindowNativeSql =
    """WITH g AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |    CAST(floor(epoch(ts)) AS BIGINT)
      |      - LAG(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
      |          PARTITION BY user_id
      |          ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
      |      AS gap_s
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts_s,
      |    CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s >= 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS session_idx
      |  FROM g)
      |SELECT user_id, MIN(ts_s) AS session_start_s, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_idx""".stripMargin

  /** Exact interpolated percentiles (sort-based `percentile`, matching
    * SQL-standard PERCENTILE_CONT semantics — DuckDB's quantile_cont
    * uses the same definition, and both interpolate the same two order
    * statistics, so the doubles agree bit-for-bit). approx_percentile
    * is the sketch alternative at scale; like approx_count_distinct it
    * can't be hash-compared and is exercised in tests. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        min($"value").as("min_v"), max($"value").as("max_v"))
  }

  private val percentilesSql =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.9) AS p90,
      |  MIN(value) AS min_v, MAX(value) AS max_v
      |FROM events GROUP BY event_type""".stripMargin

  /** q94 — ordered funnel analysis (view → click → purchase): per
    * user, the earliest view, the earliest click strictly AFTER that
    * view, and the earliest purchase strictly after that click, plus
    * the funnel depth reached — the product-analytics staple that is
    * genuinely SEQUENCE-dependent (q18's pivot counts types; this
    * requires order). Times compare on floor-to-second epochs
    * ([[epochS]] — the file's cross-engine timestamp discipline), so
    * the stage rule is identical in Spark and DuckDB and every output
    * column is hash-checked.
    *
    * Scale shape: three stage aggregates, each a partial-aggregatable
    * min keyed by user_id, chained by user_id equi-joins — no windows,
    * no per-user event collection, so a power user with millions of
    * events costs map-side combines, not a straggler sort. Stages
    * beyond three repeat the same join+min step. */
  /** The q94 funnel over any frame bearing (user_id, event_type, t) —
    * frame-based core so specs can feed synthetic event sets (e.g. a
    * clicked-but-never-purchased user, exercising the depth-2
    * NULL-latency branch the corpus may not contain — ADVICE r5) and
    * the streaming twin shares the exact stage rule. */
  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"t").as("t_view"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"t" > $"t_view")
      .groupBy($"user_id").agg(min($"t").as("t_click"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"t" > $"t_click")
      .groupBy($"user_id").agg(min($"t").as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select($"user_id", $"t_view", $"t_click", $"t_purchase",
        (lit(1L) + $"t_click".isNotNull.cast("long")
          + $"t_purchase".isNotNull.cast("long")).as("depth"))
  }

  /** The (user_id, event_type, t) lift of the events table — shared
    * entry point of the q94/q95/q99 family. */
  private def eventEpochs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .select($"user_id", $"event_type", epochS($"ts").as("t"))
  }

  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(eventEpochs(spark, dir))

  /** The q94 funnel as a WITH-body ending in a `fun` CTE — shared by
    * the q94 dump and the q99 latency rollup (the survivorCtes reuse
    * idiom). */
  private val funnelCtes =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
      |  FROM events),
      |v AS (SELECT user_id, MIN(t) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.t) AS t_click
      |      FROM e JOIN v ON v.user_id = e.user_id
      |      WHERE e.event_type = 'click' AND e.t > v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.t) AS t_purchase
      |      FROM e JOIN c ON c.user_id = e.user_id
      |      WHERE e.event_type = 'purchase' AND e.t > c.t_click
      |      GROUP BY 1),
      |fun AS (
      |  SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
      |    CAST(1 + CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END
      |           + CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
      |      AS BIGINT) AS depth
      |  FROM v
      |  LEFT JOIN c ON c.user_id = v.user_id
      |  LEFT JOIN p ON p.user_id = v.user_id)""".stripMargin

  private val funnelSql = funnelCtes + "\n" +
    "SELECT user_id, t_view, t_click, t_purchase, depth FROM fun"

  /** q99 — funnel latency profile: among users who clicked, the
    * median/p90 seconds from view to click and median click to
    * purchase, grouped by funnel depth — the "where do users stall"
    * read beside q94's who-got-where. Exact interpolated percentiles
    * (the q34 PERCENTILE_CONT device: Spark `percentile` ==
    * DuckDB `quantile_cont`, IEEE-identical on second-floored integer
    * deltas); depth-2 users have no purchase, so their
    * click→purchase percentile is NULL in both engines (both ignore
    * NULL inputs). Keyed rollup on the 2-value depth domain — no
    * global aggregate, no single-partition exchange. */
  /** The q99 rollup over an already-computed funnel frame — shared by
    * batch q99 and the STREAMING composition: the sink-side aggregate
    * a deployment runs over [[graft.streaming.StreamingQueries
    * .funnelStream]]'s latest snapshots in foreachBatch (the
    * emit-state/roll-up-downstream split the retention twin uses;
    * StreamingSpec asserts snapshots → this rollup == batch q99). */
  private[graft] def latencyOverFunnel(fun: DataFrame): DataFrame = {
    val spark = fun.sparkSession
    import spark.implicits._
    fun
      .filter($"t_click".isNotNull)
      .select($"depth", ($"t_click" - $"t_view").as("d1"),
        ($"t_purchase" - $"t_click").as("d2"))
      .groupBy($"depth")
      .agg(count(lit(1)).as("n_users"),
        expr("percentile(d1, 0.5)").as("p50_view_to_click"),
        expr("percentile(d1, 0.9)").as("p90_view_to_click"),
        expr("percentile(d2, 0.5)").as("p50_click_to_purchase"))
  }

  /** Frame-based q99 core (see [[funnelOf]]): depth-2 users have no
    * purchase, so their click→purchase percentile is NULL —
    * OperatorPropertiesSpec asserts that branch on a synthetic event
    * set since the corpus need not contain it. */
  private[graft] def funnelLatencyOf(ev: DataFrame): DataFrame =
    latencyOverFunnel(funnelOf(ev))

  def funnelLatency(spark: SparkSession, dir: String): DataFrame =
    funnelLatencyOf(eventEpochs(spark, dir))

  private val funnelLatencySql = funnelCtes + "\n" +
    """SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  quantile_cont(t_click - t_view, 0.5) AS p50_view_to_click,
      |  quantile_cont(t_click - t_view, 0.9) AS p90_view_to_click,
      |  quantile_cont(t_purchase - t_click, 0.5) AS p50_click_to_purchase
      |FROM fun WHERE t_click IS NOT NULL
      |GROUP BY depth""".stripMargin

  /** q95 — cohort retention: users grouped by the epoch-week of their
    * FIRST event (the cohort), counted per subsequent active week
    * offset — the retention triangle every growth dashboard renders.
    * Weeks are integer epoch-weeks (floor-second epoch div 604800):
    * calendar-week functions differ subtly across engines (week start,
    * ISO rules), integer division does not.
    *
    * Scale shape: one per-user min (partial-aggregatable), one
    * (user, week) distinct, a user-keyed equi-join, and a rollup on
    * the tiny (cohort, offset) domain — every shuffle keyed, nothing
    * global, the same chain shape as q94. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weeks = Tables(spark, dir, "events")
      .select($"user_id", epochS($"ts").as("t"))
      .select($"user_id", expr("t div 604800").as("w"))
    val first = weeks.groupBy($"user_id").agg(min($"w").as("cohort_week"))
    weeks.distinct()
      .join(first, "user_id")
      .groupBy($"cohort_week", ($"w" - $"cohort_week").as("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
  }

  private val cohortRetentionSql =
    """WITH w AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
      |  FROM events),
      |f AS (SELECT user_id, MIN(w) AS cohort_week FROM w GROUP BY 1)
      |SELECT f.cohort_week, w.w - f.cohort_week AS week_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_active_users
      |FROM w JOIN f ON f.user_id = w.user_id
      |GROUP BY 1, 2""".stripMargin

  /** q112's histogram width. Estimates quantize to bin lower bounds —
    * max error = binW, traded for a mergeable fixed-size sketch. */
  private[graft] val histBinW = 5.0

  /** ONE bin rule for the batch sketch and its streaming twin — the
    * shared-definition discipline (a width tweak applied to one site
    * would silently desynchronize stream from batch). */
  private[graft] def histBin(v: Column): Column =
    floor(v / histBinW).cast("long")

  /** The quantile extraction over an already-built (event_type, bin, c)
    * sketch — shared by batch q112 and the sink-side rollup consuming
    * the streaming twin's bin emissions (the emit-increments/
    * aggregate-downstream split the retention twin uses). */
  private[graft] def quantilesOverBins(bins: DataFrame): DataFrame = {
    val spark = bins.sparkSession
    import spark.implicits._
    val cumW = Window.partitionBy($"event_type").orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy($"event_type")
    bins
      .withColumn("cum", sum($"c").over(cumW))
      .withColumn("n", sum($"c").over(totW))
      .groupBy($"event_type")
      .agg(max($"n").as("n"),
        (min(when($"cum" * 100 >= $"n" * 50, $"bin")) * histBinW)
          .as("est_p50"),
        (min(when($"cum" * 100 >= $"n" * 90, $"bin")) * histBinW)
          .as("est_p90"),
        (min(when($"cum" * 100 >= $"n" * 99, $"bin")) * histBinW)
          .as("est_p99"))
  }

  /** q112's core over any (event_type, value) frame — frame-based so
    * the property spec can feed random values and compare against a
    * driver-side reference of the same estimator definition. */
  private[graft] def histogramQuantilesOf(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    // NULL exclusion mirrors q190's (ADVICE r13): engines disagree on
    // where a NULL bin sorts in the cumulative window
    quantilesOverBins(
      ev.filter($"value".isNotNull)
        .select($"event_type", histBin($"value").as("bin"))
        .groupBy($"event_type", $"bin").agg(count(lit(1)).as("c")))
  }

  /** q112 — histogram-sketch quantiles per event type: the MERGEABLE
    * percentile estimator that replaces q34's exact sort at scale.
    * q34 ships every group's raw values through a sort to interpolate
    * exactly; this rolls the data into a fixed-width (event_type, bin)
    * count histogram first — a partial-aggregatable map-side combine,
    * the same mergeability contract as t-digest/DDSketch but
    * DETERMINISTIC (floor(v/w) binning is IEEE-identical in both
    * engines), so unlike approx_percentile the estimate itself is
    * hash-checked. The cumulative window then runs over SKETCH-sized
    * data (bins, not events): p-th estimate = lower bound of the first
    * bin whose cumulative count reaches ⌈p·n⌉ (integer cross-multiply,
    * no float ratios), error bounded by the bin width. */
  def histogramQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    histogramQuantilesOf(
      Tables(spark, dir, "events").select($"event_type", $"value"))
  }

  private val histogramQuantilesSql =
    s"""WITH b AS (
      |  SELECT event_type, CAST(floor(value / $histBinW) AS BIGINT) AS bin,
      |    COUNT(*) AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |cw AS (
      |  SELECT event_type, bin,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM b)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |  MIN(CASE WHEN cum * 100 >= n * 50 THEN bin END) * $histBinW AS est_p50,
      |  MIN(CASE WHEN cum * 100 >= n * 90 THEN bin END) * $histBinW AS est_p90,
      |  MIN(CASE WHEN cum * 100 >= n * 99 THEN bin END) * $histBinW AS est_p99
      |FROM cw GROUP BY event_type""".stripMargin

  /** Attribution lookback window, seconds. The bucket width deliberately
    * EQUALS the interval length so every lookback interval covers at
    * most two buckets (replication factor ≤ 2) — the standard width
    * choice for the bucket decomposition below. */
  private[graft] val attrWindowS = 600L

  /** q108's candidate pairs over any frame bearing
    * (event_id, user_id, event_type, t, value) — the BUCKETIZED
    * interval-join core, frame-based (the [[funnelOf]] idiom) so the
    * stream-stream twin's batch-parity spec can feed the identical
    * fixture to both engines.
    *
    * The technique: a pure range predicate (`c_s` in `[p_s-W, p_s)`)
    * would force a nested-loop plan even with the user_id equi key
    * deciding the shuffle; instead each purchase's lookback interval is
    * exploded to the ≤2 width-W time buckets it overlaps, each click is
    * assigned the ONE bucket containing it, and the join becomes equi
    * on (user_id, bucket) with the exact range as a residual filter.
    * A click lies in exactly one bucket, so each qualifying (purchase,
    * click) pair meets in exactly one bucket — no post-join dedup.
    * This is the same interval decomposition Structured Streaming's
    * stream-stream range join applies to its state store, and the
    * composite (user, bucket) key splits a hot user's history across
    * time buckets — finer-grained than q12's user-only theta key. */
  private[graft] def attributionPairsOf(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val w = attrWindowS
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"t".as("p_s"))
      // positive epochs: `div` truncation == floor in both engines
      .withColumn("bucket",
        explode(sequence(expr(s"(p_s - $w) div $w"), expr(s"(p_s - 1) div $w"))))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id".as("c_user"),
        $"t".as("c_s"), $"value")
      .withColumn("c_bucket", expr(s"c_s div $w"))
    purchases.join(clicks,
      $"user_id" === $"c_user" && $"bucket" === $"c_bucket" &&
        $"c_s" >= $"p_s" - w && $"c_s" < $"p_s")
      .select($"p_id", $"c_id", $"value")
  }

  /** q108 — purchase→click attribution: for EVERY purchase, the count
    * and decimal-summed value of the same user's clicks in the strict
    * 10-minute lookback `[p_s-600, p_s)` — the interval-join operator
    * class (as-of q12/q13 returns one row; this aggregates a range).
    * Purchases with no attributable clicks surface with zeros (left
    * rollup), so the output is a total accounting of purchases.
    * All-long epochs + decimal sums keep every column hash-checked. */
  def clickAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type",
        epochS($"ts").as("t"), $"value")
    val per = attributionPairsOf(ev)
      .groupBy($"p_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(dec($"value")).cast("double").as("attributed_value"))
    ev.filter($"event_type" === "purchase")
      .select($"event_id")
      .join(per, $"event_id" === $"p_id", "left")
      .select($"event_id",
        coalesce($"n_clicks", lit(0L)).as("n_clicks"),
        coalesce($"attributed_value", lit(0d)).as("attributed_value"))
  }

  private val clickAttributionSql =
    s"""WITH p AS (
      |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_s
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS c_s,
      |    value
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id,
      |  CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks,
      |  COALESCE(CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
      |    AS attributed_value
      |FROM p LEFT JOIN c
      |  ON c.user_id = p.user_id
      | AND c.c_s >= p.p_s - $attrWindowS AND c.c_s < p.p_s
      |GROUP BY p.event_id""".stripMargin

  /** q116 — user-journey transition matrix: for every ordered pair of
    * event types, how often a user's NEXT event was of that type, with
    * an integer conditional-probability surrogate (10⁶·n div row-total
    * — the q107/q89 no-libm device). This is the Markov-chain estimate
    * product analytics renders as a journey/Sankey diagram and the
    * event-side analog of q107's word-bigram score: q18's matrix
    * counts co-occurrence per user, this counts SEQUENCE, so it
    * distinguishes view→click-heavy journeys from click→view ones.
    *
    * Scale shape: one per-user window (lead over (t, event_id) — the
    * deterministic tie rule), a partial-aggregatable rollup on the
    * tiny type×type domain, and a from_type-keyed window for row
    * totals — every shuffle keyed, nothing global. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t".asc, $"event_id".asc)
    val counts = Tables(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type", epochS($"ts").as("t"))
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("tot", sum($"n").over(Window.partitionBy($"from_type")))
      .select($"from_type", $"to_type", $"n",
        expr("CAST(1000000 * n div tot AS BIGINT)").as("p_micro"))
  }

  private val eventTransitionsSql =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT event_type AS from_type, to_type, COUNT(*) AS n
      |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |  CAST((1000000 * n) // CAST(SUM(n) OVER (PARTITION BY from_type)
      |    AS BIGINT) AS BIGINT) AS p_micro
      |FROM c""".stripMargin

  /** q119 — quantile binning: per event type, each event's decile by
    * value (ntile) and its percent_rank — the feature-engineering
    * transform that turns a raw metric into a rank feature
    * (fraud/quality models bin exactly this way). Completes the
    * ranking-window family (row_number q04, lag q15, lead q36,
    * frames q16): ntile and percent_rank are the remaining
    * SQL-standard ranking functions, both deterministic here because
    * the order key (value, event_id) is a total order.
    * percent_rank = (rank−1)/(n−1) is one IEEE division of small
    * integers — identical in both engines (the q98 jaccard device).
    * One keyed window; the per-type partition is the only shuffle. */
  def ntileDeciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy($"value".asc, $"event_id".asc)
    Tables(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
  }

  private val ntileDecilesSql =
    """SELECT event_id, event_type, value,
      |  CAST(NTILE(10) OVER w AS BIGINT) AS decile,
      |  PERCENT_RANK() OVER w AS pr
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)"""
      .stripMargin

  /** q180's time-grid pitch. 300 s divides evenly into the ≤ 60+490 s
    * promo durations below, so every interval covers at most 3 grid
    * cells — the replication factor the decomposition pays. */
  private val promoGridS = 300L

  /** q180 — UNKEYED variable-length interval join via time-grid
    * decomposition. q108 joins points to intervals through a shared
    * user key, so its bucket decomposition rides an equi join that
    * already existed; here there is NO key — every purchase opens a
    * global promo window [t, t + 60 + floor(value)) and the question
    * is total click traffic inside it, the shape where a naive plan
    * is a pure theta join (BroadcastNestedLoopJoin — the oracle runs
    * exactly that, and only DuckDB gets to). The engine instead
    * manufactures the equi key: each interval explodes to the ≤ 3
    * grid cells it overlaps (replication bounded by maxDur/grid + 1,
    * a constant — never data-sized), each point hashes to exactly its
    * own cell, and the join is shuffle-hash on `bucket` with the
    * precise range predicate as a post-join filter. Each (interval,
    * point) pair meets in exactly one cell (the point's), so no
    * dedup pass is needed. At 100 TB this is the standard range-join
    * rewrite: replicate the SHORT-duration side by a constant, keep
    * the big point stream unreplicated, and pick the grid pitch ≈
    * max interval length; a hot cell (flash-sale second) salts like
    * any skewed equi key. */
  def promoWindowLoad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val pur = ev.filter($"event_type" === "purchase")
      .select($"event_id", epochS($"ts").as("start_s"),
        (epochS($"ts") + lit(60L) + floor($"value").cast("long"))
          .as("end_s"))
    val iv = pur.withColumn("bucket",
      explode(sequence(expr(s"start_s div $promoGridS"),
        expr(s"(end_s - 1) div $promoGridS"))))
    val ck = ev.filter($"event_type" === "click")
      .select(epochS($"ts").as("c_s"))
      .withColumn("bucket", expr(s"c_s div $promoGridS"))
    val matched = iv.join(ck, "bucket")
      .filter($"c_s" >= $"start_s" && $"c_s" < $"end_s")
      .groupBy($"event_id").agg(count(lit(1)).as("n_clicks"))
    pur.select($"event_id").join(matched, Seq("event_id"), "left")
      .select($"event_id", coalesce($"n_clicks", lit(0L)).as("n_clicks"))
  }

  /** Oracle: the theta join the engine refuses to run — DuckDB can
    * afford it at oracle scale, and COUNT(c.c_s) over the left join
    * scores unmatched purchases 0 like the engine's coalesce. */
  private val promoWindowLoadSql =
    """WITH pur AS (
      |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
      |    CAST(floor(epoch(ts)) AS BIGINT) + 60
      |      + CAST(floor(value) AS BIGINT) AS end_s
      |  FROM events WHERE event_type = 'purchase'),
      |ck AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS c_s
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id, CAST(COUNT(c.c_s) AS BIGINT) AS n_clicks
      |FROM pur p LEFT JOIN ck c
      |  ON c.c_s >= p.start_s AND c.c_s < p.end_s
      |GROUP BY 1""".stripMargin

  /** q190 — sketch-driven outlier gate: flag events whose value lies
    * STRICTLY BEYOND the per-type p99 histogram bin — the data-quality
    * tripwire that runs off q112's mergeable sketch instead of an
    * exact global sort. The cutoff derivation is sketch-sized work
    * (windows over (type, bin) rows, never events); the gate itself is
    * one keyed join against a ≤|types|-row cutoff table (broadcast at
    * any corpus size) plus a stateless bin comparison — so at 100 TB
    * the scan cost is the gate's only data-sized term, and the same
    * frozen cutoff table drops into an ingest stream as a literal map
    * (the cellDriftStream parameter pattern). floor-binning is
    * IEEE-identical in both engines, so the flagged set hash-checks
    * exactly — unlike any approx_percentile-derived gate. */
  /** The per-type p99 cutoff-bin table — q190's sketch-sized
    * derivation as a lift, shared with the ingest twin
    * ([[graft.streaming.StreamingQueries.outlierGateStream]]), which
    * folds the collected ≤|types| rows into a literal map. */
  private[graft] def outlierCutoffs(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    // NULL values carry no bin: Spark orders NULLs first in an
    // ascending window, DuckDB last, so a NULL bin would land at
    // opposite ends of the cumulative sum and could shift p99_bin —
    // excluded explicitly in BOTH engines (ADVICE r13)
    val bins = ev.filter($"value".isNotNull)
      .select($"event_type", histBin($"value").as("bin"))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg(min(when($"cum" * 100 >= $"n" * 99, $"bin")).as("p99_bin"))
  }

  def outlierGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    ev.join(outlierCutoffs(ev), "event_type")
      .filter(histBin($"value") > $"p99_bin")
      .select($"event_id", $"event_type", $"value", $"p99_bin")
  }

  private val outlierGateSql =
    s"""WITH b AS (
      |  SELECT event_type, CAST(floor(value / $histBinW) AS BIGINT) AS bin,
      |    COUNT(*) AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |cw AS (
      |  SELECT event_type, bin,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM b),
      |cut AS (
      |  SELECT event_type,
      |    CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS BIGINT)
      |      AS p99_bin
      |  FROM cw GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.value, cut.p99_bin
      |FROM events e JOIN cut USING (event_type)
      |WHERE CAST(floor(e.value / $histBinW) AS BIGINT) > cut.p99_bin"""
      .stripMargin

  def queries: Seq[Q] = Seq(
    Q("q10_hourly_event_counts", hourlyCounts, Some(hourlyCountsSql),
      "hour-of-day histogram (ref Q2 affluence shape)"),
    Q("q11_tumbling_window_stats", tumblingWindowStats,
      Some(tumblingWindowStatsSql), "1-min tumbling window agg (ref Q4)"),
    Q("q12_asof_theta_join", asofThetaJoin, Some(asofOracleSql),
      "as-of via theta join + min (ref Q1 composition)"),
    Q("q13_asof_windowed", asofWindowed, Some(asofOracleSql),
      "as-of via single-shuffle range-frame window (scale path)"),
    Q("q14_dedup_first_event", dedupFirstEvent, Some(dedupFirstEventSql),
      "deterministic keep-first dedup (streaming dropDuplicates analog)"),
    Q("q15_event_gaps", eventGaps, Some(eventGapsSql), "lag() inter-event gaps"),
    Q("q16_running_total", runningTotal, Some(runningTotalSql),
      "rows-frame running aggregate"),
    Q("q17_sessionize", sessionize, Some(sessionizeSql),
      "gap-based sessionization (stateful-streaming batch analog)"),
    Q("q18_event_type_matrix", eventTypeMatrix, Some(eventTypeMatrixSql),
      "pivot with explicit values (single-pass)"),
    Q("q19_json_extract", jsonExtract, Some(jsonExtractSql),
      "JSON path extraction + agg"),
    Q("q34_percentiles", percentiles, Some(percentilesSql),
      "exact interpolated percentiles (PERCENTILE_CONT semantics)"),
    Q("q52_sliding_window", slidingWindowStats, Some(slidingWindowStatsSql),
      "2-min/1-min hopping windows (map-side replication, one shuffle)"),
    Q("q53_session_window", sessionWindowNative, Some(sessionWindowNativeSql),
      "native session_window == manual sessionizer under >= gap rule"),
    Q("q36_event_lead", eventLead, Some(eventLeadSql),
      "lead() forward gap (completes lag/lead pair)"),
    Q("q94_funnel", funnel, Some(funnelSql),
      "ordered view->click->purchase funnel: chained keyed min-joins, " +
        "sequence-dependent, second-floored epochs both engines"),
    Q("q95_cohort_retention", cohortRetention, Some(cohortRetentionSql),
      "first-event-week cohorts x active-week offsets (retention " +
        "triangle), integer epoch-weeks for engine portability"),
    Q("q99_funnel_latency", funnelLatency, Some(funnelLatencySql),
      "funnel stage-latency profile by depth: exact interpolated " +
        "percentiles of view->click / click->purchase seconds"),
    Q("q108_click_attribution", clickAttribution, Some(clickAttributionSql),
      "interval join via bucket decomposition: per-purchase 10-min " +
        "click lookback as an equi join on (user, time-bucket)"),
    Q("q112_histogram_quantiles", histogramQuantiles,
      Some(histogramQuantilesSql),
      "mergeable fixed-bin histogram quantile sketch: deterministic " +
        "approx p50/p90/p99, hash-checked unlike approx_percentile"),
    Q("q116_event_transitions", eventTransitions,
      Some(eventTransitionsSql),
      "user-journey Markov transition matrix: sequence-ordered " +
        "type-to-type counts with integer probability surrogates"),
    Q("q119_ntile_deciles", ntileDeciles, Some(ntileDecilesSql),
      "quantile binning: per-type ntile deciles + percent_rank under " +
        "a deterministic total order — the rank-feature transform"),
    Q("q180_promo_window_load", promoWindowLoad, Some(promoWindowLoadSql),
      "unkeyed variable-length interval join via time-grid " +
        "decomposition: per-purchase promo-window click load as an " +
        "equi join on manufactured grid cells (<=3x replication), " +
        "where the naive plan is a nested-loop theta join"),
    Q("q190_outlier_gate", outlierGate, Some(outlierGateSql),
      "sketch-driven outlier gate: events strictly beyond the " +
        "per-type p99 histogram bin — cutoffs from q112's mergeable " +
        "sketch, gate = one broadcast join + bin compare, flagged " +
        "set hash-exact"))
}
