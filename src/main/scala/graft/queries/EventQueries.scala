package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Scale.CheckpointOps
import graft.queries.Export._

/** Tweet-pipeline parity queries (SURVEY §3.2–§3.3) over the `events`
  * fixture, which stands in for the streamed `tweets` table:
  * `ts` ↔ processed_at, `event_type` ↔ final_sentiment,
  * `value` ↔ confidence/engagement, `props` ↔ raw JSON payload.
  *
  * F3's `now() - INTERVAL h HOURS` predicate is made deterministic by
  * anchoring to a fixed literal inside the fixture's [2024-01-01,
  * 2024-01-31) span — same intent, reproducible hash. At scale this
  * predicate partition-prunes when the sink is hour-partitioned (K2's
  * intended layout, SURVEY §2.2).
  */
object EventQueries {

  /** GET /summary parity: F3 time filter + A1 group-agg + A3 null
    * coalescing + W3 sort. Cite: sentiment_analysis.py:450-519. */
  def eventSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // integer-cents aggregation (same tie-proof rationale as
    // [[hourlySummary]] — this is the flagship `entry` query, so it
    // gets the scale-proof formulation too). Denominator is
    // count(value) to preserve avg()'s NULL-skipping semantics; the
    // CASE guards an all-NULL group (ANSI mode makes div-by-zero
    // throw rather than return NULL).
    val cents = "sum(CAST(round(value * 100, 0) AS BIGINT))"
    Tables.events(s, dir)
      .filter($"ts" >= lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        expr(s"CASE WHEN count(value) = 0 THEN 0.0 ELSE " +
          s"CAST((2 * $cents * 100 + count(value)) div (2 * count(value)) AS DOUBLE) / 10000.0 END")
          .as("avg_value"),
        expr(s"CAST(coalesce($cents, 0) AS DOUBLE) / 100.0").as("sum_value"))
      .domainOrdered($"n_events".desc, $"event_type")
  }

  val eventSummarySql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CASE WHEN count(value) = 0 THEN 0.0 ELSE
      |    CAST((2 * sum(CAST(round(value * 100, 0) AS BIGINT)) * 100 + count(value))
      |         // (2 * count(value)) AS DOUBLE) / 10000.0 END AS avg_value,
      |  CAST(coalesce(sum(CAST(round(value * 100, 0) AS BIGINT)), 0) AS DOUBLE) / 100.0 AS sum_value
      |FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      |GROUP BY event_type ORDER BY n_events DESC, event_type""".stripMargin

  /** GET /tweets parity: conditional equality filter (F2) + top-k by
    * recency (W1) → TakeOrderedAndProject, no full sort. */
  def recentEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"event_type" === "error")
      .orderBy($"ts".desc, $"event_id".desc)
      .limit(50)
      .select($"event_id", $"user_id", $"event_type",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        round($"value", 2).as("value"))
  }

  val recentEventsSql: String =
    """SELECT event_id, user_id, event_type,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |  round(value, 2) AS value
      |FROM events WHERE event_type = 'error'
      |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin

  /** GET /export parity: F3 window + W2 unbounded recency sort.
    * Cite: sentiment_analysis.py:668-715. */
  def exportEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"ts" >= lit("2024-01-29 00:00:00").cast("timestamp"))
      .select($"event_id", $"user_id", $"event_type",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        round($"value", 2).as("value"))
      .orderBy($"ts_s".desc, $"event_id".desc)
  }

  val exportEventsSql: String =
    """SELECT event_id, user_id, event_type,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |  round(value, 2) AS value
      |FROM events WHERE ts >= TIMESTAMP '2024-01-29 00:00:00'
      |ORDER BY ts_s DESC, event_id DESC""".stripMargin

  /** The dead `sentiment_summary` table realized (SURVEY §1.2(d)):
    * hourly tumbling window × type. Batch form here; streaming form in
    * graft.streaming.Pipeline shares the same groupBy(window(...)). */
  def hourlySummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ORDER-INDEPENDENT, TIE-PROOF aggregation. Two cross-engine
    // hazards surfaced at sf0.1 (fine-grained hourly groups make
    // boundary cases likely): (1) double sums accumulate in
    // partition order, so a last-ulp difference flips a 4 dp
    // rounding; (2) when the EXACT average lands on a 4 dp midpoint
    // (1512.12/32 = 47.25375), Spark's round(double) rounds the
    // shortest decimal repr half-up while DuckDB rounds the binary
    // value — opposite answers on an exact tie. The fixture's
    // `value` is 2-decimal data (verified: no value deviates from
    // cents), so both hazards vanish in INTEGER-CENTS arithmetic:
    // sum exact integer cents, then half-up-round the average at
    // 4 dp via integer division ((2a+n) div 2n) — every step is
    // exact and engine-independent at any scale and parallelism.
    // Domain note: the half-up formula and the div/`//` equivalence
    // (Spark truncates, DuckDB floors) both assume NON-NEGATIVE
    // sums, which holds for this metric by construction.
    val cents = "sum(CAST(round(value * 100, 0) AS BIGINT))"
    Tables.events(s, dir)
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("date_hour"),
        $"event_type")
      .agg(count(lit(1)).as("n_events"),
        expr(s"CAST((2 * $cents * 100 + count(1)) div (2 * count(1)) AS DOUBLE) / 10000.0")
          .as("avg_value"),
        expr(s"CAST($cents AS DOUBLE) / 100.0").as("sum_value"))
      .domainOrdered($"date_hour", $"event_type")
  }

  val hourlySummarySql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS date_hour,
      |  event_type, count(*) AS n_events,
      |  CAST((2 * sum(CAST(round(value * 100, 0) AS BIGINT)) * 100 + count(*))
      |       // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_value,
      |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY date_hour, event_type""".stripMargin

  /** q128: EVENT-TYPE PIVOT (crosstab) — the daily type×count matrix
    * every analytics surface renders. The pivot VALUES ARE PINNED,
    * not discovered: Spark's `RelationalGroupedDataset.pivot` without
    * an explicit value list runs a hidden distinct-scan + collect to
    * the driver to learn the output columns — a second corpus pass
    * and a driver-memory dependency that both vanish when the list
    * is pinned (the plan is then ONE partial-agg exchange, identical
    * to five conditional counts). Pinning also freezes the schema: a
    * day missing a type yields 0 (na.fill, matching the oracle's
    * CASE sums) and a NEW event type surfaces as `total` exceeding
    * the column sum — a loud, queryable discrepancy instead of
    * silent schema drift. */
  def eventPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("event_date", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"event_date")
      .pivot("event_type", eventTypeDomain)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypeDomain)
      .withColumn("total", eventTypeDomain.map(col).reduce(_ + _))
      .orderBy($"event_date")
  }

  /** The pinned event-type domain (TESTDATA.md). */
  private[graft] val eventTypeDomain: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  val eventPivotSql: String = {
    val cols = Seq("click", "error", "purchase", "signup", "view").map(t =>
      s"  CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t,")
      .mkString("\n")
    s"""SELECT strftime(ts, '%Y-%m-%d') AS event_date,
      |$cols
      |  CAST(sum(CASE WHEN event_type IN ('click', 'error', 'purchase',
      |    'signup', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** C10 parity: JSON payload field extraction (the Kafka-envelope
    * decode, from_json analog on a dynamic column) + aggregation. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .withColumn("k_bucket", $"k" % 10)
      .groupBy($"k_bucket")
      .agg(count(lit(1)).as("n_events"),
        round(avg($"value"), 4).as("avg_value"))
      .domainOrdered($"k_bucket")
  }

  val jsonExtractSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
      |  count(*) AS n_events, round(avg(value), 4) AS avg_value
      |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin

  /** Top-k per group (W1 generalized per SURVEY §2.6): 5 highest-value
    * events per type.
    *
    * Round 10 reshape: the round-1 form was `Window.partitionBy(
    * event_type) + row_number <= 5` — a rank window on a
    * LOW-CARDINALITY key, which at scale funnels every event of a
    * type into one task for a full sort (and even the WindowGroupLimit
    * rewrite still sorts each map partition wholesale first). Now a
    * single groupBy with the bounded [[graft.functions.TopKBy]]
    * aggregate: each task keeps an O(k) buffer per type (map-side
    * combine), only ≤ 5 rows per (type, task) cross the one exchange,
    * and nothing is ever sorted but the final ≤ 5·types survivors —
    * parallelism stays at the task count regardless of how few types
    * exist. PlanSpec pins "no WindowExec, two-phase
    * ObjectHashAggregate"; the low-cardinality-window lint keeps the
    * anti-pattern from coming back anywhere in the suite. */
  def topEventsPerType(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      // strict: a null value/event_id would silently diverge from the
      // window's NULLS LAST padding — fail loudly instead (ADVICE r10)
      .agg(graft.functions.TopKBy.top_k_by($"value", $"event_id", 5, strict = true).as("top"))
      .select($"event_type", posexplode($"top"))
      .select($"event_type", $"col.tie".as("event_id"),
        round($"col.ord", 2).as("value"), ($"pos" + 1).as("rn"))
      .domainOrdered($"event_type", $"rn")
  }

  val topEventsPerTypeSql: String =
    """SELECT event_type, event_id, round(value, 2) AS value, rn
      |FROM (SELECT event_type, event_id, value,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY value DESC, event_id) AS rn
      |      FROM events)
      |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin

  /** K3 insert-ignore parity: keep the FIRST record per key (the
    * idempotent dedup-on-write by tweet_id, sentiment_analysis.py:
    * 395-406) — here first event per (user_id, event_type) by time.
    * One shuffle on the key; at scale this is the standard
    * dedup-window pattern (state bounded by watermark in streaming). */
  def firstEventPerUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type", $"event_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"))
      .orderBy($"user_id", $"event_type")
  }

  val firstEventPerUserSql: String =
    """SELECT user_id, event_type, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts
      |FROM (SELECT user_id, event_type, event_id, ts,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts, event_id) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Sketch aggregate (north-star extension, SURVEY §7.4): per-type
    * distinct users via the mergeable HLL TypedImperativeAggregate,
    * SELF-VALIDATING against the exact count computed in the same
    * query: `hll_within_5pct` asserts |hll−exact|/exact ≤ 0.05, and
    * the oracle pins that column to literal true — so the sketch gets
    * a full rows+schema+hash correctness row instead of a rows-only
    * pass (the raw estimate itself is algorithm-specific; SketchSpec
    * pins accuracy and merge invariance, and the `hll_distinct` SQL
    * function exposes the sketch directly). */
  def approxDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"),
        graft.functions.HllSketch.hll_distinct($"user_id").as("approx_users"))
      .select($"event_type", $"exact_users",
        (abs($"approx_users" - $"exact_users").cast("double") / $"exact_users" <= 0.05)
          .as("hll_within_5pct"))
      .domainOrdered($"event_type")
  }

  val approxDistinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  true AS hll_within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q130: ROLLING 7-DAY DISTINCT USERS — the weekly-active-users
    * series, computed BOTH ways to pin the sketch path against the
    * exact one (q19's self-validating discipline, extended from a
    * static group-by to a rolling time window — the case where
    * sketch MERGEABILITY is the whole point):
    *  - exact path: the corpus compacts to distinct (day, user) once,
    *    each compacted row fans out to the ≤7 window-end days it
    *    contributes to (an explode — equi-shaped, no range join), one
    *    count_distinct per target day. The 7× fan-out rides on the
    *    COMPACTED frame, not the event log — but it still scales with
    *    window length × distinct pairs, which is why production
    *    systems keep sketches instead.
    *  - sketch path: ONE per-day HllSketch register array (built in
    *    the same pass as the daily exact count), unioned over the
    *    tiny day-level frame — constant work per day regardless of
    *    window length (register max is associative/commutative/
    *    idempotent, the q96 theorem).
    * The emitted row carries both exact series plus the pinned
    * within-5% verdict on the sketch estimate; the oracle reproduces
    * the exact series and pins the verdict true. Day keys are
    * yyyy-MM-dd strings (lexicographic = chronological). */
  def rollingDistinctUsers(s: SparkSession, dir: String, window: Int = 7): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val daily = ev.groupBy($"day")
      .agg(countDistinct($"user_id").as("daily_users"),
        graft.functions.HllSketch.hll_sketch($"user_id").as("regs"))
    val days = daily.select($"day")
    val targets = expr(
      s"transform(sequence(0, ${window - 1}), " +
        "i -> date_format(date_add(to_date(day), i), 'yyyy-MM-dd'))")
    // exact rolling: distinct (day, user) → fan out to window-end days
    val du = ev.select($"day", $"user_id").distinct()
    val exactRoll = du
      .select(explode(targets).as("day"), $"user_id")
      .join(days, Seq("day")) // windows ending on observed days only
      .groupBy($"day").agg(countDistinct($"user_id").as("rolling_users"))
    // sketch rolling: same fan-out on the ≤#days register frame
    val sketchRoll = daily
      .select(explode(targets).as("day"), $"regs")
      .join(days, Seq("day"))
      .groupBy($"day")
      .agg(graft.functions.HllSketch.hll_union_distinct($"regs").as("est"))
    daily.select($"day", $"daily_users")
      .join(exactRoll, Seq("day"))
      .join(sketchRoll, Seq("day"))
      .select($"day", $"daily_users", $"rolling_users",
        (abs($"est" - $"rolling_users").cast("double") / $"rolling_users" <= 0.05)
          .as("hll_within_5pct"))
      .orderBy($"day")
  }

  val rollingDistinctUsersSql: String =
    """WITH e AS (
      |  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM e),
      |roll AS (
      |  SELECT t.tday AS day, count(DISTINCT t.user_id) AS rolling_users
      |  FROM (SELECT day, user_id,
      |          unnest(list_transform(range(0, 7),
      |            i -> strftime(CAST(day AS DATE) + to_days(CAST(i AS INTEGER)),
      |                          '%Y-%m-%d'))) AS tday
      |        FROM e) t(day, user_id, tday)
      |  JOIN days d ON t.tday = d.day
      |  GROUP BY t.tday),
      |daily AS (SELECT day, count(DISTINCT user_id) AS daily_users FROM e GROUP BY day)
      |SELECT day, daily_users, rolling_users, true AS hll_within_5pct
      |FROM daily JOIN roll USING (day) ORDER BY day""".stripMargin

  /** The 30-minute session gap of q28, q107 and the streaming
    * sessionizers, as a `session_window` duration. `session_window`
    * merges an event whose distance from the session's last event is
    * at most the gap, so this splits iff consecutive events are more
    * than 1800000000 µs apart — the oracle's `> 1800000000` rule. */
  val SessionGap: String = "1800000000 microseconds"

  /** Sessionization: gap-based user sessions (30-minute inactivity
    * closes a session) via `session_window` with [[SessionGap]] — the
    * operator and gap the streaming `SessionState` uses, so batch and
    * stream sessions agree by construction. One shuffle on user_id.
    * Realizes SURVEY §2.9's session concept the reference never had. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // A lag + running-sum window pair would be SEQUENTIALLY dependent
    // (the sum consumes the lag output), so Catalyst could never fuse
    // the two WindowExecs; batch `session_window` aggregation is ONE
    // sort-based pass that assigns and aggregates sessions in-stream.
    // The only WindowExec is the per-user session NUMBERING, which runs
    // over the aggregated one-row-per-session frame (tiny) and reuses
    // the user_id partitioning — PlanSpec pins exactly one window node
    // and one exchange up to the export sort.
    //
    // Boundary fidelity: [[SessionGap]] splits exactly where the
    // oracle's `diff > 1800000000 µs` rule does.
    //
    // All time arithmetic in integer MICROS so Spark and the oracle
    // truncate identically (unix_timestamp would floor each operand
    // to seconds; DuckDB's epoch() subtracts fractionally).
    sessionizeRaw(s, dir)
      // materialize once, then sort: the RangePartitioner sampling
      // pass would otherwise re-execute the session aggregation (the
      // checkpointed slice is one row per session)
      .reliableCheckpoint()
      .orderBy($"user_id", $"session_idx")
  }

  /** q28 before the checkpoint + export sort — PlanSpec pins this
    * frame's shape (the checkpoint would hide it behind an RDD scan). */
  private[graft] def sessionizeRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sessions = Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", SessionGap))
      .agg(count(lit(1)).as("n_events"),
        expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000").as("duration_s"),
        date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        min($"ts").as("t0"))
    val numbered = Window.partitionBy($"user_id").orderBy($"t0")
    sessions
      .withColumn("session_idx", (row_number().over(numbered) - 1).cast("long"))
      .select($"user_id", $"session_idx", $"n_events", $"duration_s", $"session_start")
  }

  /** q90: SESSIONIZED FUNNEL — per 30-minute-gap session (q28's
    * session arithmetic verbatim), did the user progress
    * view → click → purchase in STRICT time order? The step times are
    * session-scoped window minima, each conditioned on the previous
    * step's time (`min(t WHERE type='click' AND t > t_view)`), so a
    * click before the first view does not count and the whole match
    * is one pass of window functions — no joins, no self-products,
    * the standard funnel shape at any scale (two exchanges: user_id
    * for sessionization, (user_id, session_idx) for the step
    * windows; then a one-row global rollup).
    *
    * Strictness is on integer MICROS (`t > t_view`) — deterministic
    * and identical cross-engine (the q28 precedent); conversion
    * fractions use the round-3 half-up integer division. */
  def sessionFunnel(s: SparkSession, dir: String): DataFrame =
    sessionFunnelOver(Tables.events(s, dir))

  /** The q90 pipeline over any (user_id, event_id, event_type, ts)
    * frame — injectable so ordering edge cases the fixture can't
    * guarantee (a click BEFORE the session's first view, a purchase
    * before the click, step chains split across a session gap) have
    * a constructed-data spec (the round-7 vacuous-test rule). */
  private[graft] def sessionFunnelOver(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val per = sessionSteps(ev)
    per.agg(count(lit(1)).as("n_sessions"),
        count($"t_view").as("n_view"),
        count($"t_click").as("n_view_click"),
        count($"t_purchase").as("n_view_click_purchase"))
      .select($"n_sessions", $"n_view", $"n_view_click", $"n_view_click_purchase",
        when($"n_view" === 0, 0.0).otherwise(
          expr("CAST((20000 * n_view_click + n_view) div (2 * n_view) AS DOUBLE) / 10000.0"))
          .as("frac_click"),
        when($"n_view_click" === 0, 0.0).otherwise(
          expr("CAST((20000 * n_view_click_purchase + n_view_click) div (2 * n_view_click) AS DOUBLE) / 10000.0"))
          .as("frac_purchase"))
  }

  /** q90's per-session step frame — (user_id, session_idx, session
    * bounds, event count, strict-order step times in epoch MICROS) —
    * exposed so FunnelStateSpec can check the streaming funnel
    * (`streaming.FunnelState`, a `session_window` aggregation) against
    * it per session, not just on the rollup. */
  private[graft] def sessionSteps(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapFlag = when(
      unix_micros($"ts") - unix_micros(lag($"ts", 1).over(byUser)) > 1800000000L, 1)
      .otherwise(0)
    val w = Window.partitionBy($"user_id", $"session_idx")
    ev
      .withColumn("new_session", gapFlag)
      .withColumn("session_idx", sum($"new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("t", unix_micros($"ts"))
      .withColumn("t_view", min(when($"event_type" === "view", $"t")).over(w))
      .withColumn("t_click",
        min(when($"event_type" === "click" && $"t" > $"t_view", $"t")).over(w))
      .withColumn("t_purchase",
        min(when($"event_type" === "purchase" && $"t" > $"t_click", $"t")).over(w))
      .groupBy($"user_id", $"session_idx")
      .agg(min($"t").as("t_start"), max($"t").as("t_end"),
        count(lit(1)).as("n_events"),
        max($"t_view").as("t_view"), max($"t_click").as("t_click"),
        max($"t_purchase").as("t_purchase"))
  }

  val sessionFunnelSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP))
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS t,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM g),
      |w1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_view FROM s),
      |w2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND t > t_view THEN t END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_click FROM w1),
      |w3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t > t_click THEN t END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_purchase FROM w2),
      |per AS (
      |  SELECT user_id, session_idx, max(t_view) AS t_view,
      |    max(t_click) AS t_click, max(t_purchase) AS t_purchase
      |  FROM w3 GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(count(t_view) AS BIGINT) AS n_view,
      |  CAST(count(t_click) AS BIGINT) AS n_view_click,
      |  CAST(count(t_purchase) AS BIGINT) AS n_view_click_purchase,
      |  CASE WHEN count(t_view) = 0 THEN 0.0 ELSE
      |    ((20000 * count(t_click) + count(t_view)) // (2 * count(t_view))) / 10000.0 END
      |    AS frac_click,
      |  CASE WHEN count(t_click) = 0 THEN 0.0 ELSE
      |    ((20000 * count(t_purchase) + count(t_click)) // (2 * count(t_click))) / 10000.0 END
      |    AS frac_purchase
      |FROM per""".stripMargin

  /** q107: SESSION CO-PRESENCE / LIFT — association mining over the
    * q28 sessions: for every unordered event-type pair, in how many
    * sessions do both occur, and the lift
    * P(a,b) / (P(a)·P(b)) = n_both·n_sessions / (n_a·n_b) — the
    * signal behind "users who view also purchase" dashboards and
    * funnel hypothesis ranking, which the reference's per-record SQL
    * surface cannot express.
    *
    * Scale shape (round 15 reshape, VERDICT r14 #3): ONE pass over
    * events. Session assignment is q28's one user_id shuffle; the
    * per-(user, session) `collect_set(event_type)` reuses that
    * partitioning (HashPartitioning(user_id) satisfies the clustering
    * on (user_id, session_idx) — no new exchange), so the old
    * distinct + st⋈st self-join + two extra recomputing branches are
    * gone. From each session's sorted type set one explode emits a
    * session marker (null,null), one single (t,null) per type, and
    * one ordered pair (a,b) per a<b — so the SAME tiny
    * count-aggregate (≤ |types|² + |types| + 1 groups; event_type is
    * a small enum) yields n_sessions, n_a/n_b, and n_both at once.
    * That bounded result is merged on the driver (same
    * constant-bounded materialization class as the merges tables /
    * 1-row argmax sites). The lift ratio keeps the round-3 integer
    * half-up 4 dp division so both engines agree on exact midpoints
    * (int64-safe to ~10^9 sessions × 10^4 pairs). */
  def sessionCopresence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // session membership via the same native session_window pass as
    // q28 (gap = SessionGap: split iff `diff > 1800 s`, the oracle's
    // rule); co-presence needs no session NUMBERS, so no window node
    // exists anywhere in this plan
    val sessions = Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", SessionGap))
      .agg(array_sort(collect_set($"event_type")).as("types"))
    val nullT = lit(null).cast("string")
    val entries = concat(
      array(struct(nullT.as("type_a"), nullT.as("type_b"))),
      transform($"types", x => struct(x.as("type_a"), nullT.as("type_b"))),
      flatten(transform($"types", (x, i) =>
        transform(slice($"types", i + lit(2), size($"types")),
          y => struct(x.as("type_a"), y.as("type_b"))))))
    val counted = sessions.select(explode(entries).as("e"))
      .groupBy($"e.type_a".as("ta"), $"e.type_b".as("tb"))
      .agg(count(lit(1)).as("n"))
      .collect() // bounded: |types|²+|types|+1 groups over a small enum
    val nSessions = counted.find(r => r.isNullAt(0) && r.isNullAt(1))
      .map(_.getLong(2)).getOrElse(0L)
    val nType = counted.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val out = counted.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).toSeq
      .map { r =>
        val ta = r.getString(0); val tb = r.getString(1); val nBoth = r.getLong(2)
        val na = nType(ta); val nb = nType(tb)
        // integer half-up at 4 dp, then double: matches the oracle's
        // `div`-then-`/10000.0` typing (q100's DOUBLE-not-DECIMAL rule)
        val lift = ((20000L * nBoth * nSessions + na * nb) / (2L * na * nb)) / 10000.0
        (ta, tb, nBoth, na, nb, nSessions, lift)
      }
      .sortBy(t => (t._1, t._2))
    out.toDF("type_a", "type_b", "n_both", "n_a", "n_b", "n_sessions", "lift")
  }

  /** Session CTE COMPOSES q28's arithmetic verbatim — one definition
    * of the session boundary; a gap-rule change updates both. */
  val sessionCopresenceSql: String =
    """WITH st AS (
      |  SELECT DISTINCT user_id, session_idx, event_type FROM (
      |    SELECT user_id, event_type,
      |      CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |    FROM (
      |      SELECT user_id, event_id, ts, event_type,
      |        CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |             THEN 1 ELSE 0 END AS new_session
      |      FROM events))),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
      |        FROM (SELECT DISTINCT user_id, session_idx FROM st)),
      |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type FROM st GROUP BY 1),
      |pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS n_both
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.session_idx = b.session_idx
      |   AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both, pa.n_type AS n_a, pb.n_type AS n_b,
      |  t.n_sessions,
      |  ((20000 * n_both * t.n_sessions + pa.n_type * pb.n_type)
      |    // (2 * pa.n_type * pb.n_type)) / 10000.0 AS lift
      |FROM pr JOIN pt pa ON pr.type_a = pa.event_type
      |        JOIN pt pb ON pr.type_b = pb.event_type
      |        CROSS JOIN tot t
      |ORDER BY type_a, type_b""".stripMargin

  val sessionizeSql: String =
    """SELECT user_id, session_idx, count(*) AS n_events,
      |  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Exact percentiles per group (Spark `percentile` and DuckDB
    * `quantile_cont` both linearly interpolate). */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE percentile aggregate evaluating all three points — a single
    // per-group value buffer instead of three (array-percentile shares
    // the sorted digest across requested points).
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(expr("percentile(value, array(0.5, 0.95, 0.99))").as("ps"))
      .select($"event_type",
        round($"ps"(0), 4).as("p50"),
        round($"ps"(1), 4).as("p95"),
        round($"ps"(2), 4).as("p99"))
      .domainOrdered($"event_type")
  }

  val valuePercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.95), 4) AS p95,
      |  round(quantile_cont(value, 0.99), 4) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Approximate percentiles — the 100 TB sibling of q29 (VERDICT r01
    * next-steps #10): `percentile_approx` keeps a fixed-size mergeable
    * Greenwald–Khanna sketch per group (map-side partials, no
    * sort-every-group like exact percentile). Self-validating like
    * q19, with a RANK-SANDWICH bound rather than a value tolerance
    * (the approx is a discrete order statistic while exact
    * `percentile` interpolates — on small groups a value tolerance is
    * ill-posed): the approx p must land between the interpolated
    * (p−0.02) and (p+0.02) quantiles, which holds by rank monotonicity
    * whenever the sketch's rank error ≤ 0.02·n (groups ≥ ~52 rows;
    * every fixture SF qualifies). Booleans pinned to true in the
    * oracle; the exact p50/p95 are oracle-matched values. */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def sandwiched(a: Column, lo: Column, hi: Column): Column = a >= lo && a <= hi
    // one exact-percentile buffer for all six points + one GK sketch
    // for both approx points (array forms share per-group state)
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(expr("percentile(value, array(0.48, 0.5, 0.52, 0.93, 0.95, 0.97))").as("e"),
        expr("percentile_approx(value, array(0.5, 0.95), 10000)").as("a"))
      .select($"event_type",
        round($"e"(1), 4).as("p50"), round($"e"(4), 4).as("p95"),
        sandwiched($"a"(0), $"e"(0), $"e"(2)).as("approx_p50_in_rank_band"),
        sandwiched($"a"(1), $"e"(3), $"e"(5)).as("approx_p95_in_rank_band"))
      .domainOrdered($"event_type")
  }

  val approxPercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.95), 4) AS p95,
      |  true AS approx_p50_in_rank_band,
      |  true AS approx_p95_in_rank_band
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Heavy hitters per event type via the mergeable Misra–Gries
    * sketch ([[graft.functions.FrequentItemsSketch]]) — the
    * "trending entities" primitive of a 100 TB pipeline (per-
    * partition sketches combine map-side; stored per-day sketches
    * re-aggregate without rescanning raw data).
    *
    * Self-validating against the sketch's two THEOREMS, both
    * verified in-query against exact counts and pinned `true` by the
    * oracle (they hold for any input, so the oracle is
    * deterministic):
    *   - bound: est ≤ true ≤ est + max_err for every tracked item;
    *   - coverage: every item with true count > max_err is tracked. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    // localCheckpoint: the tiny (one row per event_type) sketch result
    // feeds both validation branches — materialize it once instead of
    // trusting ReuseExchange to dedupe two sketch aggregations.
    val sk = ev.groupBy($"event_type")
      .agg(graft.functions.FrequentItemsSketch.freq_items($"user_id", 64).as("fi"),
        count(lit(1)).as("n_events"))
      .reliableCheckpoint()
    val tracked = sk.select($"event_type", $"n_events", $"fi.max_err".as("max_err"),
        explode($"fi.items").as("it"))
      .select($"event_type", $"n_events", $"max_err",
        $"it.item".as("item"), $"it.est".as("est"))
    // NULL keys are skipped by the sketch (update ignores null input),
    // so they must be excluded from the exact side too — a NULL-keyed
    // group would otherwise survive the left_anti join forever and
    // falsify coverage_holds on data with NULL user_ids.
    val exact = ev.filter($"user_id".isNotNull)
      .groupBy($"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("true_cnt"))
    val bounds = tracked.join(exact, Seq("event_type", "item"), "left")
      .groupBy($"event_type")
      .agg(first($"n_events").as("n_events"),
        bool_and($"true_cnt".isNotNull &&
          $"true_cnt" >= $"est" && $"true_cnt" <= $"est" + $"max_err").as("bounds_hold"))
    val uncovered = exact
      .join(sk.select($"event_type", $"fi.max_err".as("max_err")), Seq("event_type"))
      .filter($"true_cnt" > $"max_err")
      .join(tracked.select($"event_type", $"item"), Seq("event_type", "item"), "left_anti")
      .groupBy($"event_type").agg(count(lit(1)).as("n_uncovered"))
    bounds.join(uncovered, Seq("event_type"), "left")
      .select($"event_type", $"n_events", $"bounds_hold",
        (coalesce($"n_uncovered", lit(0L)) === 0).as("coverage_holds"))
      .domainOrdered($"event_type")
  }

  val heavyHittersSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  true AS bounds_hold, true AS coverage_holds
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q88: Count-Min point-frequency sketch, SELF-VALIDATING (the
    * q19/q56/q57 sketch-family pattern — the sketch's guarantees are
    * verified in-query against exact counts, and the oracle pins the
    * booleans plus the exactly-reproducible counts):
    *   - `overestimate_holds`: a THEOREM (min over an item's buckets
    *     counts at least all its occurrences) — true for any data;
    *   - `within_4x_eps`: est − true ≤ 4·n/width for EVERY probed
    *     item — probabilistic in general, deterministic here (fixed
    *     seeds, fixed data; the q19 ±5% precedent), verified at both
    *     gate SFs with ~4× headroom over the expected n/width
    *     colliding mass per row.
    * The probe set is every distinct (event_type, user_id) — the
    * validation join is exact-count-sized, while the sketch itself is
    * O(depth·width) per group: the production artifact a pipeline
    * stores per day/source and point-queries without rescanning. */
  def cmsFrequency(s: SparkSession, dir: String): DataFrame =
    cmsFrequencyOver(Tables.events(s, dir))

  /** The q88 pipeline over any (event_type, user_id) frame at any
    * sketch geometry — injectable so the all-NULL-user-ids branch
    * (anchor join + vacuous-truth booleans), unreachable on the
    * fixture, and off-default width/depth have real specs. Build and
    * probe share `width`/`depth` by construction, so a width mismatch
    * between them cannot occur. */
  private[graft] def cmsFrequencyOver(ev: DataFrame,
      width: Int = graft.functions.CountMin.DefaultWidth,
      depth: Int = graft.functions.CountMin.DefaultDepth): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    // checkpoint: one row per event_type; feeds the probe join once
    // instead of re-running the sketch aggregation per consumer
    val sk = ev.groupBy($"event_type")
      .agg(graft.functions.CountMin.cms_sketch($"user_id".cast("string"), width, depth)
        .as("cms"),
        count(lit(1)).as("n_events"))
      .reliableCheckpoint()
    val exact = ev.filter($"user_id".isNotNull)
      .groupBy($"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("true_cnt"))
    val probeAgg = exact.join(sk, Seq("event_type"))
      .withColumn("est",
        graft.functions.CountMin.cms_query($"cms.table", $"item", width, depth))
      .withColumn("within", $"est" - $"true_cnt" <= expr(s"(4 * n_events) div $width"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_items"),
        bool_and($"est" >= $"true_cnt").as("overestimate_holds"),
        bool_and($"within").as("within_4x_eps"))
    // anchor on the sketch side: an event_type whose user_ids are ALL
    // NULL has no probes, but it still owns a sketch row and must
    // appear in the report (n_items 0, vacuously-true booleans) — an
    // inner probe join would silently drop it while the oracle keeps
    // it. Not reachable on the fixture; reachable on real data.
    sk.select($"event_type", $"n_events")
      .join(probeAgg, Seq("event_type"), "left")
      .select($"event_type", $"n_events",
        coalesce($"n_items", lit(0L)).as("n_items"),
        coalesce($"overestimate_holds", lit(true)).as("overestimate_holds"),
        coalesce($"within_4x_eps", lit(true)).as("within_4x_eps"))
      .domainOrdered($"event_type")
  }

  val cmsFrequencySql: String =
    """SELECT event_type, count(*) AS n_events,
      |  count(DISTINCT CASE WHEN user_id IS NOT NULL THEN user_id END) AS n_items,
      |  true AS overestimate_holds, true AS within_4x_eps
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q63: the PRODUCTION-shaped heavy-hitters query (VERDICT r02 #6):
    * top-5 trending users per event type straight from the
    * Misra–Gries sketch — ONE aggregation, no exact-count harness, so
    * the bench row prices the sketch itself (q57 keeps the
    * theorem-validated form as the correctness row; its exact-count
    * validation joins cost ~100× the sketch on skewed data). Rows-only
    * check by design: the estimates are sketch-order-dependent and
    * not SQL-reproducible; their error bounds are exactly what q57
    * pins against DuckDB. */
  def heavyHittersTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"est".desc, $"item")
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(graft.functions.FrequentItemsSketch.freq_items($"user_id", 64).as("fi"))
      .select($"event_type", explode($"fi.items").as("it"))
      .select($"event_type", $"it.item".as("item"), $"it.est".as("est"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"event_type", $"rank", $"item", $"est")
      .domainOrdered($"event_type", $"rank")
  }

  /** q64: z-order layout rewrite under a CORRECTNESS oracle (VERDICT
    * r02 #7): write a z-ordered copy of `events` on (user_id, value)
    * via [[graft.operators.Scale.zorderWrite]], then run a selective
    * TWO-SIDED filter over the rewritten copy. The oracle runs the
    * same filter over the ORIGINAL table in DuckDB — a hash match
    * proves the Morton rewrite is lossless (no row lost, duplicated,
    * or mutated by the three-stage repartition/interleave/sort
    * pipeline). ScaleSpec complements this with the skip metric: the
    * fraction of output files whose (min,max) envelope overlaps this
    * predicate — the files a stats-aware scanner reads — shrinks vs
    * the unordered layout. */
  def zorderScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_zorder_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).getAbsolutePath
    graft.operators.Scale.zorderWrite(
      Tables.events(s, dir).select($"event_id", $"user_id", $"value", $"event_type"),
      "user_id", "value", path)
    s.read.parquet(path)
      .filter($"user_id".between(100, 130) && $"value".between(40.0, 70.0))
      .select($"event_id", $"user_id", round($"value", 2).as("value"), $"event_type")
      .orderBy($"event_id")
  }

  val zorderScanSql: String =
    """SELECT event_id, user_id, round(value, 2) AS value, event_type
      |FROM events
      |WHERE user_id BETWEEN 100 AND 130 AND value BETWEEN 40.0 AND 70.0
      |ORDER BY event_id""".stripMargin

  /** Un-materialized q67 stack. Round 10: the round-3 form was one
    * `Window.partitionBy(event_type)` over the raw corpus — the
    * low-cardinality anti-pattern the PlanSpec lint rejects (it was
    * the LAST genuine instance, visible only here because the
    * registered query's checkpoint hides it from the sweep). All
    * five analytics derive from the EXACT GLOBAL RANK, and a rank is
    * a prefix count — so the q70/q75/q85 two-level construction
    * applies: shard each type by VALUE-QUANTILE buckets (monotone, so
    * concatenating shards in shard order IS the (value, event_id)
    * order; value ties colocate in one shard by construction), rank
    * locally per (type, shard), and broadcast per-shard offsets and
    * edge values back from a tiny aggregate. From the exact rank r
    * and type count n (unique ORDER BY key ⇒ every row is its own
    * peer group):
    *   percent_rank = (r−1)/(n−1)   (0 when n = 1, Spark's special case)
    *   cume_dist    = r/n
    *   ntile(4)     = Spark's uneven-bucket arithmetic (first n mod 4
    *                  buckets hold one extra row)
    * lag/lead run WITHIN each shard; only a shard's boundary rows
    * read the neighbor shard's edge value from the broadcast frame.
    * The DuckDB oracle keeps the single-window formulation — the hash
    * match proves the decomposition reproduces it exactly. */
  private[graft] def valueWindowStatsCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    // one small agg job: 63 global value cutpoints (a monotone bucket
    // mapping — per-type cuts are unnecessary: rank exactness never
    // depends on shard balance, only parallelism does)
    val fracs = (1 until 64).map(i => i / 64.0)
    val cutsRaw = ev.agg(
      percentile_approx($"value", typedlit(fracs), lit(1000)).as("c")).head()
    val cuts: Array[Double] =
      if (cutsRaw.isNullAt(0)) Array.empty
      else cutsRaw.getSeq[Double](0).distinct.sorted.toArray
    val shardCol =
      if (cuts.isEmpty) lit(0L)
      else graft.functions.expressions.quantile_bucket($"value".cast("double"), cuts)
    val base = ev.withColumn("shard", shardCol)
    val wLocal = Window.partitionBy($"event_type", $"shard")
      .orderBy($"value", $"event_id")
    // tiny frame: one row per (type, shard) — running offsets, type
    // totals, and both edge values from ONE aggregate; its windows
    // run over ≤ types × 65 rows
    val wShard = Window.partitionBy($"event_type").orderBy($"shard")
    val shardAgg = base.groupBy($"event_type", $"shard")
      .agg(count(lit(1)).as("cnt"),
        min(struct($"value", $"event_id")).as("lo"),
        max(struct($"value", $"event_id")).as("hi"))
      .withColumn("offset",
        coalesce(sum($"cnt").over(wShard.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_type", sum($"cnt").over(
        Window.partitionBy($"event_type")))
      .withColumn("prev_edge", lag($"hi.value", 1).over(wShard))
      .withColumn("next_edge", lead($"lo.value", 1).over(wShard))
      .select($"event_type", $"shard", $"offset", $"n_type",
        $"prev_edge", $"next_edge")
    // Spark's ntile(k): n rows, q = n div k, r = n mod k; buckets
    // 1..r hold q+1 rows, the rest q — integer arithmetic on the
    // exact rank reproduces it bit-for-bit
    def ntile4(rank: Column, n: Column): Column = {
      // exact long floor-div (operands are positive row counts far
      // below 2^52, so the double division is exact)
      def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
      val q = idiv(n, lit(4L))
      val r = n % 4
      when(rank <= r * (q + 1), idiv(rank - 1, q + 1) + 1)
        .otherwise(r + idiv(rank - r * (q + 1) - 1, q) + 1)
    }
    base
      .withColumn("local_rn", row_number().over(wLocal))
      .withColumn("prev_in_shard", lag($"value", 1).over(wLocal))
      .withColumn("next_in_shard", lead($"value", 1).over(wLocal))
      .join(broadcast(shardAgg), Seq("event_type", "shard"))
      .withColumn("rank", $"offset" + $"local_rn")
      .withColumn("quartile", ntile4($"rank", $"n_type").cast("int"))
      .withColumn("pct_rank", round(
        when($"n_type" === 1, 0.0)
          .otherwise(($"rank" - 1).cast("double") / ($"n_type" - 1)), 6))
      .withColumn("cume", round($"rank".cast("double") / $"n_type", 6))
      .withColumn("prev_delta", round(
        $"value" - coalesce($"prev_in_shard", $"prev_edge", $"value"), 4))
      .withColumn("next_delta", round(
        coalesce($"next_in_shard", $"next_edge", $"value") - $"value", 4))
      .filter($"user_id" % 100 === 0)
      .select($"event_id", $"event_type", round($"value", 2).as("value"),
        $"quartile", $"pct_rank", $"cume", $"prev_delta", $"next_delta")
  }

  /** q67: the analytic window-function family (SURVEY §2.6
    * completeness — ranking covered by q02/q06/q17, this adds the
    * DISTRIBUTION and OFFSET functions): quartile via ntile,
    * percent_rank, cume_dist, and lag/lead deltas, all over ONE
    * window spec (event_type; value, event_id) so Spark evaluates a
    * single WindowExec pass after one shuffle. Output bounded to a
    * deterministic user sample purely to keep the export small — the
    * window computation runs over the full table (the frame needs
    * every row for correct distributions). */
  def valueWindowStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    valueWindowStatsCore(s, dir)
      // the export keeps only the 1% user slice, so materializing it
      // before the sort is far cheaper than the sampling pass
      // re-executing the full-table WindowExec (A/B at sf0.1:
      // 0.54 → 0.39 s warm; contrast q28, where the slice is the
      // whole output and the checkpoint measured slower)
      .reliableCheckpoint()
      .orderBy($"event_id")
  }

  val valueWindowStatsSql: String =
    """SELECT event_id, event_type, round(value, 2) AS value,
      |  quartile, pct_rank, cume, prev_delta, next_delta FROM (
      |  SELECT event_id, event_type, value, user_id,
      |    ntile(4) OVER w AS quartile,
      |    round(percent_rank() OVER w, 6) AS pct_rank,
      |    round(cume_dist() OVER w, 6) AS cume,
      |    round(value - coalesce(lag(value, 1) OVER w, value), 4) AS prev_delta,
      |    round(coalesce(lead(value, 1) OVER w, value) - value, 4) AS next_delta
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
      |WHERE user_id % 100 = 0 ORDER BY event_id""".stripMargin

  /** AS-OF join (the time-series operator Spark lacks natively): for
    * every click event, the latest purchase of the same user at or
    * before the click's timestamp. Implemented WITHOUT a join — the
    * classic scale-safe union-and-carry-forward plan: tag both sides,
    * union, one shuffle on user_id, and a running
    * `last(ignoreNulls)` window carries the most recent purchase
    * forward to each click. O(n log n/partition) with bounded memory,
    * versus the O(n·m)-per-key cross product an inequality join would
    * plan. At equal timestamps the purchase sorts first (is_a = 0),
    * matching ASOF's inclusive `>=`. Oracle: DuckDB's native ASOF
    * JOIN (timestamps cast to µs on both sides so comparisons agree
    * with Spark's µs-floored events.ts). Known fragility, latent on
    * the fixture: when two purchases share an identical (user_id, ts)
    * microsecond, this picks the max event_id deterministically while
    * DuckDB's ASOF picks an arbitrary tied row — the fixture has zero
    * such collisions (ns timestamps), so the hash match is stable. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts", lit(1).as("is_a"),
        lit(null).cast("long").as("b_event"), lit(null).cast("double").as("b_value"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", lit(0).as("is_a"),
        $"event_id".as("b_event"), $"value".as("b_value"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"is_a", $"b_event")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE struct carried forward so (event, value) always come from the
    // SAME purchase row — two independent last(ignoreNulls) windows
    // would pair the latest event id with an older non-null value
    // whenever the latest purchase's value is NULL. The struct is null
    // for click rows (so ignoreNulls skips them) but non-null for a
    // purchase with a NULL value (so that purchase still wins).
    clicks.unionByName(purchases)
      .withColumn("b_pair",
        when($"is_a" === 0, struct($"b_event", $"b_value")))
      .withColumn("asof", last($"b_pair", ignoreNulls = true).over(w))
      .filter($"is_a" === 1 && $"asof".isNotNull)
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        $"asof.b_event".as("asof_event"),
        round($"asof.b_value", 2).as("asof_value"))
      .orderBy($"event_id")
  }

  /** q80: SCD2 INTERVAL ASSEMBLY — turn a change log into
    * slowly-changing-dimension validity windows: each event becomes a
    * record valid from its own timestamp until the user's next event
    * (null valid_to = the current record). One lead() window per
    * user; the user-slice filter runs BEFORE the window — the window
    * partitions by user_id, so dropping whole users is
    * semantics-preserving and the predicate reaches the scan instead
    * of post-filtering a full-corpus window (at 100 TB that is the
    * difference between shuffling 5% and 100% of the log). */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .filter($"user_id" % 20 === 0)
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .withColumn("next_ts", lead($"ts", 1).over(w))
      .select($"user_id", $"event_id", $"event_type",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format($"next_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
        $"next_ts".isNull.as("is_current"))
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  val scd2IntervalsSql: String =
    """SELECT user_id, event_id, event_type,
      |  strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |  strftime(lead(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM events WHERE user_id % 20 = 0
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** q135: SCD2 INCREMENTAL MERGE — apply a change-log delta to an
    * existing SCD2 dimension WITHOUT rebuilding it, and prove the
    * result identical to the full rebuild. q80 assembles validity
    * intervals from the whole history in one pass; at 100 TB the
    * nightly reality is a standing dimension plus a day of new
    * changes, and re-windowing years of history to absorb a day is
    * the anti-pattern this operator replaces. The merge touches ONLY
    * delta-sized state:
    *   - closed base rows pass through untouched (at scale: not even
    *     read — they live in the stored dim; here the base is built
    *     in-plan as the stand-in for that table),
    *   - each affected user's single OPEN row is closed at that
    *     user's first delta timestamp (one broadcast-sized join — the
    *     first-delta frame has one row per AFFECTED user),
    *   - the delta re-windows ONLY within itself (a window over
    *     delta-sized data; base events are strictly older than every
    *     delta event, so the per-user chain composes exactly).
    * Users with no delta keep their open row (left join ⇒ null close);
    * users born in the delta get fresh chains with no base row —
    * both branches are fixture-vacuous (every sampled user has
    * activity on both sides of the cutoff) and pinned on constructed
    * corpora in PipelineOpsSpec instead.
    *
    * The ORACLE IS THE IDENTITY: q80's full-rebuild SQL verbatim —
    * DuckDB re-windows the entire history, the engine merges
    * incrementally, and the interval sets must hash-match. */
  def scd2IncrementalMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = Tables.events(s, dir)
      .filter($"user_id" % 20 === 0)
      .select($"user_id", $"event_id", $"event_type", $"ts")
    scd2MergeOver(
      all.filter($"ts" < lit(Scd2Cutoff).cast("timestamp")),
      all.filter($"ts" >= lit(Scd2Cutoff).cast("timestamp")))
  }

  /** The q135 delta-merge core over injectable (user_id, event_id,
    * event_type, ts) base/delta change logs. Precondition (the SCD2
    * contract): every base event is strictly older than every delta
    * event for the same user. */
  private[graft] val Scd2Cutoff = "2024-01-20 00:00:00"
  private[graft] def scd2MergeOver(baseEv: DataFrame, deltaEv: DataFrame): DataFrame = {
    val s = baseEv.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    // the standing dimension (in production: a stored table)
    val base = baseEv.withColumn("next_ts", lead($"ts", 1).over(w))
    val firstDelta = deltaEv.groupBy($"user_id")
      .agg(min(struct($"ts", $"event_id")).as("fd"))
      .select($"user_id", $"fd.ts".as("delta_start"))
    val closedBase = base.filter($"next_ts".isNotNull)
    val openBase = base.filter($"next_ts".isNull)
      .drop("next_ts")
      .join(broadcast(firstDelta), Seq("user_id"), "left")
      .withColumn("next_ts", $"delta_start") // null ⇒ user untouched, stays open
      .drop("delta_start")
    val deltaRows = deltaEv.withColumn("next_ts", lead($"ts", 1).over(w))
    closedBase.unionByName(openBase).unionByName(deltaRows)
      .select($"user_id", $"event_id", $"event_type",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format($"next_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
        $"next_ts".isNull.as("is_current"))
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** q139: EVENT-VOLUME ANOMALY DETECTION — robust day-over-day
    * outlier scoring per event type via median/MAD, the monitoring
    * query a pipeline runs over its own ingest volumes (mean/stddev
    * break exactly when it matters: the anomaly inflates the mean
    * and masks itself; the median/MAD pair is outlier-resistant).
    *
    * ALL-INTEGER robust statistics over a BOUNDED domain (the q132
    * discipline): daily counts are exact integers; `med` is the
    * LOWER MEDIAN (element ceil(n/2) of the sorted array — no
    * interpolation, no float); `mad` is the lower median of the
    * absolute deviations; the score is `|c−med|·1000 div max(mad,1)`
    * (milli-MADs) and the flag fires at ≥ 3 MADs. Every collected
    * array is bounded by the DAY DOMAIN per type (30 at the fixture,
    * 365-ish in production), never by event count — so the two
    * collect_list aggregates carry constant state and the threshold
    * rows broadcast back. One corpus-sized aggregate total
    * (map-side-combined (type, day) counts); everything after is
    * day-domain-bounded. Both flag polarities fire at both gate SFs
    * (max scores 2.4–5.7 MADs). */
  def eventAnomalies(s: SparkSession, dir: String): DataFrame =
    eventAnomaliesOver(Tables.events(s, dir))

  /** q139 over an injectable (event_type, ts) frame (round-7 rule). */
  private[graft] def eventAnomaliesOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val d = events
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("c"))
    val med = d.groupBy($"event_type")
      .agg(sort_array(collect_list($"c")).as("arr"))
      .select($"event_type",
        element_at($"arr", expr("(size(arr) + 1) div 2").cast("int")).as("med"))
    val dev = d.join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs($"c" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(sort_array(collect_list($"ad")).as("arr2"))
      .select($"event_type",
        element_at($"arr2", expr("(size(arr2) + 1) div 2").cast("int")).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("score", expr("(ad * 1000) div greatest(mad, 1)"))
      .select($"event_type", $"day", $"c", $"med", $"mad", $"score",
        ($"score" >= 3000).as("is_anomaly"))
      .orderBy($"event_type", $"day")
  }

  val eventAnomaliesSql: String =
    """WITH d AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |arrs AS (SELECT event_type, list_sort(list(c)) AS arr FROM d GROUP BY 1),
      |med AS (SELECT event_type, arr[(len(arr) + 1) // 2] AS med FROM arrs),
      |dev AS (SELECT d.event_type, d.day, d.c, med.med, abs(d.c - med.med) AS ad
      |        FROM d JOIN med USING (event_type)),
      |mads AS (SELECT event_type, list_sort(list(ad)) AS arr2 FROM dev GROUP BY 1),
      |mad AS (SELECT event_type, arr2[(len(arr2) + 1) // 2] AS mad FROM mads)
      |SELECT dev.event_type, dev.day, dev.c, dev.med, mad.mad,
      |  (dev.ad * 1000) // greatest(mad.mad, 1) AS score,
      |  (dev.ad * 1000) // greatest(mad.mad, 1) >= 3000 AS is_anomaly
      |FROM dev JOIN mad USING (event_type)
      |ORDER BY event_type, day""".stripMargin

  /** q142: VOLUME TREND per event type — ordinary-least-squares slope
    * of daily counts over time, q139's directional companion (q139
    * flags the outlier day; this reports the drift). Exactness
    * discipline: x is CENTERED on the per-type minimum day (slope is
    * origin-invariant, and with raw epoch-day x (~20000) intermediates
    * like n·Σxy break past 2^53 — and past Long at ~1e10 events/day
    * over a year — while centered x is bounded by the type's active
    * SPAN in days, keeping every product exactly representable for
    * any realistic domain; ADVICE r15). The slope then assembles from
    * FIVE EXACT INTEGER SUMS per type
    * (n, Σx, Σy, Σxy, Σx²) folded in one map-side-combined aggregate:
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    * The final division is the one inexact step and it is a SINGLE
    * IEEE double divide of two exactly-represented integers (both
    * < 2^53), so round(·, 6) is bit-identical cross-engine — the
    * q114 rule (÷ is correctly rounded; that is why there is no
    * `div` here: integer floor-division of a NEGATIVE numerator
    * truncates toward zero in Spark and floors in DuckDB, a real
    * cross-engine trap the double divide sidesteps). A type active on
    * a single day has denominator 0; its slope is GUARDED to NULL
    * (n ≥ 2) — without the guard Spark's non-ANSI divide yields NULL
    * while DuckDB's IEEE divide yields NaN and `rising` diverges
    * (ADVICE r15).
    * Scale: one aggregate over (type, day) counts (the per-type
    * min-day frame is |types|-bounded, broadcast); 5 longs of state
    * per type. */
  def eventTrend(s: SparkSession, dir: String): DataFrame =
    eventTrendOver(Tables.events(s, dir))

  /** q142 over an injectable (event_type, ts) frame (round-7 rule:
    * slopes of ±1 and 0 are hand-checkable on constructed days). */
  private[graft] def eventTrendOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val d = events
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("xd", datediff($"day", lit("1970-01-01").cast("date")).cast("long"))
    val x0 = d.groupBy($"event_type").agg(min($"xd").as("x0"))
    d.join(broadcast(x0), Seq("event_type"))
      .withColumn("x", $"xd" - $"x0")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"event_type", $"n",
        when($"n" >= 2,
          round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx"), 6)).as("slope_per_day"))
      .withColumn("rising", $"slope_per_day" > 0.0)
      .orderBy($"event_type")
  }

  val eventTrendSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |xd AS (SELECT event_type, y,
      |        CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS xd
      |      FROM d),
      |x0 AS (SELECT event_type, min(xd) AS x0 FROM xd GROUP BY 1),
      |x AS (SELECT xd.event_type, xd.y, xd.xd - x0.x0 AS x
      |      FROM xd JOIN x0 USING (event_type)),
      |sums AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM x GROUP BY 1)
      |SELECT event_type, n,
      |  CASE WHEN n >= 2 THEN
      |    round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6)
      |  END AS slope_per_day,
      |  CASE WHEN n >= 2 THEN
      |    round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6)
      |  END > 0.0 AS rising
      |FROM sums ORDER BY event_type""".stripMargin

  /** q77: the SAME as-of query as q59, executed by the NATIVE
    * [[graft.plans.AsOfJoinExec]] operator (custom LogicalPlan +
    * Strategy + physical merge scan) instead of the union+window
    * formulation — both are hash-checked against DuckDB's native
    * ASOF JOIN, so the custom operator's correctness rides the same
    * oracle as the compositional form. The merge scan keeps O(1)
    * state per partition (one buffered right row), where the q59
    * window must sort clicks+purchases together and carry the
    * carry-forward struct through WindowExec. */
  def asofJoinNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"event_id".as("b_event"), $"value".as("b_value"))
    graft.plans.AsOfJoin.asofJoin(clicks, purchases,
        leftKeys = Seq("user_id"), rightKeys = Seq("p_user"),
        leftTimeCol = "ts", rightTimeCol = "p_ts")
      .filter($"b_event".isNotNull) // inner as-of, matching q59/the oracle
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        $"b_event".as("asof_event"),
        round($"b_value", 2).as("asof_value"))
      .orderBy($"event_id")
  }

  /** q110: TOLERANCE-BOUNDED AS-OF — q77's native as-of join with the
    * pandas `merge_asof(tolerance=…)` constraint: a click is only
    * attributed to a purchase made within the preceding 10 minutes
    * (the attribution-window rule every ads/analytics pipeline
    * carries). Exercises the round-15 `tolerance` parameter of the
    * custom operator end-to-end; the oracle is DuckDB's native ASOF
    * with the same integer-micros gap bound as a post-filter — sound
    * on both engines because backward as-of keeps the LATEST match,
    * so "latest within tolerance" ≡ "latest, then tolerance-checked".
    * Inner-filtered like q77 (unmatched + out-of-window clicks drop). */
  def asofTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"event_id".as("b_event"), $"value".as("b_value"))
    graft.plans.AsOfJoin.asofJoin(clicks, purchases,
        leftKeys = Seq("user_id"), rightKeys = Seq("p_user"),
        leftTimeCol = "ts", rightTimeCol = "p_ts",
        tolerance = Some(expr("INTERVAL 600 SECONDS")))
      .filter($"b_event".isNotNull)
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        $"b_event".as("asof_event"),
        round($"b_value", 2).as("asof_value"),
        expr("(unix_micros(ts) - unix_micros(p_ts)) div 1000000").as("gap_s"))
      .orderBy($"event_id")
  }

  val asofToleranceSql: String =
    """SELECT event_id, user_id, ts_s, asof_event, asof_value, gap_s FROM (
      |  SELECT a.event_id, a.user_id,
      |    strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |    b.event_id AS asof_event, round(b.value, 2) AS asof_value,
      |    (epoch_us(a.ts) - epoch_us(b.ts)) // 1000000 AS gap_s,
      |    epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
      |  FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      |        WHERE event_type = 'click') a
      |  ASOF JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events
      |             WHERE event_type = 'purchase') b
      |    ON a.user_id = b.user_id AND a.ts >= b.ts)
      |WHERE gap_us <= 600000000
      |ORDER BY event_id""".stripMargin

  /** q111: FORWARD AS-OF — for each click, the user's NEXT purchase
    * (time-to-conversion, the mirror of q77's attribution lookup and
    * pandas `direction="forward"`). Runs on the round-15
    * [[graft.plans.AsOfJoin.asofJoinForward]] reduction (time
    * negation over the same O(1)-state merge scan); the oracle is
    * DuckDB's native ASOF with the inequality flipped
    * (`a.ts <= b.ts` selects the smallest b.ts ≥ a.ts). Same tie
    * caveat as q59/q77; the fixture's microsecond timestamps are
    * collision-free. */
  def asofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"event_id".as("b_event"), $"value".as("b_value"))
    graft.plans.AsOfJoin.asofJoinForward(clicks, purchases,
        leftKeys = Seq("user_id"), rightKeys = Seq("p_user"),
        leftTimeCol = "ts", rightTimeCol = "p_ts")
      .filter($"b_event".isNotNull)
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        $"b_event".as("next_event"),
        round($"b_value", 2).as("next_value"),
        expr("(unix_micros(p_ts) - unix_micros(ts)) div 1000000").as("wait_s"))
      .orderBy($"event_id")
  }

  val asofForwardSql: String =
    """SELECT a.event_id, a.user_id,
      |  strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |  b.event_id AS next_event, round(b.value, 2) AS next_value,
      |  (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS wait_s
      |FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      |      WHERE event_type = 'click') a
      |ASOF JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events
      |           WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id AND a.ts <= b.ts
      |ORDER BY a.event_id""".stripMargin

  /** q112: NEAREST AS-OF — each click attributed to its closest
    * purchase in EITHER direction (pandas `direction="nearest"`,
    * ties backward), on the round-15
    * [[graft.plans.AsOfJoin.asofJoinNearest]] two-pass composition.
    * `offset_s` is signed: positive = the purchase preceded the
    * click. The oracle reconstructs nearest from DuckDB's two native
    * ASOF directions joined per click with the same
    * integer-micros tie rule — a different construction arriving at
    * the same row set, which is what makes the hash meaningful. */
  def asofNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"event_id".as("b_event"), $"value".as("b_value"))
    graft.plans.AsOfJoin.asofJoinNearest(clicks, purchases,
        leftKeys = Seq("user_id"), rightKeys = Seq("p_user"),
        leftTimeCol = "ts", rightTimeCol = "p_ts")
      .filter($"b_event".isNotNull)
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        $"b_event".as("near_event"),
        round($"b_value", 2).as("near_value"),
        expr("(unix_micros(ts) - unix_micros(p_ts)) div 1000000").as("offset_s"))
      .orderBy($"event_id")
  }

  val asofNearestSql: String =
    """WITH a AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      |           WHERE event_type = 'click'),
      |b AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events
      |      WHERE event_type = 'purchase'),
      |bwd AS (
      |  SELECT a.event_id, a.user_id, a.ts,
      |    b.event_id AS b_event, b.value AS b_value, b.ts AS b_ts
      |  FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts >= b.ts),
      |fwd AS (
      |  SELECT a.event_id,
      |    b.event_id AS f_event, b.value AS f_value, b.ts AS f_ts
      |  FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts <= b.ts)
      |SELECT event_id, user_id, ts_s, near_event, near_value,
      |  (epoch_us(ts) - epoch_us(near_ts)) // 1000000 AS offset_s
      |FROM (
      |  SELECT bwd.event_id, bwd.user_id, bwd.ts,
      |    strftime(bwd.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |    CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
      |           epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))
      |         THEN b_event ELSE f_event END AS near_event,
      |    CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
      |           epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))
      |         THEN round(b_value, 2) ELSE round(f_value, 2) END AS near_value,
      |    CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
      |           epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))
      |         THEN b_ts ELSE f_ts END AS near_ts
      |  FROM bwd JOIN fwd USING (event_id))
      |WHERE near_event IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** q113: STRICT AS-OF (pandas `allow_exact_matches=False`) — for
    * each click, the latest purchase-MINUTE of the same user STRICTLY
    * before the click's minute. Times are truncated to the minute so
    * exact collisions actually occur (the fixture's microsecond
    * timestamps never collide, which would make strictness
    * unobservable); the right side is pre-aggregated to one row per
    * (user, minute) — count + integer-cents sum, the q12 exactness
    * discipline — so the match payload is tie-free and deterministic
    * on both engines. Exercises the round-15 `allowExact = false`
    * merge-scan mode (advance test `<` instead of `≤`: an equal-time
    * right row is neither matched nor consumed, staying buffered for
    * later left rows). Oracle: DuckDB's native ASOF with the strict
    * inequality `a.ts_m > b.p_m`. */
  def asofStrict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", date_trunc("minute", $"ts").as("ts_m"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), date_trunc("minute", $"ts").as("p_m"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy($"p_user", $"p_m")
      .agg(count(lit(1)).as("p_cnt"), sum($"cents").as("p_cents"))
    graft.plans.AsOfJoin.asofJoin(clicks, purchases,
        leftKeys = Seq("user_id"), rightKeys = Seq("p_user"),
        leftTimeCol = "ts_m", rightTimeCol = "p_m",
        allowExact = false)
      .filter($"p_cnt".isNotNull)
      .select($"event_id", $"user_id",
        date_format($"ts_m", "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        date_format($"p_m", "yyyy-MM-dd HH:mm:ss").as("p_m_s"),
        $"p_cnt", $"p_cents")
      .orderBy($"event_id")
  }

  val asofStrictSql: String =
    """SELECT a.event_id, a.user_id,
      |  strftime(a.ts_m, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  strftime(b.p_m, '%Y-%m-%d %H:%M:%S') AS p_m_s,
      |  b.p_cnt, b.p_cents
      |FROM (SELECT event_id, user_id, date_trunc('minute', ts::TIMESTAMP) AS ts_m
      |      FROM events WHERE event_type = 'click') a
      |ASOF JOIN (
      |  SELECT user_id, date_trunc('minute', ts::TIMESTAMP) AS p_m,
      |    count(*) AS p_cnt,
      |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS p_cents
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1, 2) b
      |  ON a.user_id = b.user_id AND a.ts_m > b.p_m
      |ORDER BY a.event_id""".stripMargin

  /** q120: COHORT RETENTION — the classic product-analytics matrix:
    * users grouped by their FIRST-activity day (the cohort), and for
    * every later day-offset the count and fraction of the cohort
    * still active. Plan at scale: one distinct over (user, day) —
    * the only corpus-sized exchange, map-side partial-distinct — then
    * a user-keyed self-aggregate join (same partitioning, AQE reuses
    * the exchange), then a ≤days²-row rollup; the cohort-size join
    * for the retention ratio runs over that tiny aggregate
    * (broadcast). The ratio uses the q81 integer half-up 4 dp rule —
    * exact on both engines at any cohort size. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val userDays = Tables.events(s, dir)
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
    val cohorts = userDays.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val r = userDays.join(cohorts, Seq("user_id"))
      .groupBy($"cohort_day",
        datediff($"day", $"cohort_day").cast("long").as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
    val size0 = r.filter($"offset_days" === 0L)
      .select($"cohort_day", $"n_users".as("cohort_size"))
    r.join(broadcast(size0), Seq("cohort_day"))
      .withColumn("retention",
        expr("(20000 * n_users + cohort_size) div (2 * cohort_size)") / 10000.0)
      .select(date_format($"cohort_day", "yyyy-MM-dd").as("cohort_d"),
        $"offset_days", $"n_users", $"retention")
      .orderBy($"cohort_d", $"offset_days")
  }

  /** q121: USER-ACTIVITY HISTOGRAM — how many users fall in each
    * power-of-two activity band (1, 2–3, 4–7, … events), per event
    * type: the q86 distribution-profiling idea on the USER axis, the
    * heavy-tail diagnostic behind bot filtering and engagement
    * modeling. The band is floor(log2(count)) computed WITHOUT
    * floating point (log2 is not correctly rounded — the q65 rule):
    * both engines render the count in binary (`bin`, unpadded in
    * Spark and DuckDB alike) and take string length − 1 — pure
    * integer/string ops, exact everywhere. Two exchanges: the
    * (type, user) count and the ≤types×64-row band rollup, both
    * partial-aggregating map-side. */
  def userActivityHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("n"))
      // floor(log2(n)) as binary-string length − 1: integer-exact in
      // both engines (bin() in Spark, bit_length-from-format in Duck)
      .withColumn("band", (length(bin($"n")) - 1L).cast("long"))
      .groupBy($"event_type", $"band")
      .agg(count(lit(1)).as("n_users"),
        sum($"n").as("n_events"),
        min($"n").as("min_events"),
        max($"n").as("max_events"))
      .orderBy($"event_type", $"band")
  }

  val userActivityHistogramSql: String =
    """WITH ua AS (
      |  SELECT event_type, user_id, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |  CAST(length(bin(n)) - 1 AS BIGINT) AS band,
      |  count(*) AS n_users,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  min(n) AS min_events, max(n) AS max_events
      |FROM ua GROUP BY 1, 2 ORDER BY event_type, band""".stripMargin

  /** q169: INTER-ARRIVAL GAP HISTOGRAM — the cadence profile of the
    * event stream: per event type, the distribution of gaps between a
    * user's CONSECUTIVE events of that type, in power-of-two second
    * bands (q121's banding discipline on the TIME axis — the signal
    * behind bot detection (impossibly regular sub-second cadence),
    * session-gap calibration (where does the q28 30-min threshold sit
    * in the real gap distribution?) and retention-window tuning).
    * Gap = floor(µs diff / 10⁶) whole seconds (integer division of
    * exact integer micros — cross-engine exact, the q110 micros
    * rule); band = floor(log2(gap+1)) via the binary-string-length
    * trick (no floating-point log, q121's rule), so band 0 is the
    * sub-second bucket and the 30-min boundary falls in band 10.
    * Scale: ONE corpus exchange — the (user, type) window shuffle;
    * per-group state is one lag value, groups are per-user-per-type
    * (millions of small groups, no low-cardinality serialization);
    * the band rollup partial-aggregates map-side to ≤ types×64 rows. */
  def interarrivalHistogram(s: SparkSession, dir: String): DataFrame =
    interarrivalHistogramOver(Tables.events(s, dir))

  /** The q169 pipeline over any (user_id, event_type, ts, event_id)
    * frame — injectable for hand-checkable gap specs (the q135
    * rule). */
  private[graft] def interarrivalHistogramOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev", lag($"ts", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("gap_s", expr("(unix_micros(ts) - unix_micros(prev)) div 1000000"))
      .withColumn("band", (length(bin($"gap_s" + 1L)) - 1L).cast("long"))
      .groupBy($"event_type", $"band")
      .agg(count(lit(1)).as("n_gaps"),
        min($"gap_s").as("min_gap_s"),
        max($"gap_s").as("max_gap_s"))
      .orderBy($"event_type", $"band")
  }

  val interarrivalHistogramSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    lag(ts) OVER (PARTITION BY user_id, event_type
      |                  ORDER BY ts, event_id) AS prev, ts
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - epoch_us(prev)) // 1000000 AS gap_s
      |  FROM e WHERE prev IS NOT NULL)
      |SELECT event_type, CAST(length(bin(gap_s + 1)) - 1 AS BIGINT) AS band,
      |  count(*) AS n_gaps, min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
      |FROM g GROUP BY 1, 2 ORDER BY event_type, band""".stripMargin

  /** q170: HOUR-OF-DAY ACTIVITY PROFILE — the diurnal shape of each
    * event type, with a per-cell chi-square against the type's own
    * uniform expectation (the cron/bot detector q169 cannot express:
    * a batch job concentrates its whole volume in one or two clock
    * hours — a flat inter-arrival profile with a spiked diurnal one —
    * while organic traffic spreads; the same profile also calibrates
    * traffic-shaped sampling windows). Every (type, hour) cell of the
    * full 24-hour grid is emitted, INCLUDING empty hours (n=0 — the
    * dead-hours signal; its chi-square contribution is exactly the
    * expected count), per the q167 missing-cell rule. Arithmetic is
    * the q114/q161 per-cell IEEE contract: counts are exact integers,
    * the expectation `total/24.0` is ONE double divide of an
    * exactly-represented integer, each cell's statistic is an
    * identical short double sequence on both engines, and there is NO
    * double summation anywhere (per-cell rows, never a per-type Σ of
    * doubles, which would be order-dependent).
    * Scale: ONE map-side-combined exchange carrying ≤ |types|×24
    * partial rows; the grid cross-join, totals, and chi-square all
    * run on that bounded frame with the |types|-row totals broadcast
    * back in. */
  def hourProfile(s: SparkSession, dir: String): DataFrame =
    hourProfileOver(Tables.events(s, dir))

  /** The q170 pipeline over any (event_type, ts) frame — injectable
    * for hand-checkable uniform/spiked constructed specs (the q135
    * rule). */
  private[graft] def hourProfileOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val counts = events
      .select($"event_type", hour($"ts").cast("long").as("hr"))
      .groupBy($"event_type", $"hr").agg(count(lit(1)).as("n"))
    // bounded from here: ≤ |types|×24 rows
    val grid = counts.select($"event_type").distinct()
      .crossJoin(s.range(0L, 24L).toDF("hr"))
    val filled = grid.join(counts, Seq("event_type", "hr"), "left")
      .withColumn("n", coalesce($"n", lit(0L)))
    val totals = filled.groupBy($"event_type").agg(sum($"n").as("total"))
    filled.join(broadcast(totals), Seq("event_type"))
      .withColumn("e", $"total".cast("double") / 24.0)
      .withColumn("chi2", round(
        ($"n".cast("double") - $"e") * ($"n".cast("double") - $"e") / $"e", 4))
      .select($"event_type", $"hr", $"n", $"chi2")
      .orderBy($"event_type", $"hr")
  }

  val hourProfileSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT event_type, hr
      |  FROM (SELECT DISTINCT event_type FROM c)
      |  CROSS JOIN (SELECT unnest(range(0, 24)) AS hr)),
      |f AS (
      |  SELECT g.event_type, g.hr, coalesce(c.n, 0) AS n
      |  FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.hr = g.hr),
      |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM f GROUP BY 1),
      |x AS (
      |  SELECT f.event_type, f.hr, f.n, CAST(t.total AS DOUBLE) / 24.0 AS e
      |  FROM f JOIN t USING (event_type))
      |SELECT event_type, hr, CAST(n AS BIGINT) AS n,
      |  round((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 4) AS chi2
      |FROM x ORDER BY event_type, hr""".stripMargin

  /** q174: LAST-TOUCH CONVERSION ATTRIBUTION — the standard
    * marketing/product question over the event stream: for every
    * `purchase`, WHICH interaction gets the credit? Rule: the user's
    * most recent STRICTLY-PRIOR non-purchase event within a 30-minute
    * window (ties at the same timestamp broken by event_id — the
    * q169 total-order rule); purchases with no qualifying touch are
    * `direct`. The rollup prices each touch type by conversions
    * carried and attributed revenue. Revenue sums in INTEGER CENTS
    * (the q12/q86 exactness rule — a double Σ would be
    * order-dependent); the gap check is exact integer micros
    * (the q110 rule).
    * Scale: ONE (user) window exchange — the same shuffle q169 pays —
    * with O(1) running state per user (`last` over an
    * unbounded-preceding frame is a running value, not a buffered
    * frame); the rollup is ≤|types|+1 rows, map-side combined. */
  def lastTouch(s: SparkSession, dir: String): DataFrame =
    lastTouchOver(Tables.events(s, dir))

  /** The q174 pipeline over any (user_id, event_type, ts, event_id,
    * value) frame — injectable for hand-built window/tie specs (the
    * q135 rule). */
  private[graft] def lastTouchOver(events: DataFrame, windowS: Long = 1800L): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      .withColumn("prior", last(
          when($"event_type" =!= "purchase",
            struct($"ts".as("pts"), $"event_type".as("ptype"))),
          ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("attributed_type",
        when($"prior".isNull ||
            expr(s"(unix_micros(ts) - unix_micros(prior.pts)) div 1000000") > windowS,
          lit("direct")).otherwise($"prior.ptype"))
      .groupBy($"attributed_type")
      .agg(count(lit(1)).as("n_conversions"),
        sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("value_cents"))
      .orderBy($"attributed_type")
  }

  val lastTouchSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, ts, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pts,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ptype
      |  FROM events),
      |p AS (
      |  SELECT CASE WHEN pts IS NULL
      |              OR (epoch_us(ts) - epoch_us(pts)) // 1000000 > 1800
      |         THEN 'direct' ELSE ptype END AS attributed_type, value
      |  FROM e WHERE event_type = 'purchase')
      |SELECT attributed_type, count(*) AS n_conversions,
      |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM p GROUP BY 1 ORDER BY attributed_type""".stripMargin

  /** q176: SESSION TRANSITION MATRIX — the first-order Markov model
    * of the event stream: for consecutive same-user events within the
    * 30-minute session window (q28's gap rule, ties by event_id —
    * the q169/q174 total order), the count and row-probability of
    * each (from_type → to_type) transition. q162 mines interesting
    * k-step SEQUENCES; this is the complete one-step matrix a
    * simulator / next-event predictor / funnel designer reads. The
    * FULL |types|² grid is emitted, including never-seen transitions
    * (n=0, ppm=0 — the q167/q170 missing-cell rule); a type never
    * observed as a FROM (no within-window successor anywhere) has no
    * defined row distribution and is excluded whole (the q161
    * one-sided rule). ppm is double-first per cell (q165 rule; the
    * row total enters each cell as the same exactly-represented
    * integer).
    * Scale: ONE (user) window exchange with O(1) lag state (the q169
    * shuffle), then a map-side-combined rollup to ≤|types|² rows; the
    * grid/totals run on that bounded frame. */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame =
    transitionMatrixOver(Tables.events(s, dir))

  /** The q176 pipeline over any (user_id, event_type, ts, event_id)
    * frame — injectable for hand-built window/grid specs (the q135
    * rule). */
  private[graft] def transitionMatrixOver(events: DataFrame, windowS: Long = 1800L): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = events
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev", lag(struct($"ts".as("pts"), $"event_type".as("ptype")), 1).over(w))
      .filter($"prev".isNotNull &&
        expr(s"(unix_micros(ts) - unix_micros(prev.pts)) div 1000000") <= windowS)
      .groupBy($"prev.ptype".as("from_type"), $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    // bounded from here: ≤ |types|² rows
    transitionGrid(trans, events.select($"event_type").distinct())
  }

  /** Grid-fill + row-ppm over the bounded transition frame (split out
    * so the injectable path and the fixture path share it). */
  private def transitionGrid(trans: DataFrame, typesIn: DataFrame): DataFrame = {
    val s = trans.sparkSession
    import s.implicits._
    val types = typesIn.withColumnRenamed("event_type", "t")
    val grid = types.select($"t".as("from_type"))
      .crossJoin(types.select($"t".as("to_type")))
    val filled = grid.join(trans, Seq("from_type", "to_type"), "left")
      .withColumn("n", coalesce($"n", lit(0L)))
    val totals = filled.groupBy($"from_type").agg(sum($"n").as("row_total"))
      .filter($"row_total" > 0L)
    filled.join(broadcast(totals), Seq("from_type"))
      .withColumn("ppm", expr("CAST(floor(n * 1000000.0 / row_total) AS BIGINT)"))
      .select($"from_type", $"to_type", $"n", $"row_total", $"ppm")
      .orderBy($"from_type", $"to_type")
  }

  val transitionMatrixSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ptype
      |  FROM events),
      |tr AS (
      |  SELECT ptype AS from_type, event_type AS to_type, count(*) AS n
      |  FROM e
      |  WHERE pts IS NOT NULL
      |    AND (epoch_us(ts) - epoch_us(pts)) // 1000000 <= 1800
      |  GROUP BY 1, 2),
      |ty AS (SELECT DISTINCT event_type AS t FROM events),
      |grid AS (
      |  SELECT a.t AS from_type, b.t AS to_type FROM ty a CROSS JOIN ty b),
      |f AS (
      |  SELECT g.from_type, g.to_type, coalesce(tr.n, 0) AS n
      |  FROM grid g LEFT JOIN tr USING (from_type, to_type)),
      |tot AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM f
      |  GROUP BY 1 HAVING sum(n) > 0)
      |SELECT f.from_type, f.to_type, CAST(f.n AS BIGINT) AS n, t.row_total,
      |  CAST(floor(f.n * 1000000.0 / t.row_total) AS BIGINT) AS ppm
      |FROM f JOIN tot t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** q178: CONVERSION-LAG SURVIVAL HISTOGRAM — time from a user's
    * FIRST signup to their FIRST subsequent purchase, in power-of-two
    * DAY bands, with the users who never convert reported as a
    * CENSORED row rather than dropped (the survival-analysis
    * discipline: omitting censored mass overstates conversion — q120
    * measures activity retention by calendar cohort, q163 measures
    * within-session step latency; neither answers "how long to
    * convert, and how many never do"). Days are exact integer
    * calendar-date diffs; bands are the binary-string floor-log2
    * (q121/q169 rule); censored rows carry band −1 so the histogram
    * stays one integer-typed frame.
    * Scale: two filtered min-aggregates keyed on user (map-side
    * combined, one exchange each), one user-keyed join, a ≤65-row
    * rollup. No windows, no corpus-wide sort. */
  def conversionLag(s: SparkSession, dir: String): DataFrame =
    conversionLagOver(Tables.events(s, dir))

  /** The q178 pipeline over any (user_id, event_type, ts) frame —
    * injectable for hand-built censoring/band specs (the q135
    * rule). */
  private[graft] def conversionLagOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val signups = events.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("ts_s"))
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id".as("uid_p"), $"ts")
    // post-signup predicate INSIDE the left join: a user whose only
    // purchases PRECEDE the signup must survive as censored, not
    // vanish (a post-join filter would drop their null row too)
    val firstConv = signups
      .join(purchases, $"user_id" === $"uid_p" && $"ts" >= $"ts_s", "left")
      .groupBy($"user_id", $"ts_s").agg(min($"ts").as("ts_p"))
    firstConv
      .withColumn("band",
        when($"ts_p".isNull, lit(-1L)).otherwise(
          (length(bin(datediff(to_date($"ts_p"), to_date($"ts_s")).cast("long") + 1L)) - 1L)
            .cast("long")))
      .withColumn("outcome", when($"band" === -1L, lit("censored")).otherwise(lit("converted")))
      .groupBy($"outcome", $"band").agg(count(lit(1)).as("n_users"))
      .orderBy($"outcome", $"band")
  }

  val conversionLagSql: String =
    """WITH s AS (
      |  SELECT user_id, min(ts) AS ts_s FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |p AS (
      |  SELECT s.user_id, s.ts_s, min(e.ts) AS ts_p
      |  FROM s LEFT JOIN events e
      |    ON e.user_id = s.user_id AND e.event_type = 'purchase'
      |   AND e.ts >= s.ts_s
      |  GROUP BY 1, 2),
      |b AS (
      |  SELECT CASE WHEN ts_p IS NULL THEN -1
      |    ELSE CAST(length(bin(datediff('day', CAST(ts_s AS DATE),
      |                                  CAST(ts_p AS DATE)) + 1)) - 1 AS BIGINT)
      |  END AS band FROM p)
      |SELECT CASE WHEN band = -1 THEN 'censored' ELSE 'converted' END AS outcome,
      |  CAST(band AS BIGINT) AS band, count(*) AS n_users
      |FROM b GROUP BY 1, 2 ORDER BY outcome, band""".stripMargin

  /** q179: WINSORIZED VALUE SUMMARY per event type — the robust
    * preprocessing step every metrics pipeline runs before averaging
    * a heavy-tailed measure: clamp to the type's own exact [p1, p99]
    * and report how much mass the clamp moved. All arithmetic rides
    * the INTEGER-CENTS domain (the q12/q86 rule), and both
    * percentiles come from the q132 bounded-domain histogram pattern:
    * per-type (cents → count) histogram, thresholds found by ONE fold
    * over the ≤domain-sized sorted histogram (p1 = smallest v with
    * cum ≥ ceil(n/100), p99 = smallest v with cum ≥ ceil(99n/100)) —
    * no sort, no window, state bounded by the VALUE DOMAIN. The
    * clamped statistics are then computed from the HISTOGRAM ITSELF
    * (Σ c·clamp(v)), so the corpus is scanned exactly once.
    * Scale: one map-side-combined (type, cents) exchange; everything
    * after runs on the ≤|types|·|domain| histogram frame. */
  def winsorizedSummary(s: SparkSession, dir: String): DataFrame =
    winsorizedSummaryOver(Tables.events(s, dir))

  /** The q179 pipeline over any (event_type, value) frame —
    * injectable for hand-built clamp/threshold specs (the q135
    * rule). */
  private[graft] def winsorizedSummaryOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val hist = events
      .select($"event_type", expr("CAST(round(value * 100, 0) AS BIGINT)").as("v"))
      .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
    val thr = hist.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"v", $"c"))).as("h"),
        sum($"c").as("n"))
      .withColumn("k1", expr("(n + 99) div 100"))
      .withColumn("k99", expr("(99 * n + 99) div 100"))
      .withColumn("t", aggregate($"h",
        struct(lit(0L).as("cum"), lit(Long.MinValue).as("lo"), lit(Long.MinValue).as("hi")),
        (acc, x) => {
          val cum2 = acc("cum") + x("c")
          struct(cum2.as("cum"),
            when(acc("lo") === Long.MinValue && cum2 >= $"k1", x("v"))
              .otherwise(acc("lo")).as("lo"),
            when(acc("hi") === Long.MinValue && cum2 >= $"k99", x("v"))
              .otherwise(acc("hi")).as("hi"))
        }))
      .select($"event_type", $"n", $"t.lo".as("lo_cents"), $"t.hi".as("hi_cents"))
    hist.join(broadcast(thr), Seq("event_type"))
      .groupBy($"event_type", $"n", $"lo_cents", $"hi_cents")
      .agg(
        sum(when($"v" < $"lo_cents", $"c").otherwise(0L)).as("n_clamped_low"),
        sum(when($"v" > $"hi_cents", $"c").otherwise(0L)).as("n_clamped_high"),
        sum($"c" * $"v").as("sum_cents"),
        sum($"c" * greatest(least($"v", $"hi_cents"), $"lo_cents")).as("sum_cents_winsorized"))
      .select($"event_type", $"n", $"lo_cents", $"hi_cents",
        $"n_clamped_low", $"n_clamped_high", $"sum_cents", $"sum_cents_winsorized")
      .orderBy($"event_type")
  }

  /** Oracle: same histogram, thresholds via a cumulative window over
    * the bounded domain (the oracle may sort; the engine may not —
    * the q132 division of labor). */
  val winsorizedSummarySql: String =
    """WITH m AS (
      |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
      |  FROM events),
      |hist AS (SELECT event_type, v, count(*) AS c FROM m GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1),
      |cum AS (
      |  SELECT h.event_type, h.v,
      |    sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.v) AS cum, t.n
      |  FROM hist h JOIN tot t USING (event_type)),
      |lo AS (SELECT event_type, min(v) AS lo_cents FROM cum
      |       WHERE cum >= (n + 99) // 100 GROUP BY 1),
      |hi AS (SELECT event_type, min(v) AS hi_cents FROM cum
      |       WHERE cum >= (99 * n + 99) // 100 GROUP BY 1)
      |SELECT h.event_type, t.n, lo.lo_cents, hi.hi_cents,
      |  CAST(sum(CASE WHEN h.v < lo.lo_cents THEN h.c ELSE 0 END) AS BIGINT) AS n_clamped_low,
      |  CAST(sum(CASE WHEN h.v > hi.hi_cents THEN h.c ELSE 0 END) AS BIGINT) AS n_clamped_high,
      |  CAST(sum(h.c * h.v) AS BIGINT) AS sum_cents,
      |  CAST(sum(h.c * greatest(least(h.v, hi.hi_cents), lo.lo_cents)) AS BIGINT)
      |    AS sum_cents_winsorized
      |FROM hist h JOIN tot t USING (event_type)
      |JOIN lo USING (event_type) JOIN hi USING (event_type)
      |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin

  /** q180: TOP-DECILE CONTRIBUTION — participation concentration per
    * event type: what share of the type's events do its top 10% most
    * active users generate (the whale/bot-farm governance signal —
    * q121 shows the activity HISTOGRAM, this prices the head's share
    * of the mass; ties at the decile boundary contribute PARTIALLY,
    * the exact Lorenz-curve rule, so the statistic is well-defined
    * whatever the tie structure). All-integer: the fold walks the
    * per-type (count → users) histogram best-first, takes whole tie
    * groups while they fit inside k = ceil(n_users/10) and the
    * boundary group pro-rata ((k − taken) · cnt), exactly like the
    * oracle's windowed closed form cumm − (cumu − k)·cnt.
    * Scale: one (type, user) map-side-combined exchange, one
    * (type, cnt) rollup bounded by the distinct-activity domain, one
    * fold per type — no corpus-wide sort or window. */
  def topDecileContribution(s: SparkSession, dir: String): DataFrame =
    topDecileContributionOver(Tables.events(s, dir))

  /** The q180 pipeline over any (user_id, event_type) frame —
    * injectable for hand-built tie/boundary specs (the q135 rule). */
  private[graft] def topDecileContributionOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val perUser = events.groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("cnt"))
    val hist = perUser.groupBy($"event_type", $"cnt").agg(count(lit(1)).as("c"))
    hist.groupBy($"event_type")
      .agg(reverse(sort_array(collect_list(struct($"cnt", $"c")))).as("h"),
        sum($"c").as("n_users"), sum($"cnt" * $"c").as("n_events"))
      .withColumn("k", expr("(n_users + 9) div 10"))
      .withColumn("top_mass", aggregate($"h",
        struct(lit(0L).as("taken"), lit(0L).as("mass")),
        (acc, x) => {
          val room = $"k" - acc("taken")
          val take = least(x("c"), room)
          struct((acc("taken") + when(take > 0L, take).otherwise(0L)).as("taken"),
            (acc("mass") + when(take > 0L, take * x("cnt")).otherwise(0L)).as("mass"))
        },
        acc => acc("mass")))
      .withColumn("share_ppm",
        expr("CAST(floor(top_mass * 1000000.0 / n_events) AS BIGINT)"))
      .select($"event_type", $"n_users", $"n_events", $"k".as("top_users"),
        $"top_mass", $"share_ppm")
      .orderBy($"event_type")
  }

  /** Oracle: the windowed closed form — boundary row where the
    * descending user cumsum first reaches k; mass = cumm −
    * (cumu − k)·cnt (the pro-rata tie rule in one expression). */
  val topDecileContributionSql: String =
    """WITH u AS (
      |  SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1, 2),
      |h AS (SELECT event_type, cnt, count(*) AS c FROM u GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
      |        CAST(sum(cnt) AS BIGINT) AS n_events
      |      FROM u GROUP BY 1),
      |cum AS (
      |  SELECT h.event_type, h.cnt,
      |    sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.cnt DESC) AS cumu,
      |    sum(h.c * h.cnt) OVER (PARTITION BY h.event_type ORDER BY h.cnt DESC) AS cumm,
      |    t.n_users, t.n_events, (t.n_users + 9) // 10 AS k
      |  FROM h JOIN t USING (event_type)),
      |b AS (
      |  SELECT event_type, n_users, n_events, k,
      |    CAST(cumm - (cumu - k) * cnt AS BIGINT) AS top_mass,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC) AS rn
      |  FROM cum WHERE cumu >= k)
      |SELECT event_type, n_users, n_events, CAST(k AS BIGINT) AS top_users,
      |  top_mass,
      |  CAST(floor(top_mass * 1000000.0 / n_events) AS BIGINT) AS share_ppm
      |FROM b WHERE rn = 1 ORDER BY event_type""".stripMargin

  val cohortRetentionSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1),
      |r AS (
      |  SELECT cohort_day,
      |    CAST(datediff('day', cohort_day, day) AS BIGINT) AS offset_days,
      |    count(*) AS n_users
      |  FROM ud JOIN c USING (user_id) GROUP BY 1, 2),
      |s0 AS (SELECT cohort_day, n_users AS cohort_size FROM r WHERE offset_days = 0)
      |SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_d, r.offset_days, r.n_users,
      |  ((20000 * r.n_users + cohort_size) // (2 * cohort_size)) / 10000.0 AS retention
      |FROM r JOIN s0 USING (cohort_day)
      |ORDER BY cohort_d, offset_days""".stripMargin

  val asofJoinSql: String =
    """SELECT a.event_id, a.user_id,
      |  strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |  b.event_id AS asof_event, round(b.value, 2) AS asof_value
      |FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      |      WHERE event_type = 'click') a
      |ASOF JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events
      |           WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id AND a.ts >= b.ts
      |ORDER BY a.event_id""".stripMargin

  /** Range (interval) join: for every error event, how many clicks
    * the same user made in the preceding 10 minutes. The range
    * predicate becomes an EQUI-join key by bucketing time into
    * window-sized epochs (the q42 trick in the time domain): a click
    * in [t−10min, t) lies in the error's bucket or the previous one,
    * so errors probe exactly two buckets and the join never
    * enumerates a per-user cross product. All time math in integer
    * micros on both engines. */
  def rangeJoinCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val winUs = 600000000L // 10 minutes
    val ev = Tables.events(s, dir)
    val errs = ev.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts", unix_micros($"ts").as("t_err"))
    val probes = errs.select($"event_id", $"user_id", $"ts", $"t_err",
      explode(array(expr(s"t_err div $winUs"), expr(s"t_err div $winUs") - 1)).as("bkt"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("t_clk"))
      .withColumn("bkt", expr(s"t_clk div $winUs"))
    // LEFT bucket join + conditional count: zero-click errors survive
    // the probe join (their two probe rows aggregate to 0), so no
    // second join back to the error relation is needed — one shuffle
    // fewer than the inner-join + left-join-back form (round 9; the
    // range predicate moves from a join filter into the count
    // condition, which is equivalent because each in-range click
    // falls in exactly one of the two probed buckets).
    probes.select($"event_id", $"user_id", $"ts", $"t_err", $"bkt")
      .join(clicks, Seq("user_id", "bkt"), "left")
      .groupBy($"event_id", $"user_id", $"ts")
      .agg(count(when($"t_clk" >= $"t_err" - winUs && $"t_clk" < $"t_err", 1))
        .as("n_recent_clicks"))
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        $"n_recent_clicks")
      .orderBy($"event_id")
  }

  val rangeJoinCountsSql: String =
    """SELECT e.event_id, e.user_id,
      |  strftime(e.ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |  coalesce(c.n, 0) AS n_recent_clicks
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
      |LEFT JOIN (
      |  SELECT e2.event_id, count(*) AS n
      |  FROM events e2 JOIN events c
      |    ON e2.event_type = 'error' AND c.event_type = 'click'
      |   AND c.user_id = e2.user_id
      |   AND epoch_us(c.ts::TIMESTAMP) >= epoch_us(e2.ts::TIMESTAMP) - 600000000
      |   AND epoch_us(c.ts::TIMESTAMP) <  epoch_us(e2.ts::TIMESTAMP)
      |  GROUP BY e2.event_id) c ON c.event_id = e.event_id
      |ORDER BY e.event_id""".stripMargin

  /** q72: BLOOM-FILTER BLOCKLIST SEMI-JOIN — the pre-shuffle
    * membership filter of a 100 TB pipeline (filter a petabyte fact
    * stream against a membership list without shuffling the fact
    * side or broadcasting an oversized list). Build: ONE aggregation
    * over the filtered scan into a fixed 128 KB sketch (map-side
    * partial ORs; duplicate inserts idempotent, so no distinct pass).
    * Probe: a codegen'd map-side predicate carrying the sketch as an
    * expression literal.
    *
    * Self-validating like q57: the exact-membership left join is the
    * VALIDATION HARNESS (at scale you would run the bloom filter
    * alone, or follow it with the exact join over the surviving
    * ~1%). Theorems pinned true by the oracle: a Bloom filter has NO
    * false negatives (holds for any input), and the false-positive
    * rate stays under 5% (deterministic given the fixture; sizing
    * puts the expectation near 1e-13). `n_member_events` is the
    * exact semi-join count DuckDB reproduces. */
  def bloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    def blockCond = $"event_type" === "purchase" && $"value" > 180.0
    val bloomBytes = ev.filter(blockCond)
      .agg(graft.functions.BloomFilter.bloom_build($"user_id"))
      .head().getAs[Array[Byte]](0)
    val block = ev.filter(blockCond).select($"user_id").distinct()
    val marked = ev
      .join(block.withColumn("_in", lit(true)), Seq("user_id"), "left")
      .withColumn("member", coalesce($"_in", lit(false)))
      .withColumn("bloom_pass",
        graft.functions.BloomFilter.bloom_contains($"user_id", bloomBytes))
    val nonmem = sum(when(!$"member", 1L).otherwise(0L))
    val fp = sum(when($"bloom_pass" && !$"member", 1L).otherwise(0L))
    marked.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"member", 1L).otherwise(0L)).as("n_member_events"),
        bool_and(!$"member" || $"bloom_pass").as("no_false_negatives"),
        when(nonmem === 0, lit(true))
          .otherwise(fp.cast("double") / nonmem <= 0.05).as("fp_rate_ok"))
      .domainOrdered($"event_type")
  }

  val bloomSemiJoinSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  count(*) FILTER (user_id IN (
      |    SELECT user_id FROM events
      |    WHERE event_type = 'purchase' AND value > 180)) AS n_member_events,
      |  true AS no_false_negatives,
      |  true AS fp_rate_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q86: VALUE HISTOGRAM — fixed-width distribution profile of the
    * value metric per event type (the monitoring/drift primitive: 20
    * five-unit buckets over [0, 100], top bucket open). Bucketing in
    * INTEGER CENTS ((cents div 500), the q15 rule) because a double
    * value/5.0 boundary could round differently across engines,
    * while the cents representation of this 2-decimal metric is
    * exact. One partial-aggregating shuffle on (type, bucket) — ≤
    * types×20 rows out regardless of input size. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        least(expr("CAST(round(value * 100, 0) AS BIGINT) div 500"), lit(19L))
          .as("bucket"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", $"bucket" * 5)
      .select($"event_type", $"bucket", $"lo", $"n")
      .orderBy($"event_type", $"bucket")
  }

  val valueHistogramSql: String =
    """SELECT event_type,
      |  least(CAST(round(value * 100, 0) AS BIGINT) // 500, 19) AS bucket,
      |  least(CAST(round(value * 100, 0) AS BIGINT) // 500, 19) * 5 AS lo,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY event_type, bucket""".stripMargin

  /** q162: SESSION SEQUENCE MINING — frequent event-type trigrams
    * within q28's 30-minute-gap sessions (process mining / "what do
    * users actually do" path analysis), the ORDERED sibling of
    * q107's unordered co-presence. Each session's events collapse to
    * one ordered type list (the per-session `collect_list` is
    * SESSION-BOUNDED — a gap closes the session, so it never grows
    * with history), trigrams explode out, and the count aggregate
    * exchanges at most |types|³ distinct sequences regardless of
    * corpus size. Ordering inside a session is (t, event_id) — the
    * q28/q90 tiebreak — so both engines assemble identical lists. */
  def sessionSequences(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    sessionSequencesOver(Tables.events(s, dir), k)

  /** q162 over an injectable (user_id, event_id, event_type, ts)
    * frame — specs pin trigram extraction and session-boundary
    * non-crossing on constructed sessions. */
  private[graft] def sessionSequencesOver(ev: DataFrame, k: Int): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapFlag = when(
      unix_micros($"ts") - unix_micros(lag($"ts", 1).over(byUser)) > 1800000000L, 1)
      .otherwise(0)
    val seqs = ev
      .withColumn("new_session", gapFlag)
      .withColumn("session_idx", sum($"new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_idx")
      .agg(sort_array(collect_list(struct(
        unix_micros($"ts").as("t"), $"event_id".as("e"), $"event_type".as("y")))).as("evs"))
    val tri = expr(
      """CASE WHEN size(evs) < 3 THEN array()
        |ELSE transform(sequence(1, size(evs) - 2),
        |  i -> concat_ws('>', element_at(evs, i).y,
        |                      element_at(evs, i + 1).y,
        |                      element_at(evs, i + 2).y)) END""".stripMargin)
    seqs.select(explode(tri).as("seq3"))
      .groupBy($"seq3").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"seq3").limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule); sessions are
    * q90's g/s CTEs verbatim. */
  def sessionSequencesSql(k: Int = 20): String =
    s"""WITH g AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP))
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS t,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM g),
      |seqs AS (
      |  SELECT user_id, session_idx,
      |    list(event_type ORDER BY t, event_id) AS evs
      |  FROM s GROUP BY 1, 2),
      |tri AS (
      |  SELECT unnest(list_transform(range(1, len(evs) - 1),
      |    i -> evs[i] || '>' || evs[i+1] || '>' || evs[i+2])) AS seq3
      |  FROM seqs WHERE len(evs) >= 3)
      |SELECT seq3, count(*) AS n FROM tri GROUP BY 1
      |ORDER BY n DESC, seq3 LIMIT $k""".stripMargin

  /** q163: FUNNEL TIME-TO-CONVERT QUANTILES — how long the
    * view → click → purchase chain takes when it completes: exact
    * p50/p90/p99 of (t_purchase − t_view) in integer seconds over
    * q90's converted sessions. Quantiles are EXACT without a corpus
    * sort via the q132/q139 bounded-domain discipline: durations are
    * session-bounded integers, so the (value, count) histogram is
    * domain-sized, one sorted fold reads all three positions
    * (position ceil(q·n/100), the lower-quantile rule — no
    * interpolation, no float), and the oracle re-derives the same
    * positions with a row_number window. Zero converted sessions
    * yields NULL quantiles on both engines. */
  def funnelTimeToConvert(s: SparkSession, dir: String): DataFrame =
    funnelTimeToConvertOver(Tables.events(s, dir))

  /** q163 over an injectable events frame (shares q90's
    * [[sessionSteps]] strict-order chain — one definition). */
  private[graft] def funnelTimeToConvertOver(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val durs = sessionSteps(ev)
      .filter($"t_purchase".isNotNull)
      .select(expr("(t_purchase - t_view) div 1000000").as("v"))
    durs.groupBy($"v").agg(count(lit(1)).as("c"))
      .agg(sort_array(collect_list(struct($"v", $"c"))).as("h"), sum($"c").as("n"))
      .withColumn("k50", expr("(50 * n + 99) div 100"))
      .withColumn("k90", expr("(90 * n + 99) div 100"))
      .withColumn("k99", expr("(99 * n + 99) div 100"))
      .withColumn("q", aggregate($"h",
        struct(lit(0L).as("cum"), lit(-1L).as("p50"), lit(-1L).as("p90"), lit(-1L).as("p99")),
        (acc, x) => {
          val cum2 = acc("cum") + x("c")
          struct(cum2.as("cum"),
            when(acc("p50") === -1L && cum2 >= $"k50", x("v")).otherwise(acc("p50")).as("p50"),
            when(acc("p90") === -1L && cum2 >= $"k90", x("v")).otherwise(acc("p90")).as("p90"),
            when(acc("p99") === -1L && cum2 >= $"k99", x("v")).otherwise(acc("p99")).as("p99"))
        },
        acc => acc))
      .select(coalesce($"n", lit(0L)).as("n_converted"),
        when($"q.p50" === -1L, lit(null).cast("long")).otherwise($"q.p50").as("p50_s"),
        when($"q.p90" === -1L, lit(null).cast("long")).otherwise($"q.p90").as("p90_s"),
        when($"q.p99" === -1L, lit(null).cast("long")).otherwise($"q.p99").as("p99_s"))
  }

  /** Oracle: q90's session/step CTEs verbatim, then row_number
    * positions instead of the fold — same lower-quantile rule. */
  val funnelTimeToConvertSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP))
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS t,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM g),
      |w1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_view FROM s),
      |w2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND t > t_view THEN t END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_click FROM w1),
      |w3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t > t_click THEN t END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_purchase FROM w2),
      |per AS (
      |  SELECT user_id, session_idx, max(t_view) AS t_view,
      |    max(t_purchase) AS t_purchase
      |  FROM w3 GROUP BY 1, 2),
      |conv AS (
      |  SELECT (t_purchase - t_view) // 1000000 AS v FROM per
      |  WHERE t_purchase IS NOT NULL),
      |r AS (
      |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
      |    count(*) OVER () AS n FROM conv)
      |SELECT CAST(coalesce(max(n), 0) AS BIGINT) AS n_converted,
      |  CAST(max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS BIGINT) AS p50_s,
      |  CAST(max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END) AS BIGINT) AS p90_s,
      |  CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS BIGINT) AS p99_s
      |FROM r""".stripMargin

  /** Pinned recency anchor + half-life (the oracle reproduces both).
    * The anchor is a constant, not now(): sampling membership must be
    * a PURE function of (event_id, event date) so refreshes are
    * incremental and retries deterministic (the q94 rule); a
    * production run re-pins the anchor per snapshot. */
  private[graft] val RecencyAnchor = "2024-01-31"

  /** q159: RECENCY-WEIGHTED SAMPLING — the freshness-biased draw a
    * training pipeline runs over event/telemetry history: keep-rate
    * HALVES per 7-day age bucket (800‰ this week, 400‰ last week, …,
    * 50‰ at 4 weeks, 0 past the 5-bucket horizon — stale data ages
    * out entirely). Membership is hash-threshold (q94's sampleKey)
    * against the bucket rate — deterministic, growth-stable (new
    * events never flip an old event's membership), retry/AQE-stable,
    * no rand(). Output is the per-bucket admission report. ALL-
    * INTEGER; the age→rate CASE is pinned verbatim in the oracle.
    * Scale: stateless map-side predicate + one ≤6-key aggregate. */
  def recencySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        datediff(lit(RecencyAnchor).cast("date"), to_date($"ts")).cast("long").as("age_days"))
      .filter($"age_days" >= 0L) // events after the anchor are out of scope
      .withColumn("bucket", expr("age_days div 7"))
      .withColumn("rate_permille",
        when($"bucket" === 0L, 800L).when($"bucket" === 1L, 400L)
          .when($"bucket" === 2L, 200L).when($"bucket" === 3L, 100L)
          .when($"bucket" === 4L, 50L).otherwise(0L))
      .withColumn("h", TrainQueries.sampleKey($"event_id"))
      .groupBy($"bucket", $"rate_permille")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"h" < $"rate_permille", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"bucket")
  }

  val recencySampleSql: String =
    s"""WITH e AS (
      |  SELECT event_id,
      |    date_diff('day', CAST(ts AS DATE), DATE '$RecencyAnchor') AS age_days
      |  FROM events),
      |b AS (
      |  SELECT age_days // 7 AS bucket,
      |    CASE age_days // 7 WHEN 0 THEN 800 WHEN 1 THEN 400 WHEN 2 THEN 200
      |         WHEN 3 THEN 100 WHEN 4 THEN 50 ELSE 0 END AS rate_permille,
      |    (event_id % 1000000007) * 2654435761 % 1000000007 % 1000 AS h
      |  FROM e WHERE age_days >= 0)
      |SELECT bucket, CAST(rate_permille AS BIGINT) AS rate_permille,
      |  count(*) AS n_events,
      |  CAST(sum(CASE WHEN h < rate_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM b GROUP BY bucket, rate_permille ORDER BY bucket""".stripMargin

  /** q161: VALUE-DISTRIBUTION DRIFT — the monitoring sibling of q114
    * (which drifts TOKENS between corpus slices): which (event_type,
    * value-bucket) cells shifted most between the month's first and
    * second half, ranked by the two-sample chi-square statistic. The
    * distribution-drift check a pipeline runs over its own metric
    * stream before trusting a new data window. Buckets are q86's
    * integer-cents rule (exact — a double value/5.0 boundary could
    * round differently across engines); the chi-square needs no
    * logarithm: counts exact integers, expected counts computed
    * DOUBLE-FIRST (`CAST(ca+cb AS DOUBLE)·na/(na+nb)` — q165's rule;
    * a BIGINT-first product would wrap past ~3·10⁹ events per type)
    * and the statistic +,−,×,÷ only — IEEE-exact per CELL with no
    * double summation anywhere. Types active on only ONE side of the
    * cut are EXCLUDED on both engines (na>0 AND nb>0): their
    * chi-square is 0/0, where Spark's NaN would sort to the TOP of
    * the report while DuckDB's NULL sorts last — and "new event type
    * appeared" is a different alert than "distribution shifted"
    * (q139's volume anomaly catches it).
    * Scale: one (type, bucket) partial-agg exchange (≤ types×20 rows
    * out), per-type totals broadcast back, top-k as
    * TakeOrderedAndProject. */
  def valueDrift(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, dir)
      .select($"event_type",
        least(expr("CAST(round(value * 100, 0) AS BIGINT) div 500"), lit(19L)).as("bucket"),
        when($"ts" < lit("2024-01-16").cast("timestamp"), 1L).otherwise(0L).as("isa"))
      .groupBy($"event_type", $"bucket")
      .agg(sum($"isa").as("ca"), sum(lit(1L) - $"isa").as("cb"))
    val totals = cells.groupBy($"event_type").agg(sum($"ca").as("na"), sum($"cb").as("nb"))
      .filter($"na" > 0L && $"nb" > 0L)
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("ea", ($"ca" + $"cb").cast("double") * $"na" / ($"na" + $"nb"))
      .withColumn("eb", ($"ca" + $"cb").cast("double") * $"nb" / ($"na" + $"nb"))
      .withColumn("chi2", round(
        ($"ca" - $"ea") * ($"ca" - $"ea") / $"ea" +
        ($"cb" - $"eb") * ($"cb" - $"eb") / $"eb", 4))
      .select($"event_type", $"bucket", $"ca", $"cb", $"chi2")
      .orderBy($"chi2".desc, $"event_type", $"bucket")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def valueDriftSql(k: Int = 20): String =
    s"""WITH cells AS (
      |  SELECT event_type,
      |    least(CAST(round(value * 100, 0) AS BIGINT) // 500, 19) AS bucket,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
      |    CAST(sum(cb) AS BIGINT) AS nb
      |  FROM cells GROUP BY 1
      |  HAVING sum(ca) > 0 AND sum(cb) > 0),
      |x AS (
      |  SELECT c.event_type, c.bucket, c.ca, c.cb,
      |    CAST(c.ca + c.cb AS DOUBLE) * t.na / (t.na + t.nb) AS ea,
      |    CAST(c.ca + c.cb AS DOUBLE) * t.nb / (t.na + t.nb) AS eb
      |  FROM cells c JOIN tot t USING (event_type))
      |SELECT event_type, bucket, ca, cb,
      |  round((ca - ea) * (ca - ea) / ea + (cb - eb) * (cb - eb) / eb, 4) AS chi2
      |FROM x ORDER BY chi2 DESC, event_type, bucket LIMIT $k""".stripMargin

  /** q184: JOIN-KEY SKEW AUDIT — the pre-flight check every shuffle
    * plan at 100 TB needs: for each candidate join/aggregation key of
    * the events stream (`user_id`, `event_type`), the key-cardinality
    * and hot-key concentration numbers that decide between a plain
    * shuffle, AQE skew splitting, and explicit salting — plus the
    * salting factor itself (`rec_salt` = the number of salt buckets
    * that brings the hottest key down to one partition's fair share
    * at 32 shuffle partitions: ceil(top1_cnt · 32 / n_rows)). A
    * `rec_salt` of 1 says the key is shuffle-safe as-is; event_type
    * (domain of a handful) reports the pathological concentration
    * that rules it out as a partition key.
    *
    * All-integer output (counts, floor average, half-up 4 dp share).
    * `top10_cnt` is tie-safe cross-engine: equal counts at the rank-10
    * boundary contribute the same SUM whichever keys the engines pick.
    * Scale: per key the corpus collapses map-side into a (key, count)
    * frame (partial agg before the ONE exchange); the scalar rollup
    * and the `TakeOrderedAndProject` top-10 both read that compacted
    * frame; the cross join multiplies two ONE-row frames. Nothing
    * driver-side, nothing corpus-wide — the audit costs one exchange
    * per audited key. */
  def skewAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    def audit(keyCol: String): DataFrame = {
      // the (key, count) frame feeds BOTH the scalar rollup and the
      // top-10 — checkpoint it so the corpus scans once per key, not
      // twice (the q79 materialize-once rule; the frame itself is
      // key-cardinality sized, far below the corpus)
      val counts = graft.operators.Scale.checkpointed(
        ev.groupBy(col(keyCol).cast("string").as("k"))
          .agg(count(lit(1)).as("c")))
      val scalars = counts.agg(sum($"c").as("n_rows"),
        count(lit(1)).as("n_keys"), max($"c").as("top1_cnt"))
      val top10 = counts.orderBy($"c".desc, $"k").limit(10)
        .agg(sum($"c").as("top10_cnt"))
      scalars.crossJoin(top10).select(lit(keyCol).as("key_col"),
        $"n_rows", $"n_keys", $"top1_cnt", $"top10_cnt")
    }
    audit("user_id").unionByName(audit("event_type"))
      .select($"key_col", $"n_rows", $"n_keys",
        expr("n_rows div n_keys").as("avg_per_key"),
        $"top1_cnt", $"top10_cnt",
        (expr("(20000 * top1_cnt + n_rows) div (2 * n_rows)") / 10000.0)
          .as("top1_share"),
        expr("greatest(1, (top1_cnt * 32 + n_rows - 1) div n_rows)")
          .as("rec_salt"))
      .orderBy($"key_col")
  }

  val skewAuditSql: String =
    """WITH c1 AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
      |            FROM events GROUP BY 1),
      |a1 AS (SELECT 'user_id' AS key_col, CAST(sum(c) AS BIGINT) AS n_rows,
      |         count(*) AS n_keys, max(c) AS top1_cnt FROM c1),
      |t1 AS (SELECT CAST(sum(c) AS BIGINT) AS top10_cnt
      |       FROM (SELECT c FROM c1 ORDER BY c DESC, k LIMIT 10)),
      |c2 AS (SELECT event_type AS k, count(*) AS c FROM events GROUP BY 1),
      |a2 AS (SELECT 'event_type' AS key_col, CAST(sum(c) AS BIGINT) AS n_rows,
      |         count(*) AS n_keys, max(c) AS top1_cnt FROM c2),
      |t2 AS (SELECT CAST(sum(c) AS BIGINT) AS top10_cnt
      |       FROM (SELECT c FROM c2 ORDER BY c DESC, k LIMIT 10)),
      |u AS (SELECT * FROM a1 CROSS JOIN t1
      |      UNION ALL SELECT * FROM a2 CROSS JOIN t2)
      |SELECT key_col, n_rows, n_keys,
      |  n_rows // n_keys AS avg_per_key,
      |  top1_cnt, top10_cnt,
      |  ((20000 * top1_cnt + n_rows) // (2 * n_rows)) / 10000.0 AS top1_share,
      |  greatest(1, (top1_cnt * 32 + n_rows - 1) // n_rows) AS rec_salt
      |FROM u ORDER BY key_col""".stripMargin

  /** q188: USER TEMPORAL-REGULARITY AUDIT — the bot/automation signal
    * a training-data pipeline runs before trusting user-generated
    * text: humans spread activity across the day, schedulers
    * concentrate it. Per user: event count, how many distinct
    * hours-of-day they use, the hottest hour's count, and the Simpson
    * concentration of their 24-bin hour histogram (q171's statistic,
    * per-user instead of corpus-wide — 1e6/24 ≈ 41,667 ppm is uniform,
    * 1,000,000 is single-hour automation). Top 25 most-concentrated
    * users by (simpson DESC, user_id) — the review queue, bounded and
    * deterministically tie-broken.
    *
    * Integer counts; the ppm multiplies DOUBLE-FIRST (q165's overflow
    * rule — Σc² · 10⁶ as BIGINT wraps inside the 100 TB range).
    * Scale: events collapse map-side into the (user, hour) frame —
    * ≤ 24 rows per user — before the one exchange; the per-user
    * rollup re-aggregates that compacted frame; the output is
    * `TakeOrderedAndProject` (no corpus-wide sort). */
  def userRegularity(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"user_id", hour($"ts").as("h"))
      .groupBy($"user_id", $"h").agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(sum($"c").as("n_events"), count(lit(1)).as("n_hours"),
        max($"c").as("top_hour_cnt"), sum($"c" * $"c").as("ss"))
      .select($"user_id", $"n_events", $"n_hours", $"top_hour_cnt",
        expr("CAST(floor(ss * 1000000.0 / (CAST(n_events AS DOUBLE) * n_events)) AS BIGINT)")
          .as("hour_simpson_ppm"))
      .orderBy($"hour_simpson_ppm".desc, $"user_id")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def userRegularitySql(k: Int = 25): String =
    s"""WITH hb AS (
      |  SELECT user_id, hour(ts) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
      |    count(*) AS n_hours, max(c) AS top_hour_cnt,
      |    CAST(sum(c * c) AS BIGINT) AS ss
      |  FROM hb GROUP BY 1)
      |SELECT user_id, n_events, n_hours, top_hour_cnt,
      |  CAST(floor(ss * 1000000.0 / (CAST(n_events AS DOUBLE) * n_events)) AS BIGINT)
      |    AS hour_simpson_ppm
      |FROM u
      |ORDER BY hour_simpson_ppm DESC, user_id LIMIT $k""".stripMargin

  // ---- q195: experiment-arm audit (SRM + conversion) -----------------

  /** q195: EXPERIMENT-ARM AUDIT — split users into two arms by the
    * q94 hash rule (the assignment an experimentation pipeline ships:
    * deterministic, reproducible, no rand()) and report per arm the
    * user count, signup-cohort size, converted count (a purchase AT
    * OR AFTER the user's first signup — q178's cohort rule), exact
    * conversion ppm, and the arm's sample-ratio-mismatch chi-square
    * cell against the 50/50 design. SRM is the FIRST gate every A/B
    * readout must pass — a skewed assignment invalidates the
    * experiment before any metric is read — and nothing else in the
    * suite audits the assignment itself (q94 proves the split
    * mechanics on documents; this audits an experiment's OUTCOME
    * shape on the event stream).
    *
    * Exactness: counts are exact integers off ONE user-level
    * aggregate (converted folds into the same pass: max(purchase ts)
    * ≥ min(signup ts) ⟺ some purchase follows the first signup);
    * conversion is integer-div ppm (q190's div rule, NULL for a
    * signup-free arm); the chi-square cell follows the q114 per-cell
    * IEEE contract (e = CAST(total AS DOUBLE)/2, one mirrored chain,
    * round 6, no double summation).
    *
    * Plan at 100 TB: one map-side-combined (user) exchange → a 2-row
    * arm rollup; the 1-row total broadcasts. Nothing driver-side. */
  def experimentArmAudit(s: SparkSession, dir: String): DataFrame =
    experimentArmAuditOver(Tables.events(s, dir))

  /** The q195 pipeline over any (user_id, event_type, ts) frame —
    * injectable for hand-built assignment/conversion specs (the q135
    * rule). */
  private[graft] def experimentArmAuditOver(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val u = events.groupBy($"user_id")
      .agg(min(when($"event_type" === "signup", $"ts")).as("ts_s"),
        max(when($"event_type" === "purchase", $"ts")).as("ts_p"))
      .withColumn("arm",
        when(TrainQueries.sampleKey($"user_id") < 500L, "A").otherwise("B"))
    val a = u.groupBy($"arm").agg(
      count(lit(1)).as("n_users"),
      count($"ts_s").as("n_signups"),
      count(when($"ts_p" >= $"ts_s", lit(1))).as("n_converted"))
    val tot = a.agg(sum($"n_users").as("n"))
    a.crossJoin(broadcast(tot))
      .withColumn("e", $"n".cast("double") / 2)
      .select($"arm", $"n_users", $"n_signups", $"n_converted",
        when($"n_signups" > 0,
          expr("(n_converted * 1000000) div n_signups")).as("conv_ppm"),
        round(($"n_users" - $"e") * ($"n_users" - $"e") / $"e", 6).as("srm_chi2_cell"))
      .orderBy($"arm")
  }

  val experimentArmAuditSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CASE WHEN (user_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 500
      |         THEN 'A' ELSE 'B' END AS arm,
      |    min(CASE WHEN event_type = 'signup' THEN ts END) AS ts_s,
      |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS ts_p
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT arm, count(*) AS n_users, count(ts_s) AS n_signups,
      |    count(CASE WHEN ts_p >= ts_s THEN 1 END) AS n_converted
      |  FROM u GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS n FROM a)
      |SELECT arm, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_signups AS BIGINT) AS n_signups,
      |  CAST(n_converted AS BIGINT) AS n_converted,
      |  CASE WHEN n_signups > 0
      |       THEN CAST((n_converted * 1000000) // n_signups AS BIGINT) END AS conv_ppm,
      |  round((n_users - CAST(tot.n AS DOUBLE) / 2) * (n_users - CAST(tot.n AS DOUBLE) / 2)
      |        / (CAST(tot.n AS DOUBLE) / 2), 6) AS srm_chi2_cell
      |FROM a CROSS JOIN tot ORDER BY arm""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q195_experiment_arms" -> (experimentArmAudit _),
    "q188_user_regularity" -> ((s: SparkSession, dir: String) => userRegularity(s, dir)),
    "q184_skew_audit" -> (skewAudit _),
    "q159_recency_sample" -> (recencySample _),
    "q161_value_drift" -> ((s: SparkSession, dir: String) => valueDrift(s, dir)),
    "q162_session_sequences" -> ((s: SparkSession, dir: String) => sessionSequences(s, dir)),
    "q163_funnel_latency" -> (funnelTimeToConvert _),
    "q72_bloom_semijoin" -> (bloomSemiJoin _),
    "q57_heavy_hitters" -> (heavyHitters _),
    "q88_cms_frequency" -> (cmsFrequency _),
    "q63_heavy_hitters_top" -> (heavyHittersTop _),
    "q64_zorder_scan" -> (zorderScan _),
    "q67_value_window_stats" -> (valueWindowStats _),
    "q59_asof_join" -> (asofJoin _),
    "q77_asof_native" -> (asofJoinNative _),
    "q110_asof_tolerance" -> (asofTolerance _),
    "q111_asof_forward" -> (asofForward _),
    "q112_asof_nearest" -> (asofNearest _),
    "q113_asof_strict" -> (asofStrict _),
    "q120_cohort_retention" -> (cohortRetention _),
    "q121_user_activity_histogram" -> (userActivityHistogram _),
    "q169_interarrival_histogram" -> (interarrivalHistogram _),
    "q170_hour_profile" -> (hourProfile _),
    "q174_last_touch" -> (lastTouch _),
    "q176_transition_matrix" -> (transitionMatrix _),
    "q178_conversion_lag" -> (conversionLag _),
    "q179_winsorized_summary" -> (winsorizedSummary _),
    "q180_top_decile_contribution" -> (topDecileContribution _),
    "q80_scd2_intervals" -> (scd2Intervals _),
    "q135_scd2_merge" -> (scd2IncrementalMerge _),
    "q139_event_anomalies" -> (eventAnomalies _),
    "q142_event_trend" -> (eventTrend _),
    "q62_range_join_counts" -> (rangeJoinCounts _),
    "q19_approx_distinct" -> (approxDistinctUsers _),
    "q28_sessionize" -> (sessionize _),
    "q107_session_copresence" -> (sessionCopresence _),
    "q90_session_funnel" -> (sessionFunnel _),
    "q29_value_percentiles" -> (valuePercentiles _),
    "q56_approx_percentiles" -> (approxPercentiles _),
    "q12_event_summary" -> (eventSummary _),
    "q13_recent_events" -> (recentEvents _),
    "q14_export_events" -> (exportEvents _),
    "q15_hourly_summary" -> (hourlySummary _),
    "q128_event_pivot" -> (eventPivot _),
    "q130_rolling_distinct" -> ((s: SparkSession, dir: String) => rollingDistinctUsers(s, dir)),
    "q86_value_histogram" -> (valueHistogram _),
    "q16_json_extract" -> (jsonExtract _),
    "q17_top_events_per_type" -> (topEventsPerType _),
    "q18_first_event_per_user" -> (firstEventPerUser _),
  )

  val oracles: Map[String, String] = Map(
    "q195_experiment_arms" -> experimentArmAuditSql,
    "q188_user_regularity" -> userRegularitySql(),
    "q184_skew_audit" -> skewAuditSql,
    "q159_recency_sample" -> recencySampleSql,
    "q161_value_drift" -> valueDriftSql(),
    "q162_session_sequences" -> sessionSequencesSql(),
    "q163_funnel_latency" -> funnelTimeToConvertSql,
    "q86_value_histogram" -> valueHistogramSql,
    "q72_bloom_semijoin" -> bloomSemiJoinSql,
    "q57_heavy_hitters" -> heavyHittersSql,
    "q88_cms_frequency" -> cmsFrequencySql,
    "q64_zorder_scan" -> zorderScanSql,
    "q67_value_window_stats" -> valueWindowStatsSql,
    "q59_asof_join" -> asofJoinSql,
    "q77_asof_native" -> asofJoinSql,
    "q110_asof_tolerance" -> asofToleranceSql,
    "q111_asof_forward" -> asofForwardSql,
    "q112_asof_nearest" -> asofNearestSql,
    "q113_asof_strict" -> asofStrictSql,
    "q120_cohort_retention" -> cohortRetentionSql,
    "q121_user_activity_histogram" -> userActivityHistogramSql,
    "q169_interarrival_histogram" -> interarrivalHistogramSql,
    "q170_hour_profile" -> hourProfileSql,
    "q174_last_touch" -> lastTouchSql,
    "q176_transition_matrix" -> transitionMatrixSql,
    "q178_conversion_lag" -> conversionLagSql,
    "q179_winsorized_summary" -> winsorizedSummarySql,
    "q180_top_decile_contribution" -> topDecileContributionSql,
    "q80_scd2_intervals" -> scd2IntervalsSql,
    "q135_scd2_merge" -> scd2IntervalsSql, // the identity IS the oracle
    "q139_event_anomalies" -> eventAnomaliesSql,
    "q142_event_trend" -> eventTrendSql,
    "q62_range_join_counts" -> rangeJoinCountsSql,
    "q19_approx_distinct" -> approxDistinctUsersSql,
    "q28_sessionize" -> sessionizeSql,
    "q107_session_copresence" -> sessionCopresenceSql,
    "q90_session_funnel" -> sessionFunnelSql,
    "q29_value_percentiles" -> valuePercentilesSql,
    "q56_approx_percentiles" -> approxPercentilesSql,
    "q12_event_summary" -> eventSummarySql,
    "q13_recent_events" -> recentEventsSql,
    "q14_export_events" -> exportEventsSql,
    "q15_hourly_summary" -> hourlySummarySql,
    "q128_event_pivot" -> eventPivotSql,
    "q130_rolling_distinct" -> rollingDistinctUsersSql,
    "q16_json_extract" -> jsonExtractSql,
    "q17_top_events_per_type" -> topEventsPerTypeSql,
    "q18_first_event_per_user" -> firstEventPerUserSql,
  )
}
