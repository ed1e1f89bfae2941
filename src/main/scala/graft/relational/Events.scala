package graft.relational

import graft.{QueryDef, Tables}
import graft.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time analytics over the `events` table (SURVEY.md §2.12).
  *
  * Batch forms of the streaming windows; the Structured Streaming variants
  * (readStream + watermark) live in graft.streaming and share the same
  * aggregate logic. Spark's `window()` buckets align to the 1970-01-01 UTC
  * epoch, matching DuckDB's `time_bucket` — the oracles rely on that.
  */
object Events {

  /** Tumbling 10-minute windows per event type. */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  val tumblingSql: String =
    """SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Sliding windows: width 10 minutes, slide 5 — each event lands in
    * exactly two windows. Spark expands via its window generator; the
    * oracle expands explicitly (bucket and bucket-5min). */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("n_events"), col("total_value"))
      .orderBy(col("win_start"))
  }

  val slidingSql: String =
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS bkt, value FROM events
      |), x AS (
      |  SELECT bkt AS win_start, value FROM b
      |  UNION ALL
      |  SELECT bkt - INTERVAL '5 minutes' AS win_start, value FROM b
      |)
      |SELECT win_start, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** q17's sessionizer, shared by q17, q101 and q167: per user in
    * (ts, event_id) order, `prev_us` is the previous event's epoch
    * micros, `new_sess` flags a first event or a gap over 30 minutes,
    * and `sess_id` is the running sum of the flags. */
  private def withSessId(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(running))
  }

  /** Sessionization with a 30-minute inactivity gap, expressed with
    * analytic windows (lag + cumulative session counter) so it is
    * oracle-checkable. Semantically identical to
    * `session_window(ts, "30 minutes")`, which the streaming module uses.
    * Gap comparison is in exact epoch microseconds. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    withSessId(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"),
        max(col("ts")).as("sess_end"),
        sumMoney(col("value")).as("total_value"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  val sessionizeSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, value,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events
      |), s AS (
      |  SELECT user_id, ts, value,
      |    CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM o
      |)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  MIN(ts) AS sess_start, MAX(ts) AS sess_end,
      |  CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin

  /** Per-type daily funnel: conditional aggregation (pivot-style). */
  def dailyFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("views"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        sum(when(col("event_type") === "purchase", dec(col("value"))).otherwise(lit(0))).cast("double").as("purchase_value"))
      .orderBy(col("day"))
  }

  val dailyFunnelSql: String =
    """SELECT date_trunc('day', ts) AS day,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(14,4)) ELSE 0 END) AS DOUBLE) AS purchase_value
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q78: STRICT ordered funnel — q18 counts events per type, which
    * overstates conversion (a purchase before any view still counts).
    * Here a user converts only through the ordered sequence
    * first view → a click AFTER it → a purchase AFTER that click:
    * `t_click = min(click ts > t_view)`, `t_purchase = min(purchase ts >
    * t_click)`. NULL propagation does the sequencing (no view ⇒ t_view
    * NULL ⇒ the click predicate is NULL ⇒ no t_click), identically in
    * both engines.
    *
    * Shape: three chained whole-partition window minima over ONE user_id
    * partitioning — no ORDER BY, so no per-partition sort, and the three
    * Window operators share a single exchange; the final census is a
    * scalar conditional aggregate. At 100 TB this is one shuffle of
    * (user, type, ts) — the funnel never joins events to events. */
  def orderedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t_v",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_c",
        min(when(col("event_type") === "click" && col("ts") > col("t_v"), col("ts"))).over(w))
      .withColumn("t_p",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_c"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t_v")).as("t_v"), max(col("t_c")).as("t_c"), max(col("t_p")).as("t_p"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("t_v")).as("n_viewed"),
        count(col("t_c")).as("n_view_click"),
        count(col("t_p")).as("n_converted"),
        (sum(when(col("t_p").isNotNull,
            unix_micros(col("t_p")) - unix_micros(col("t_v")))).cast("double") /
          count(col("t_p")) / 1000000.0).as("avg_seconds_to_convert"))
  }

  val orderedFunnelSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t_v,
      |    ts, event_type
      |  FROM events
      |), g AS (
      |  SELECT user_id, t_v,
      |    MIN(CASE WHEN event_type = 'click' AND ts > t_v THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_c, ts, event_type
      |  FROM f
      |), h AS (
      |  SELECT user_id, t_v, t_c,
      |    MIN(CASE WHEN event_type = 'purchase' AND ts > t_c THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_p
      |  FROM g
      |), u AS (
      |  SELECT user_id, MAX(t_v) AS t_v, MAX(t_c) AS t_c, MAX(t_p) AS t_p
      |  FROM h GROUP BY user_id
      |)
      |SELECT COUNT(*) AS n_users, COUNT(t_v) AS n_viewed,
      |  COUNT(t_c) AS n_view_click, COUNT(t_p) AS n_converted,
      |  CAST(SUM(CASE WHEN t_p IS NOT NULL THEN epoch_us(t_p) - epoch_us(t_v) END) AS DOUBLE)
      |    / COUNT(t_p) / 1000000.0 AS avg_seconds_to_convert
      |FROM u""".stripMargin

  /** Native session_window operator in batch mode (its streaming twin is
    * graft.streaming.Streaming.sessions). Semantically the same sessions as
    * q17; the oracle derives start/end from the gap-based CTE:
    * sess_end = MAX(ts) + gap, exactly session_window's definition. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("sess_start"))
  }

  val sessionWindowSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, value,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events
      |), s AS (
      |  SELECT user_id, ts, value,
      |    CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM o
      |)
      |SELECT user_id, MIN(ts) AS sess_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start""".stripMargin

  /** As-of join (the canonical time-series operator Spark lacks natively):
    * for each 'click', the most recent prior 'purchase' of the same user.
    *
    * Composed from built-ins (the preferred tier — no custom plan needed):
    * union both sides, one window pass per user ordered by ts carrying the
    * last non-null purchase value/ts forward, then keep the probe rows.
    * One shuffle on user_id, no range join, no per-row backward scan —
    * cost O(n log n/partition) regardless of how far back the match is.
    * (user_id, ts) is unique in this data, so ordering by ts is total. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        (col("event_type") === "click").as("is_probe"))
    // Total order even if (user_id, ts) uniqueness is ever violated:
    // purchases sort BEFORE clicks at equal ts (is_probe asc) so
    // "at-or-before" includes the same-instant purchase deterministically,
    // and event_id breaks purchase-purchase ties. Oracle mirrors the keys.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_probe"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("asof_value",
        last(when(!col("is_probe"), col("value")), ignoreNulls = true).over(w))
      .withColumn("asof_ts",
        last(when(!col("is_probe"), col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_probe"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts"), col("asof_value"))
      .orderBy(col("event_id"))
  }

  val asofJoinSql: String =
    """WITH u AS (
      |  SELECT event_id, user_id, ts, value, (event_type = 'click') AS is_probe
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), w AS (
      |  SELECT event_id, user_id, ts, is_probe,
      |    last_value(CASE WHEN NOT is_probe THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
      |            ROWS UNBOUNDED PRECEDING) AS asof_value,
      |    last_value(CASE WHEN NOT is_probe THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
      |            ROWS UNBOUNDED PRECEDING) AS asof_ts
      |  FROM u
      |)
      |SELECT event_id, user_id, ts, asof_ts, asof_value
      |FROM w WHERE is_probe ORDER BY event_id""".stripMargin

  /** q84: FORWARD as-of join — for each click, the NEXT purchase of the
    * same user at-or-after it (q36 looks backward; "what happened next"
    * is the other half of every event-correlation analysis: time-to-
    * conversion, next-error-after-deploy). Same composed-from-built-ins
    * shape mirrored: one window per user ordered by ts, FIRST non-null
    * purchase carried BACKWARD over [currentRow, unboundedFollowing] —
    * still one shuffle, no range join, no per-row forward scan. The
    * time-to-next gap is exact integer micros surfaced as seconds. */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        (col("event_type") === "click").as("is_probe"))
    // Mirror of q36's tie handling: clicks sort BEFORE purchases at equal
    // ts (is_probe desc) so "at-or-after" includes the same-instant
    // purchase deterministically; event_id totals the order. Without this
    // the match at an exact ts tie depends on arbitrary sort order.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_probe").desc, col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    e.withColumn("next_value",
        first(when(!col("is_probe"), col("value")), ignoreNulls = true).over(w))
      .withColumn("next_ts",
        first(when(!col("is_probe"), col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_probe"))
      .withColumn("secs_to_next",
        (unix_micros(col("next_ts")) - unix_micros(col("ts"))).cast("double") / 1000000.0)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("next_ts"), col("next_value"), col("secs_to_next"))
      .orderBy(col("event_id"))
  }

  val asofForwardSql: String =
    """WITH u AS (
      |  SELECT event_id, user_id, ts, value, (event_type = 'click') AS is_probe
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), w AS (
      |  SELECT event_id, user_id, ts, is_probe,
      |    first_value(CASE WHEN NOT is_probe THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, is_probe DESC, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_value,
      |    first_value(CASE WHEN NOT is_probe THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, is_probe DESC, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
      |  FROM u
      |)
      |SELECT event_id, user_id, ts, next_ts, next_value,
      |  CAST(epoch_us(next_ts) - epoch_us(ts) AS DOUBLE) / 1000000.0 AS secs_to_next
      |FROM w WHERE is_probe ORDER BY event_id""".stripMargin

  /** Interval (range) join: every purchase matched to each click by the
    * same user in the preceding 30 minutes — the attribution query, and
    * the batch twin of `streaming.Streaming.attributionJoin` (the spec
    * proves stream/batch agreement). Equi-key `user_id` carries the
    * shuffle; the time range rides along as a join filter, so the plan is
    * one sort-merge join on user_id — NOT a cross product: at 100 TB the
    * match fan-out is bounded by events-per-user-per-30min, and in the
    * streaming form the same range bounds the join state retention. */
  def attributionJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    purchases.join(clicks, Seq("user_id"))
      .filter(col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"), col("value"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  val attributionJoinSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts, value
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND purchase_ts >= click_ts
      |  AND purchase_ts <= click_ts + INTERVAL '30 minutes'
      |ORDER BY purchase_id, click_id""".stripMargin

  /** q79: linear multi-touch attribution with EXACT money allocation —
    * each purchase's value is split equally across its attributed clicks
    * (q64's interval-join matches). Division done in floats leaks cents
    * (n shares that don't re-sum to the price) and is summation-order-
    * dependent; here the purchase is converted to integer CENTS
    * ([[graft.Exact.cents]] — exact decimal arithmetic), each click gets
    * `cents div n`, and the remainder goes to the EARLIEST click
    * (tie: lowest click_id) — the deterministic financial-prorating rule.
    * Conservation (Σ attributed = Σ matched purchase cents) is exact and
    * spec-asserted; every number in the output is integer arithmetic
    * until the final display division.
    *
    * Shape: q64's equi-join on user_id + time-range filter, then one
    * count window per purchase and one rank window (same purchase_id
    * partitioning — a single exchange serves both), then a user-keyed
    * aggregate. */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val matched = attributionJoin(spark, dir)
      .withColumn("cents", cents(col("value")))
    val wP = Window.partitionBy(col("purchase_id"))
    val wRank = Window.partitionBy(col("purchase_id"))
      .orderBy(col("click_ts"), col("click_id"))
    matched
      .withColumn("n_clicks", count(lit(1)).over(wP))
      .withColumn("rk", row_number().over(wRank))
      // share/remainder must be a CONSISTENT pair (rem = cents − share·n)
      // or conservation breaks for negative values (refunds): Spark `div`
      // truncates toward zero while `pmod` is always non-negative, so
      // div+pmod leaks cents when cents < 0. rem carries cents' sign here,
      // and the SQL twin computes the identical trunc-div pair explicitly
      // (DuckDB's `//` FLOORS for negatives — not used).
      .withColumn("share", expr("cents div n_clicks"))
      .withColumn("attr_cents",
        col("share") + when(col("rk") === 1,
          col("cents") - col("share") * col("n_clicks")).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("purchase_id")).as("n_purchases"),
        count(lit(1)).as("n_credited_clicks"),
        sum(col("attr_cents")).as("attr_cents"))
      .withColumn("attributed_value", (col("attr_cents").cast("double") / 100.0))
      .drop("attr_cents")
      .orderBy(col("user_id"))
  }

  val linearAttributionSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      |  FROM events WHERE event_type = 'purchase'
      |), m AS (
      |  SELECT p.user_id, purchase_id, click_id, click_ts,
      |    CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) AS cents
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND purchase_ts >= click_ts
      |    AND purchase_ts <= click_ts + INTERVAL '30 minutes'
      |), shares AS (
      |  SELECT user_id, purchase_id, cents,
      |    COUNT(*) OVER (PARTITION BY purchase_id) AS n_clicks,
      |    ROW_NUMBER() OVER (PARTITION BY purchase_id
      |                       ORDER BY click_ts, click_id) AS rk
      |  FROM m
      |), attr AS (
      |  SELECT user_id, purchase_id,
      |    share + CASE WHEN rk = 1 THEN cents - share * n_clicks ELSE 0 END AS attr_cents
      |  FROM (SELECT *,
      |          CASE WHEN cents >= 0 THEN cents // n_clicks
      |               ELSE -((-cents) // n_clicks) END AS share
      |        FROM shares)
      |)
      |SELECT user_id, COUNT(DISTINCT purchase_id) AS n_purchases,
      |  COUNT(*) AS n_credited_clicks,
      |  CAST(SUM(attr_cents) AS DOUBLE) / 100.0 AS attributed_value
      |FROM attr GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q160: POSITION-BASED (U-shaped, 40/20/40) multi-touch attribution —
    * the standard alternative to q79's equal split: the first and last
    * touch each earn 40% of the purchase, the middle touches share the
    * remaining 20%. Same exact-integer-cents discipline as q79 (floats
    * leak cents and are order-dependent): 40% shares are `cents·40 div
    * 100` trunc-division, the middle pool is the exact remainder
    * `cents − first − last` (so conservation is structural, not
    * approximate), the pool splits `div (n−2)` with its remainder to the
    * EARLIEST middle, and the degenerate shapes are explicit — a single
    * touch takes everything, a two-touch journey folds the pool into the
    * first touch. Output is per user with the position breakdown (how
    * much of their influence is opener vs closer vs nurture — the report
    * marketing actually reads).
    *
    * Shape: identical to q79 — q64's equi-join, two windows over ONE
    * purchase_id exchange, then a user-keyed aggregate. Trunc-division
    * (not floor) on both engines for refund-negative values: the SQL
    * twin spells out the sign-carrying `//` pair. */
  def positionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val matched = attributionJoin(spark, dir)
      .withColumn("cents", cents(col("value")))
    val wP = Window.partitionBy(col("purchase_id"))
    val wRank = Window.partitionBy(col("purchase_id"))
      .orderBy(col("click_ts"), col("click_id"))
    matched
      .withColumn("n_clicks", count(lit(1)).over(wP))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("f", expr("(cents * 40) div 100"))
      .withColumn("l", expr("(cents * 40) div 100"))
      .withColumn("pool", col("cents") - col("f") - col("l"))
      .withColumn("mid_share",
        when(col("n_clicks") > 2, expr("pool div (n_clicks - 2)")).otherwise(lit(0L)))
      .withColumn("attr_cents",
        when(col("n_clicks") === 1, col("cents"))
          .when(col("rk") === 1 && col("n_clicks") === 2, col("cents") - col("l"))
          .when(col("rk") === 1, col("f"))
          .when(col("rk") === col("n_clicks"), col("l"))
          .otherwise(col("mid_share") + when(col("rk") === 2,
            col("pool") - col("mid_share") * (col("n_clicks") - 2)).otherwise(lit(0L))))
      .withColumn("pos",
        when(col("n_clicks") === 1, "first")
          .when(col("rk") === 1, "first")
          .when(col("rk") === col("n_clicks"), "last")
          .otherwise("mid"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("purchase_id")).as("n_purchases"),
        count(lit(1)).as("n_credited_clicks"),
        sum(when(col("pos") === "first", col("attr_cents")).otherwise(0L))
          .cast("long").as("first_cents"),
        sum(when(col("pos") === "mid", col("attr_cents")).otherwise(0L))
          .cast("long").as("mid_cents"),
        sum(when(col("pos") === "last", col("attr_cents")).otherwise(0L))
          .cast("long").as("last_cents"))
      .withColumn("attributed_value",
        (col("first_cents") + col("mid_cents") + col("last_cents")).cast("double") / 100.0)
      .orderBy(col("user_id"))
  }

  val positionAttributionSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      |  FROM events WHERE event_type = 'purchase'
      |), m AS (
      |  SELECT p.user_id, purchase_id, click_id, click_ts,
      |    CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) AS cents
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND purchase_ts >= click_ts
      |    AND purchase_ts <= click_ts + INTERVAL '30 minutes'
      |), w AS (
      |  SELECT user_id, purchase_id, cents,
      |    COUNT(*) OVER (PARTITION BY purchase_id) AS n_clicks,
      |    ROW_NUMBER() OVER (PARTITION BY purchase_id
      |                       ORDER BY click_ts, click_id) AS rk
      |  FROM m
      |), s AS (
      |  SELECT *,
      |    CASE WHEN cents * 40 >= 0 THEN (cents * 40) // 100
      |         ELSE -((-(cents * 40)) // 100) END AS f
      |  FROM w
      |), s2 AS (
      |  SELECT *, cents - 2 * f AS pool,
      |    CASE WHEN n_clicks > 2 THEN
      |      CASE WHEN cents - 2 * f >= 0 THEN (cents - 2 * f) // (n_clicks - 2)
      |           ELSE -((-(cents - 2 * f)) // (n_clicks - 2)) END
      |    ELSE 0 END AS mid_share
      |  FROM s
      |), a AS (
      |  SELECT user_id, purchase_id,
      |    CASE WHEN n_clicks = 1 THEN cents
      |         WHEN rk = 1 AND n_clicks = 2 THEN cents - f
      |         WHEN rk = 1 THEN f
      |         WHEN rk = n_clicks THEN f
      |         ELSE mid_share + CASE WHEN rk = 2
      |           THEN pool - mid_share * (n_clicks - 2) ELSE 0 END
      |    END AS attr_cents,
      |    CASE WHEN n_clicks = 1 OR rk = 1 THEN 'first'
      |         WHEN rk = n_clicks THEN 'last' ELSE 'mid' END AS pos
      |  FROM s2
      |)
      |SELECT user_id, COUNT(DISTINCT purchase_id) AS n_purchases,
      |  COUNT(*) AS n_credited_clicks,
      |  CAST(SUM(CASE WHEN pos = 'first' THEN attr_cents ELSE 0 END) AS BIGINT) AS first_cents,
      |  CAST(SUM(CASE WHEN pos = 'mid' THEN attr_cents ELSE 0 END) AS BIGINT) AS mid_cents,
      |  CAST(SUM(CASE WHEN pos = 'last' THEN attr_cents ELSE 0 END) AS BIGINT) AS last_cents,
      |  CAST(SUM(attr_cents) AS DOUBLE) / 100.0 AS attributed_value
      |FROM a GROUP BY user_id ORDER BY user_id""".stripMargin

  /** KEYLESS interval (range) join, binned: every 'error' event opens a
    * 5-minute incident window [s, s+5m); count ALL events (any user)
    * inside each window. With no equality key, Spark plans a raw range
    * predicate as BroadcastNestedLoopJoin — O(|incidents|·|events|)
    * comparisons, the classic 100 TB cliff. The standard rewrite: bin
    * both sides at the window width W, explode each interval to the (at
    * most 2) bins it overlaps, equi-join on the bin, then refine with
    * the exact containment predicate. Each matching pair survives in
    * exactly ONE bin (the point's), so no dedup is needed; the join
    * shuffles on a uniformly-distributed key and the comparison count
    * drops to |pairs in the same bin| — proportional to the true match
    * density, not the cross product. The spec asserts the plan contains
    * no nested-loop join and agrees with the naive range join.
    *
    * Bin arithmetic uses exact integer epoch-micros (DIV), never double
    * division — epoch micros exceed 2^53 by 2255, and a quotient one ulp
    * under an integer would misbin a boundary event. */
  def rangeJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 5L * 60 * 1000000
    val e = Tables.events(spark, dir)
    val pts = e.select(col("event_id"), unix_micros(col("ts")).as("p_us"), col("value"))
      .withColumn("bin", expr(s"p_us DIV $winUs"))
    val incidents = e.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), unix_micros(col("ts")).as("s_us"))
      .select(col("incident_id"), col("s_us"),
        explode(sequence(expr(s"s_us DIV $winUs"),
          expr(s"(s_us + ${winUs - 1}) DIV $winUs"))).as("bin"))
    incidents.join(pts, Seq("bin"))
      .filter(col("p_us") >= col("s_us") && col("p_us") < col("s_us") + winUs)
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .orderBy(col("incident_id"))
  }

  val rangeJoinBinnedSql: String =
    """WITH err AS (
      |  SELECT event_id AS incident_id, ts AS s FROM events WHERE event_type = 'error'
      |)
      |SELECT incident_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
      |FROM err JOIN events e ON e.ts >= s AND e.ts < s + INTERVAL '5 minutes'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q92: time-series gap filling + carry-forward interpolation — the
    * "densify the calendar" primitive every dashboard and forecasting
    * feed needs (a month with no orders must appear as an explicit zero
    * row, and a carried metric must bridge it). The dense (nation ×
    * month) grid comes from exploding a per-nation month `sequence`
    * (a GENERATOR, not a cross join — same 84-element array per nation
    * row, so the plan stays cartesian-free and the hygiene spec's global
    * CartesianProduct ban holds); actuals left-join onto the grid;
    * `last(..., ignoreNulls)` per nation ordered by month carries the
    * last real revenue across gaps. At 100 TB the grid is |dims| ×
    * |calendar| — tiny next to the fact aggregate that feeds it, and
    * both the aggregate and the window share the nation partitioning. */
  def gapFillRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("int").as("nation"),
        date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(sumMoney(col("o_totalprice")).as("revenue"))
    val months = sequence(
      lit("1995-01-01").cast("timestamp"),
      lit("2001-12-01").cast("timestamp"),
      expr("INTERVAL 1 MONTH"))
    val grid = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("int").as("nation"),
        explode(months).as("mon"))
    val w = Window.partitionBy(col("nation")).orderBy(col("mon"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(rev, Seq("nation", "mon"), "left")
      .select(col("nation"), col("mon"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        last(col("revenue"), ignoreNulls = true).over(w).as("carried_revenue"),
        col("revenue").isNull.as("gap"))
      .orderBy(col("nation"), col("mon"))
  }

  val gapFillRevenueSql: String =
    """WITH rev AS (
      |  SELECT CAST(c_nationkey AS INT) AS nation,
      |    date_trunc('month', o_orderdate) AS mon,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS DOUBLE) AS revenue
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2
      |), grid AS (
      |  SELECT CAST(n_nationkey AS INT) AS nation, CAST(m AS TIMESTAMP) AS mon
      |  FROM nation, generate_series(TIMESTAMP '1995-01-01',
      |    TIMESTAMP '2001-12-01', INTERVAL 1 MONTH) AS g(m)
      |)
      |SELECT g.nation, g.mon,
      |  COALESCE(r.revenue, 0.0) AS revenue,
      |  last_value(r.revenue IGNORE NULLS) OVER (
      |    PARTITION BY g.nation ORDER BY g.mon ROWS UNBOUNDED PRECEDING) AS carried_revenue,
      |  r.revenue IS NULL AS gap
      |FROM grid g LEFT JOIN rev r ON g.nation = r.nation AND g.mon = r.mon
      |ORDER BY g.nation, g.mon""".stripMargin

  // --------------------------------------------- q100 transition matrix

  /** q100: Markov transition counts over per-user event sequences — for
    * every ordered pair of consecutive events by the same user, how often
    * does type A lead to type B, and across how many users. The behavior-
    * modeling primitive (next-action prediction features, anomaly
    * detection on impossible transitions).
    *
    * Shape: one user-partitioned `lead` window (ordered by the suite's
    * total (ts, event_id) order), then a TWO-level hash aggregation —
    * (from, to, user) partials combine map-side, so the second exchange
    * carries one row per user per transition pair (≤ 25·users), and the
    * distinct-user count needs no expand. The sequence never joins
    * events to events. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"), col("user_id"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("pn")).cast("long").as("n"), count(lit(1)).as("n_users"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val transitionMatrixSql: String =
    """WITH nx AS (
      |  SELECT user_id, event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events
      |), pu AS (
      |  SELECT from_type, to_type, user_id, COUNT(*) AS n
      |  FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2, 3
      |)
      |SELECT from_type, to_type, CAST(SUM(n) AS BIGINT) AS n, COUNT(*) AS n_users
      |FROM pu GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- q101 concurrency sweep

  /** q101: concurrent-session curve by sweep line — for every hour
    * boundary, how many 30-minute-gap sessions (q17's definition) are
    * active (started at-or-before, not yet ended). The capacity-planning
    * question ("how many live sessions must the serving tier hold?").
    *
    * The naive formulation is an interval join — sessions × hour grid on
    * `start <= h AND end >= h` — a range join that explodes at scale.
    * The sweep-line shape here never joins intervals to the grid row-set:
    * each session becomes a +1 delta at the first boundary after its
    * start and a −1 at the first boundary after its end; deltas AGGREGATE
    * to the hour grain first (map-side combined, so the exchange carries
    * ≤ two rows per hour), and the running sum walks the CALENDAR-BOUNDED
    * hourly frame (8,760 rows/year no matter the data volume — same
    * "window over the aggregated frame, never raw rows" rule as q37).
    * The grid comes from an exploded `sequence` over the one-row bounds
    * aggregate, not a cross join. */
  def concurrencySweep(spark: SparkSession, dir: String): DataFrame = {
    val sess = withSessId(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
    // first hour boundary AFTER the instant: active(h) = starts ≤ h minus
    // ends < h, so a session ending exactly ON the boundary still counts
    val d = sess.select(
      (date_trunc("hour", col("sess_start") - expr("INTERVAL 1 MICROSECOND"))
        + expr("INTERVAL 1 HOUR")).as("bs"),
      (date_trunc("hour", col("sess_end")) + expr("INTERVAL 1 HOUR")).as("be"))
    val starts = d.groupBy(col("bs").as("h")).agg(count(lit(1)).as("n_started"))
    val ends = d.groupBy(col("be").as("h")).agg(count(lit(1)).as("n_ended"))
    val bounds = d.agg(least(min(col("bs")), min(col("be"))).as("lo"),
      greatest(max(col("bs")), max(col("be"))).as("hi"))
    val grid = bounds.select(explode(
      expr("sequence(lo, hi, INTERVAL 1 HOUR)")).as("h"))
    grid.join(starts, Seq("h"), "left").join(ends, Seq("h"), "left")
      .select(col("h"),
        coalesce(col("n_started"), lit(0L)).as("n_started"),
        coalesce(col("n_ended"), lit(0L)).as("n_ended"))
      .withColumn("active",
        sum(col("n_started") - col("n_ended"))
          .over(Window.orderBy(col("h"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .orderBy(col("h"))
  }

  val concurrencySweepSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events
      |), s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM o
      |), sess AS (
      |  SELECT user_id, sess_id, MIN(ts) AS sess_start, MAX(ts) AS sess_end
      |  FROM s GROUP BY 1, 2
      |), d AS MATERIALIZED (
      |  SELECT date_trunc('hour', sess_start - INTERVAL 1 MICROSECOND) + INTERVAL 1 HOUR AS bs,
      |         date_trunc('hour', sess_end) + INTERVAL 1 HOUR AS be
      |  FROM sess
      |), starts AS (SELECT bs AS h, COUNT(*) AS n_started FROM d GROUP BY 1),
      |ends AS (SELECT be AS h, COUNT(*) AS n_ended FROM d GROUP BY 1),
      |bounds AS (SELECT least(MIN(bs), MIN(be)) AS lo, greatest(MAX(bs), MAX(be)) AS hi FROM d),
      |grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds)
      |SELECT g.h, COALESCE(st.n_started, 0) AS n_started, COALESCE(en.n_ended, 0) AS n_ended,
      |  CAST(SUM(COALESCE(st.n_started, 0) - COALESCE(en.n_ended, 0))
      |    OVER (ORDER BY g.h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS active
      |FROM grid g LEFT JOIN starts st ON g.h = st.h LEFT JOIN ends en ON g.h = en.h
      |ORDER BY g.h""".stripMargin

  // --------------------------------------------- q102 JSON property stats

  /** q102: schema-on-read over the semi-structured `props` JSON column —
    * parse with an EXPLICIT schema (`from_json`, no inference pass, so
    * the read schema is data-independent, same rule as io.Formats) and
    * aggregate the extracted field per event type. The "events carry a
    * JSON payload bag" shape every real pipeline has.
    *
    * Two-level hash aggregation: (type, k) partials combine map-side and
    * the distinct-k count falls out of the second level with no
    * distinct-expand; min/max/sum decompose over the partials
    * (sum_k = Σ k·count). NULL k (absent key or malformed JSON) stays a
    * first-class group: counted in `n`, excluded from min/max/sum/n_k —
    * identical null semantics in both engines. */
  def propsJsonStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).cast("long").as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k") * col("pn")).cast("long").as("sum_k"),
        count(when(col("k").isNotNull, 1)).as("n_k"))
      .orderBy(col("event_type"))
  }

  val propsJsonStatsSql: String =
    """WITH x AS (
      |  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
      |), g AS (
      |  SELECT event_type, k, COUNT(*) AS pn FROM x GROUP BY 1, 2
      |)
      |SELECT event_type, CAST(SUM(pn) AS BIGINT) AS n,
      |  MIN(k) AS min_k, MAX(k) AS max_k,
      |  CAST(SUM(k * pn) AS BIGINT) AS sum_k,
      |  COUNT(CASE WHEN k IS NOT NULL THEN 1 END) AS n_k
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- q107 debounce census

  /** Debounce window in microseconds (5 minutes). */
  val DebounceUs: Long = 5L * 60 * 1000000

  /** q107: per-type debounce census — an event is SUPPRESSED if the same
    * user emitted the same event type within the previous 5 minutes (the
    * retry-storm / double-click suppression rule every ingest edge
    * applies). One (user, type)-partitioned lag window — the dedup
    * decision never joins events to events — then a conditional census
    * per type. Kept + suppressed = total by construction (spec-locked). */
  def debounceCensus(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("gap_us").isNull || col("gap_us") > DebounceUs, 1)).as("n_kept"),
        count(when(col("gap_us") <= DebounceUs, 1)).as("n_suppressed"))
      .orderBy(col("event_type"))
  }

  val debounceCensusSql: String =
    s"""WITH o AS (
       |  SELECT event_type, user_id,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
       |  FROM events
       |)
       |SELECT event_type, COUNT(*) AS n_events,
       |  COUNT(CASE WHEN gap_us IS NULL OR gap_us > $DebounceUs THEN 1 END) AS n_kept,
       |  COUNT(CASE WHEN gap_us <= $DebounceUs THEN 1 END) AS n_suppressed
       |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- q108 conversion latency

  /** q108: click→purchase conversion-latency histogram — for every
    * click, the time until the user's next purchase (at-or-after, q84's
    * forward-looking window minimum), bucketed to operations-friendly
    * bins plus an explicit `no_purchase` bucket. The funnel-latency
    * distribution q18's counts can't see.
    *
    * Shape: ONE user-partitioned window pass computes every click's next
    * purchase (no click-to-purchase join), then the bucket census is a
    * tiny hash agg. Exact integer microseconds end-to-end, so bucket
    * boundaries cannot float-drift between engines. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "click")
      .withColumn("lat", col("next_purchase_us") - unix_micros(col("ts")))
      .withColumn("bucket",
        when(col("lat").isNull, "no_purchase")
          .when(col("lat") <= 60000000L, "le_1m")
          .when(col("lat") <= 600000000L, "le_10m")
          .when(col("lat") <= 3600000000L, "le_1h")
          .otherwise("gt_1h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clicks"),
        min(col("lat")).as("min_us"), max(col("lat")).as("max_us"))
      .orderBy(col("bucket"))
  }

  val conversionLatencySql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_us
      |  FROM events
      |), c AS (
      |  SELECT CASE WHEN next_purchase_us IS NULL THEN 'no_purchase'
      |              WHEN next_purchase_us - epoch_us(ts) <= 60000000 THEN 'le_1m'
      |              WHEN next_purchase_us - epoch_us(ts) <= 600000000 THEN 'le_10m'
      |              WHEN next_purchase_us - epoch_us(ts) <= 3600000000 THEN 'le_1h'
      |              ELSE 'gt_1h' END AS bucket,
      |         next_purchase_us - epoch_us(ts) AS lat
      |  FROM e WHERE event_type = 'click'
      |)
      |SELECT bucket, COUNT(*) AS n_clicks,
      |  CAST(MIN(lat) AS BIGINT) AS min_us, CAST(MAX(lat) AS BIGINT) AS max_us
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- q111 anomaly detection

  /** q111: per-type daily-volume anomaly census — which days spike above
    * the type's mean by 2σ/3σ, plus the peak day. The monitoring rule
    * every ingest pipeline runs; z-scores normally mean floats and sqrt,
    * but the test `|n − μ| > k·σ AND n > μ` is equivalent to
    * `(d·n − s)² > k²·(d·s2 − s²) AND n·d > s` over the integer
    * day-count sums (s = Σn, s2 = Σn²) — PURE integer arithmetic, no
    * sqrt, no division, so both engines agree exactly. (Long headroom:
    * d·s2 overflows past ~10⁹ events/day/type; at that volume promote
    * the sums to DECIMAL(38).)
    *
    * Shape: daily hash agg (map-combined), then every statistic —
    * count/sum/sum-of-squares windows AND the peak-day rank — shares ONE
    * event_type exchange over the tiny daily frame; final census is a
    * 5-row aggregate. */
  def anomalyDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wT = Window.partitionBy(col("event_type"))
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("n").desc, col("day"))
    daily
      .withColumn("d", count(lit(1)).over(wT))
      .withColumn("s", sum(col("n")).over(wT))
      .withColumn("s2", sum(col("n") * col("n")).over(wT))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("dev2", (col("d") * col("n") - col("s")) * (col("d") * col("n") - col("s")))
      .withColumn("dvar", col("d") * col("s2") - col("s") * col("s"))
      .groupBy(col("event_type"))
      .agg(max(col("d")).as("n_days"),
        max(col("s")).as("total"),
        max(when(col("rn") === 1, col("day"))).as("peak_day"),
        max(when(col("rn") === 1, col("n"))).as("peak_n"),
        count(when(col("dev2") > lit(4) * col("dvar") &&
          col("n") * col("d") > col("s"), 1)).as("n_spike_2sigma"),
        count(when(col("dev2") > lit(9) * col("dvar") &&
          col("n") * col("d") > col("s"), 1)).as("n_spike_3sigma"))
      .orderBy(col("event_type"))
  }

  val anomalyDaysSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT event_type, day, n,
      |    COUNT(*) OVER (PARTITION BY event_type) AS d,
      |    SUM(n) OVER (PARTITION BY event_type) AS s,
      |    SUM(n*n) OVER (PARTITION BY event_type) AS s2,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, day) AS rn
      |  FROM daily
      |)
      |SELECT event_type, CAST(MAX(d) AS BIGINT) AS n_days,
      |  CAST(MAX(s) AS BIGINT) AS total,
      |  MAX(CASE WHEN rn = 1 THEN day END) AS peak_day,
      |  CAST(MAX(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS peak_n,
      |  CAST(COUNT(CASE WHEN (d*n - s)*(d*n - s) > 4*(d*s2 - s*s) AND n*d > s THEN 1 END) AS BIGINT) AS n_spike_2sigma,
      |  CAST(COUNT(CASE WHEN (d*n - s)*(d*n - s) > 9*(d*s2 - s*s) AND n*d > s THEN 1 END) AS BIGINT) AS n_spike_3sigma
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- q113 retention cohorts

  /** q113: weekly retention cohorts — users grouped by their first-
    * activity week; for each (cohort, week-offset), how many distinct
    * cohort members were active. THE product-analytics staple (the
    * "retention triangle").
    *
    * Shape: activity is collapsed to distinct (user, week) FIRST (the
    * map-combined dedup carries one row per user-week, not per event),
    * the cohort is a per-user min over that frame, and the final
    * distinct-user count per (cohort, offset) needs no expand because
    * (user, week) is already unique. Week arithmetic stays on
    * week-truncated dates, so the offset is an exact integer
    * `days div 7` in both engines. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .agg(count(lit(1)).as("n_events"))
    val wU = Window.partitionBy(col("user_id"))
    uw.withColumn("cohort", min(col("wk")).over(wU))
      .withColumn("offset_wk", expr("datediff(wk, cohort) div 7").cast("long"))
      .groupBy(col("cohort"), col("offset_wk"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("offset_wk"))
  }

  val retentionCohortsSql: String =
    """WITH uw AS (
      |  SELECT user_id, date_trunc('week', ts) AS wk FROM events GROUP BY 1, 2
      |), first AS (
      |  SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY 1
      |)
      |SELECT f.cohort, CAST(date_diff('week', f.cohort, uw.wk) AS BIGINT) AS offset_wk,
      |  COUNT(*) AS n_users
      |FROM uw JOIN first f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- q146 cohort LTV curve

  /** q146: weekly-cohort lifetime-value curve — q113 counts WHO comes
    * back; this measures what they are WORTH: per (first-event-week
    * cohort, weeks-since) cell, purchase revenue, its running cumulative,
    * and cumulative LTV per cohort member. The growth-analytics
    * complement of retention (payback-period dashboards read exactly
    * this frame).
    *
    * Exactness: `value` is 4-decimal money (spec-checked: every value is
    * exact at DECIMAL(14,4)), so revenue aggregates in INTEGER 10⁻⁴-dollar
    * units — `dec(value)·10⁴` is integral, making the BIGINT cast
    * rounding-free on both engines (cents would land on the
    * truncate-vs-round half-cent cast tie that bit q112). LTV division is
    * integer `div` by cohort size.
    *
    * Shape: one user aggregate pins each user's cohort week; purchases
    * join to it on user_id and aggregate TWO-LEVEL ((cohort, offset,
    * user) partials first, so distinct-buyer counting needs no Expand);
    * the running sum windows over the aggregated cohort×offset frame
    * only; cohort sizes broadcast. Offsets with zero purchases don't
    * emit rows (the curve is sparse by construction; q92 is the gap-fill
    * operator when a dense grid is wanted). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firstWk = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val cohortSize = firstWk.groupBy(col("cohort"))
      .agg(count(lit(1)).cast("long").as("cohort_users"))
    val perUser = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"),
        (dec(col("value")) * 10000).cast("long").as("v_u"))
      .join(firstWk, Seq("user_id"))
      .withColumn("offset_wk", expr("datediff(wk, cohort) div 7").cast("long"))
      .groupBy(col("cohort"), col("offset_wk"), col("user_id"))
      .agg(sum(col("v_u")).as("uc"))
    val agg = perUser.groupBy(col("cohort"), col("offset_wk"))
      .agg(count(lit(1)).cast("long").as("n_buyers"),
        sum(col("uc")).cast("long").as("rev_u"))
    val wC = Window.partitionBy(col("cohort")).orderBy(col("offset_wk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg.withColumn("cum_rev_u", sum(col("rev_u")).over(wC).cast("long"))
      .join(broadcast(cohortSize), Seq("cohort"))
      .withColumn("ltv_u_per_user", expr("cum_rev_u div cohort_users"))
      .select(col("cohort"), col("offset_wk"), col("n_buyers"), col("rev_u"),
        col("cum_rev_u"), col("cohort_users"), col("ltv_u_per_user"))
      .orderBy(col("cohort"), col("offset_wk"))
  }

  val cohortLtvSql: String =
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort FROM events GROUP BY 1
      |), cs AS (
      |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM f GROUP BY 1
      |), pu AS (
      |  SELECT f.cohort,
      |    CAST(date_diff('week', f.cohort, date_trunc('week', e.ts)) AS BIGINT) AS offset_wk,
      |    e.user_id,
      |    SUM(CAST(CAST(e.value AS DECIMAL(14,4)) * 10000 AS BIGINT)) AS uc
      |  FROM events e JOIN f USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2, 3
      |), a AS (
      |  SELECT cohort, offset_wk, CAST(COUNT(*) AS BIGINT) AS n_buyers,
      |    CAST(SUM(uc) AS BIGINT) AS rev_u
      |  FROM pu GROUP BY 1, 2
      |), c AS (
      |  SELECT *, CAST(SUM(rev_u) OVER (PARTITION BY cohort ORDER BY offset_wk
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_u
      |  FROM a
      |)
      |SELECT c.cohort, c.offset_wk, c.n_buyers, c.rev_u, c.cum_rev_u,
      |  cs.cohort_users, c.cum_rev_u // cs.cohort_users AS ltv_u_per_user
      |FROM c JOIN cs USING (cohort) ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- q153 CUSUM drift detection

  /** q153: two-sided CUSUM change-point detection on daily purchase
    * revenue — the SEQUENTIAL drift monitor beside q111's pointwise
    * z-score spikes: CUSUM accumulates small sustained shifts a
    * per-day threshold never sees (the classic Page test).
    *
    * The textbook recursion s_t = max(0, s_{t−1} + (x_t − μ − k)) looks
    * iteration-bound, but distributes exactly via the prefix identity
    * s_t = C_t − min_{τ≤t} C_τ with C the running sum of (x − μ − k) —
    * both a cumulative sum and a running min, i.e. two frames over ONE
    * ordered window on the AGGREGATED daily frame (≤ 365 rows/year at
    * any data scale; the corpus scan is one hash aggregate to days).
    * The down-side statistic uses the mirrored identity with slack +k
    * and a prefix max.
    *
    * All in exact integer 10⁻⁴-dollar units (the q146 unit — `value` is
    * 4-decimal): μ = total div n_days, slack k = μ div 20 (5%), alarm
    * threshold h = μ (one mean day's worth of accumulated drift). */
  def cusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum((dec(col("value")) * 10000).cast("long")).as("x_u"))
    val stats = daily.agg(count(lit(1)).as("n_days"), sum(col("x_u")).as("tot"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(stats))
      .withColumn("mu", expr("tot div n_days"))
      .withColumn("k", expr("mu div 20"))
      .withColumn("cup", sum(col("x_u") - col("mu") - col("k")).over(w))
      .withColumn("cdn", sum(col("x_u") - col("mu") + col("k")).over(w))
      // the prefix extremum must include the virtual C_0 = 0 (the empty
      // prefix of the recursion), or an immediately-positive drift would
      // be under-counted by its own first value
      .withColumn("cusum_up",
        (col("cup") - least(min(col("cup")).over(w), lit(0L))).cast("long"))
      .withColumn("cusum_down",
        (greatest(max(col("cdn")).over(w), lit(0L)) - col("cdn")).cast("long"))
      .withColumn("alarm",
        col("cusum_up") > col("mu") || col("cusum_down") > col("mu"))
      .select(col("day"), col("x_u").cast("long").as("x_u"),
        col("cusum_up"), col("cusum_down"), col("alarm"))
      .orderBy(col("day"))
  }

  val cusumDriftSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT)) AS x_u
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), s AS (
      |  SELECT COUNT(*) AS n_days, CAST(SUM(x_u) AS BIGINT) AS tot FROM daily
      |), c AS (
      |  SELECT day, x_u, tot // n_days AS mu, (tot // n_days) // 20 AS k
      |  FROM daily CROSS JOIN s
      |), r1 AS (
      |  SELECT day, x_u, mu,
      |    SUM(x_u - mu - k) OVER w AS cup,
      |    SUM(x_u - mu + k) OVER w AS cdn
      |  FROM c
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), r2 AS (
      |  SELECT day, x_u, mu, cup, cdn,
      |    LEAST(MIN(cup) OVER w, 0) AS mincup,
      |    GREATEST(MAX(cdn) OVER w, 0) AS maxcdn
      |  FROM r1
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT day, CAST(x_u AS BIGINT) AS x_u,
      |  CAST(cup - mincup AS BIGINT) AS cusum_up,
      |  CAST(maxcdn - cdn AS BIGINT) AS cusum_down,
      |  (cup - mincup > mu OR maxcdn - cdn > mu) AS alarm
      |FROM r2 ORDER BY day""".stripMargin

  // --------------------------------------------- q138 frequent event paths

  /** q138: top-15 frequent 3-step event-type paths — for every run of
    * three consecutive same-user events with each inter-event gap inside
    * the 30-minute session bound (q17's gap), count occurrences and
    * distinct users walking the path. The sequence-mining primitive
    * behind "what do users do right before purchase" / funnel-discovery
    * dashboards; q100 is its order-1 (pair) marginal.
    *
    * Shape: ONE user-partitioned window exchange serves both `lead`
    * columns (type and timestamp at offsets 1 and 2 share the frame),
    * then the q100 two-level aggregation — (path, user) partials combine
    * map-side so the second exchange carries ≤ |paths|·users rows, and
    * the distinct-user count needs no Expand. Events never join to
    * events: the naive 3-way self-join on (user, ts range) would shuffle
    * the fact table three times and explode on hot users. Top-15 is
    * `orderBy.limit` = TakeOrderedAndProject over the ≤|types|³
    * aggregated rows, with the (n, path) total order making the cut
    * deterministic at every scale. */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("t2", lead(col("us"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .withColumn("t3", lead(col("us"), 2).over(byUser))
      .filter(col("e3").isNotNull &&
        col("t2") - col("us") <= gapUs && col("t3") - col("t2") <= gapUs)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"), col("user_id"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(sum(col("pn")).cast("long").as("n"), count(lit(1)).as("n_users"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(15)
  }

  val eventPathsSql: String =
    """WITH nx AS (
      |  SELECT user_id, event_type AS e1, epoch_us(ts) AS t1,
      |    lead(event_type, 1) OVER w AS e2, lead(epoch_us(ts), 1) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS e3, lead(epoch_us(ts), 2) OVER w AS t3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), runs AS (
      |  SELECT e1, e2, e3, user_id, COUNT(*) AS pn FROM nx
      |  WHERE e3 IS NOT NULL AND t2 - t1 <= 1800000000 AND t3 - t2 <= 1800000000
      |  GROUP BY 1, 2, 3, 4
      |)
      |SELECT e1, e2, e3, CAST(SUM(pn) AS BIGINT) AS n, COUNT(*) AS n_users
      |FROM runs GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 15""".stripMargin

  // --------------------------------------------- q161 rolling active users

  /** q161: rolling 7-day active users (WAU) per day, with same-day
    * actives (DAU) and the DAU/WAU stickiness ratio — the growth
    * dashboard's engagement line. Exact distinct counting over a SLIDING
    * window is the trap here: a window-function COUNT(DISTINCT) is
    * unsupported, and re-scanning 7 days per output day multiplies the
    * corpus.
    *
    * Shape: dedup to the (user, active-day) frame ONCE (hash aggregate
    * with map-side combine — the only corpus-sized step), then each
    * active day contributes to the ≤ 7 window-END days it is visible
    * from via a bounded explode over the aggregated frame, a second
    * (user, window-day) dedup collapses multi-active users, and the
    * per-day count is plain COUNT(*). Window-end days are inner-joined
    * back to observed days so trailing phantom windows (ending after the
    * last event) never appear. Everything after the first dedup is
    * |users|·|days|-sized, not event-sized; stickiness is integer basis
    * points. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    // the (user, day) frame feeds THREE branches (observed days, DAU,
    // the windowed WAU dedup); without the lineage cut each branch
    // re-scans the corpus and re-pays the dedup shuffle — checkpoint so
    // the only corpus-sized step runs once (q83's shared-subtree rule)
    val perDay = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .transform(graft.Dist.durableCkpt)
    val days = perDay.select(col("day")).distinct()
    val dau = perDay.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = perDay
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6), lit(1))).as("k"))
      .select(col("user_id"), expr("timestampadd(DAY, k, day)").as("win_day"))
      .distinct()
      .groupBy(col("win_day")).agg(count(lit(1)).as("wau"))
    wau.join(days.withColumnRenamed("day", "win_day"), Seq("win_day"))
      .join(dau.withColumnRenamed("day", "win_day"), Seq("win_day"))
      .withColumn("stickiness_bp", expr("10000 * dau div wau"))
      .select(col("win_day"), col("wau").cast("long").as("wau"),
        col("dau").cast("long").as("dau"), col("stickiness_bp"))
      .orderBy(col("win_day"))
  }

  val rollingActiveUsersSql: String =
    """WITH pd AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
      |), days AS (SELECT DISTINCT day FROM pd),
      |dau AS (SELECT day, COUNT(*) AS dau FROM pd GROUP BY 1),
      |c AS (
      |  SELECT DISTINCT user_id, day + k * INTERVAL 1 DAY AS win_day
      |  FROM pd, range(0, 7) t(k)
      |), w AS (SELECT win_day, COUNT(*) AS wau FROM c GROUP BY 1)
      |SELECT w.win_day, CAST(wau AS BIGINT) AS wau,
      |  CAST(dau.dau AS BIGINT) AS dau,
      |  CAST(10000 * dau.dau // wau AS BIGINT) AS stickiness_bp
      |FROM w JOIN days ON w.win_day = days.day
      |  JOIN dau ON dau.day = w.win_day
      |ORDER BY w.win_day""".stripMargin

  // ------------------------------------------ q167 session-depth census

  /** q167: session-depth census with bounce rate — q17 MAKES the
    * sessions; this is the report product teams read off them: how many
    * sessions are single-event bounces vs 2-event pairs vs shallow (3–5)
    * vs deep (6+), each class's share in basis points, and the event
    * volume it carries. The bounce row IS the bounce rate.
    *
    * Shape: q17's lag/cumsum sessionizer (one user-keyed exchange serves
    * the lag window, the running sum, and the per-session count — hash
    * (user) satisfies the (user, sess) clustering), then a 4-row class
    * census and the broadcast one-row total (hygiene-whitelisted scalar
    * shape). Depth classes are a fixed CASE on both engines. */
  def sessionDepthCensus(spark: SparkSession, dir: String): DataFrame = {
    val sess = withSessId(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("depth"))
    val census = sess.groupBy(
        when(col("depth") === 1, "1_bounce")
          .when(col("depth") === 2, "2_pair")
          .when(col("depth") <= 5, "3_shallow_3_5")
          .otherwise("4_deep_6_plus").as("depth_class"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("depth")).cast("long").as("n_events"))
    val tot = census.agg(sum(col("n_sessions")).as("tot"))
    census.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("10000 * n_sessions div tot"))
      .select(col("depth_class"), col("n_sessions").cast("long").as("n_sessions"),
        col("n_events"), col("share_bp").cast("long").as("share_bp"))
      .orderBy(col("depth_class"))
  }

  val sessionDepthCensusSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events
      |), s AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM o
      |), d AS (
      |  SELECT user_id, sess_id, COUNT(*) AS depth FROM s GROUP BY 1, 2
      |), c AS (
      |  SELECT CASE WHEN depth = 1 THEN '1_bounce'
      |              WHEN depth = 2 THEN '2_pair'
      |              WHEN depth <= 5 THEN '3_shallow_3_5'
      |              ELSE '4_deep_6_plus' END AS depth_class,
      |    COUNT(*) AS n_sessions, CAST(SUM(depth) AS BIGINT) AS n_events
      |  FROM d GROUP BY 1
      |), t AS (SELECT SUM(n_sessions) AS tot FROM c)
      |SELECT depth_class, CAST(n_sessions AS BIGINT) AS n_sessions, n_events,
      |  CAST(10000 * n_sessions // tot AS BIGINT) AS share_bp
      |FROM c CROSS JOIN t ORDER BY depth_class""".stripMargin

  // ------------------------------------------ q168 burst / rate-limit census

  /** q168: per-user peak-burst census — the rate-limit / abuse-detection
    * audit: the most events any user emitted inside ONE sliding hour,
    * with the user count, event volume, and user share per peak value.
    * The census keys on the peak itself (not pre-binned classes): the
    * distinct-peak domain is bounded by the worst burst ever observed, so
    * the report stays tiny at any corpus size while never collapsing to
    * one row on sparse data the way fixed power-of-two classes do.
    *
    * The burst window is event-anchored: for each event, count the same
    * user's events in [t, t+1h) via a RANGE frame over unix micros — the
    * exact sliding-window maximum, not an hourly-bucket approximation (a
    * burst straddling a bucket boundary would split there and
    * under-report). Tied timestamps are frame peers on both engines, so
    * the count is tie-stable.
    *
    * Shape: ONE corpus-sized hash(user) exchange serves BOTH the RANGE
    * window and the per-user peak aggregate (HashPartitioning(user_id)
    * satisfies the downstream clustering); the census is a ≤6-row
    * aggregate whose total attaches via an unpartitioned window OVER THE
    * CENSUS ITSELF — unlike the crossJoin(broadcast(one-row-agg)) scalar
    * shape, this adds no second plan branch, so the corpus scan+window
    * run exactly once (plan-locked at 2 hash exchanges). The RANGE frame
    * advances two pointers linearly per user partition — no self-join,
    * no per-event hour explode. */
  def burstCensus(spark: SparkSession, dir: String): DataFrame = {
    val hourAhead = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(Window.currentRow, 3600L * 1000000 - 1)
    val peaks = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("burst", count(lit(1)).over(hourAhead))
      .groupBy(col("user_id"))
      .agg(max(col("burst")).as("peak"), count(lit(1)).as("n_events"))
    val census = peaks.groupBy(col("peak").cast("long").as("peak"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_events")).cast("long").as("n_events"))
    val overAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    census.withColumn("tot", sum(col("n_users")).over(overAll))
      .withColumn("share_bp", expr("10000 * n_users div tot"))
      .select(col("peak"), col("n_users").cast("long").as("n_users"),
        col("n_events"), col("share_bp").cast("long").as("share_bp"))
      .orderBy(col("peak"))
  }

  val burstCensusSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |), b AS (
      |  SELECT user_id,
      |    COUNT(*) OVER (PARTITION BY user_id ORDER BY us
      |                   RANGE BETWEEN CURRENT ROW AND 3599999999 FOLLOWING) AS burst
      |  FROM e
      |), p AS (
      |  SELECT user_id, MAX(burst) AS peak, COUNT(*) AS n_events FROM b GROUP BY 1
      |), c AS (
      |  SELECT CAST(peak AS BIGINT) AS peak, COUNT(*) AS n_users,
      |    CAST(SUM(n_events) AS BIGINT) AS n_events
      |  FROM p GROUP BY 1
      |)
      |SELECT peak, CAST(n_users AS BIGINT) AS n_users, n_events,
      |  CAST(10000 * n_users // SUM(n_users) OVER () AS BIGINT) AS share_bp
      |FROM c ORDER BY peak""".stripMargin

  // ------------------------------------------ q170 burst alert feed

  /** Alert threshold and bucket width for q170 (and its streaming twin
    * [[graft.streaming.Streaming.burstAlerts]]): ≥ BurstThreshold events
    * in the rolling 12-bucket (1 h) window ending at a 5-minute bucket. */
  val BurstThreshold = 3L
  val BurstBucketUs = 300000000L

  /** q170: the rate-limit EXCEEDANCE FEED — where q168 reports each
    * user's single worst burst, this emits every (user, 5-minute bucket)
    * whose trailing-hour event count crosses [[BurstThreshold]]: the
    * actionable alert stream a throttling system consumes, and the batch
    * twin the streaming emitter is proven against. Bucketed-hour
    * semantics (12 complete 5-min buckets) rather than q168's
    * event-anchored exact window — the standard alerting definition,
    * because it gives each potential alert a FINALITY instant (bucket
    * end + watermark) a streaming emitter can act on exactly once.
    *
    * Shape: one explicit hash(user) repartition serves BOTH the
    * (user, bucket) count and the per-user RANGE window (q74's
    * partitioning-reuse idiom; plan-locked at 1 hash exchange — grouping
    * on (user, bucket) directly would exchange on the pair and then
    * AGAIN for the user window). The RANGE frame over bucket indices
    * skips empty buckets by value, no gap-fill row explosion. */
  def burstAlerts(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("bkt"))
      .rangeBetween(-11, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $BurstBucketUs").as("bkt"))
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("bkt")).agg(count(lit(1)).as("n"))
      .withColumn("hr_events", sum(col("n")).over(byUser).cast("long"))
      .filter(col("hr_events") >= BurstThreshold)
      .select(col("user_id"), col("bkt").cast("long").as("bkt"),
        col("hr_events"))
      .orderBy(col("user_id"), col("bkt"))
  }

  val burstAlertsSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 300000000 AS bkt FROM events
      |), c AS (
      |  SELECT user_id, bkt, COUNT(*) AS n FROM e GROUP BY 1, 2
      |), w AS (
      |  SELECT user_id, CAST(bkt AS BIGINT) AS bkt,
      |    CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY bkt
      |         RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS hr_events
      |  FROM c
      |)
      |SELECT user_id, bkt, hr_events FROM w
      |WHERE hr_events >= 3 ORDER BY user_id, bkt""".stripMargin

  // ------------------------------------------ q173 inter-event gap spectrum

  /** q173: the think-time SPECTRUM — per-user inter-event gaps binned by
    * power of two (integer log₂), the census that justifies q17's
    * 30-minute session gap empirically: within-session think times pile
    * into the low buckets, cross-session returns into the high ones,
    * and the sessionization threshold belongs in the valley between.
    * q107 debounces the sub-second end and q108 measures one funnel's
    * latency; this is the full distribution both of them sit inside.
    *
    * The log₂ bucket is the BINARY DIGIT COUNT of the gap in micros —
    * `length(bin(gap))` in Spark, `length(format('{:b}', gap))` in
    * DuckDB — an exact integer on both engines, where `floor(log2(x))`
    * in doubles can flip at power-of-two boundaries. Zero gaps (tied
    * timestamps) land in bucket 1 on both.
    *
    * Shape: ONE hash(user) exchange for the lag window, then a
    * ≤64-row bucket census; shares attach via the unpartitioned window
    * over the census (q168's idiom — no second corpus branch). */
  def gapSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .groupBy(length(bin(col("gap_us"))).cast("long").as("gap_bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).cast("long").as("lo_us"),
        max(col("gap_us")).cast("long").as("hi_us"))
      .withColumn("share_bp",
        expr("10000 * n_gaps div sum(n_gaps) OVER ()").cast("long"))
      .select(col("gap_bucket"), col("n_gaps").cast("long").as("n_gaps"),
        col("lo_us"), col("hi_us"), col("share_bp"))
      .orderBy(col("gap_bucket"))
  }

  val gapSpectrumSql: String =
    """WITH o AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
      |  FROM events
      |), g AS (
      |  SELECT CAST(length(format('{:b}', us - p)) AS BIGINT) AS gap_bucket,
      |    us - p AS gap_us
      |  FROM o WHERE p IS NOT NULL
      |), c AS (
      |  SELECT gap_bucket, COUNT(*) AS n_gaps,
      |    CAST(MIN(gap_us) AS BIGINT) AS lo_us,
      |    CAST(MAX(gap_us) AS BIGINT) AS hi_us
      |  FROM g GROUP BY 1
      |)
      |SELECT gap_bucket, CAST(n_gaps AS BIGINT) AS n_gaps, lo_us, hi_us,
      |  CAST(10000 * n_gaps // SUM(n_gaps) OVER () AS BIGINT) AS share_bp
      |FROM c ORDER BY gap_bucket""".stripMargin

  // ------------------------------------------ q172 incremental backfill

  /** q172: LATE-DATA BACKFILL — the reconciliation job that keeps a
    * landed daily aggregate correct when events arrive after their day
    * was published. Late rows are deterministic synthetic stragglers
    * (`event_id % 37 = 0` on days with `day_index % 7 = 3` — day-
    * targeted so the touched set stays a strict subset of the 30-day
    * span at EVERY scale factor; a flat id-modulo marker touches every
    * day once the corpus is large). The landed MV is the on-time daily
    * aggregate; the backfill recomputes ONLY the late batch's days and
    * stitches them into the untouched landed rows, flagging rewrites.
    *
    * The contract that makes this THE production shape: the stitched
    * output equals a FULL recompute bit-for-bit (oracle = full
    * recompute + touch flag) while the recompute work is proportional
    * to touched days. At 100 TB the landed aggregate is a stored table
    * (zero scan), the tiny touched-day set broadcasts into a
    * partition-PRUNED scan of the date-partitioned feed, and dynamic
    * partition overwrite rewrites exactly those partitions (the
    * mechanism the streaming MV in `streaming/Streaming.scala` already
    * uses); here the landed side derives in-query so the whole
    * contract stays oracle-checkable. The left-anti/left-semi joins
    * against the broadcast day set are the only join shapes — no
    * day-to-day shuffle anywhere. */
  def incrementalBackfill(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = Tables.events(spark, dir)
      .select(date_trunc("DAY", col("ts")).as("day"), col("event_id"),
        col("value"))
      .withColumn("late",
        pmod(col("event_id"), lit(37)) === 0 &&
          pmod(expr(s"unix_micros(day) div $dayUs"), lit(7)) === 3)
    val touched = ev.filter(col("late")).select(col("day")).distinct()
      .transform(graft.Dist.durableCkpt)
    val landed = ev.filter(!col("late"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
    val untouched = landed.join(broadcast(touched), Seq("day"), "left_anti")
      .withColumn("recomputed", lit(false))
    val recomputed = ev.join(broadcast(touched), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .withColumn("recomputed", lit(true))
    untouched.unionByName(recomputed)
      .select(col("day"), col("n_events"), col("total_value"), col("recomputed"))
      .orderBy(col("day"))
  }

  val incrementalBackfillSql: String =
    """WITH e AS (
      |  SELECT date_trunc('day', ts) AS day, event_id, value FROM events
      |), f AS (
      |  SELECT day, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
      |  FROM e GROUP BY 1
      |), t AS (
      |  SELECT DISTINCT day FROM e
      |  WHERE event_id % 37 = 0 AND (epoch_us(day) // 86400000000) % 7 = 3
      |)
      |SELECT f.day, n_events, total_value, (t.day IS NOT NULL) AS recomputed
      |FROM f LEFT JOIN t ON f.day = t.day
      |ORDER BY f.day""".stripMargin

  // ---------------------------------------- q164 theta-sketch rolling WAU

  /** q164: q161's 100 TB SCALE PATH — rolling 7-day active users from
    * mergeable Theta sketches instead of the exact (user, day) dedup.
    * The exact path's first aggregate keys on every distinct (user, day)
    * pair; at 100 TB that is the dominant shuffle. Here ONE corpus pass
    * builds a per-day `theta_sketch_agg` of user ids (O(2^lgK) state per
    * day, mergeable map-side), and every 7-day window is a
    * `theta_union_agg` over ≤ 7 sketch rows — the window algebra runs on
    * a |days|-row frame no matter the event volume, and persisted daily
    * sketches make tomorrow's report incremental (union yesterday's
    * sketches; never rescan).
    *
    * Oracle-less by design (q14/q82/q150 discipline: DuckDB has no Theta
    * sketches) — q161 IS the exact twin under the hash gate, and the
    * spec pins this estimate to q161's exact counts in the sub-2^lgK
    * regime the harness data occupies. */
  /** The LANDABLE unit of q164's incremental story: per-day Theta
    * sketches of the active-user set — ONE pass over an events frame,
    * O(2^lgK) state per day, mergeable map-side AND across landings.
    * The binary payload writes straight to parquet; a daily-ingest
    * deployment lands ONLY the new day's rows (sketched from that day's
    * partition-pruned events) and appends them — history is never
    * rescanned. ThetaPersistenceSpec proves landed-parquet ∪ fresh-day
    * sketches ≡ the full recompute. */
  def dailyThetaSketches(events: DataFrame): DataFrame =
    events
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(expr("theta_sketch_agg(user_id, 12)").as("sk"))

  /** Rolling 7-day WAU from a per-day sketch frame — landed rows, fresh
    * rows, or any union of the two. The leading per-day collapse
    * (`theta_union_agg` keyed on day) makes append-only landing safe: a
    * day split across landings (a mid-day incremental top-up) unions
    * back to the full-day sketch before the window algebra, and
    * HashPartitioning(day) from the sketch aggregate serves the collapse
    * without a second exchange. Everything downstream runs on the
    * |days|-row frame regardless of event volume. The collapsed frame
    * feeds TWO plan branches (window-explode + observed-days join), so
    * it is lineage-cut — without it the upstream sketch aggregate would
    * execute once per branch. */
  def thetaWauFromDaily(dailyRaw: DataFrame): DataFrame = {
    val daily = dailyRaw
      .groupBy(col("day"))
      .agg(expr("theta_union_agg(sk, 12)").as("sk"))
      .transform(graft.Dist.durableCkpt)
    val days = daily.select(col("day"))
    daily
      .select(col("day"), col("sk"),
        explode(sequence(lit(0), lit(6), lit(1))).as("k"))
      .select(expr("timestampadd(DAY, k, day)").as("win_day"), col("sk"))
      .groupBy(col("win_day"))
      .agg(expr("CAST(theta_sketch_estimate(theta_union_agg(sk, 12)) AS BIGINT)")
        .as("wau_est"))
      .join(days.withColumnRenamed("day", "win_day"), Seq("win_day"))
      .orderBy(col("win_day"))
  }

  def thetaRollingActiveUsers(spark: SparkSession, dir: String): DataFrame =
    thetaWauFromDaily(dailyThetaSketches(Tables.events(spark, dir)))

  // ------------------------------------------ q165 conversion survival

  /** q165: time-to-first-purchase survival curve — discrete Kaplan-Meier
    * over day offsets with no censoring (every user observed from their
    * first event): for each offset k, how many users converted exactly k
    * days after first touch, the cumulative converts, and the share
    * still unconverted in basis points. The payback-period curve beside
    * q146's revenue LTV and q113's return-visit cohorts.
    *
    * Shape: ONE user-keyed aggregate computes both first-touch and
    * first-purchase days (conditional min — no self-join of events to
    * events), the offset census is a second aggregate over ≤ |users|
    * rows, and the running sum's global window orders ≤ |days| census
    * rows — bounded at any corpus size. Cohort total attaches via the
    * broadcast one-row scalar frame (hygiene-whitelisted shape); all
    * ratios integer basis points. */
  def conversionSurvival(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("first_day"),
        min(when(col("event_type") === "purchase", date_trunc("day", col("ts"))))
          .as("first_purchase"))
    val n = per.agg(count(lit(1)).as("n_users"))
    val conv = per.filter(col("first_purchase").isNotNull)
      .select(datediff(col("first_purchase"), col("first_day")).cast("long")
        .as("offset_d"))
      .groupBy(col("offset_d")).agg(count(lit(1)).as("n_convert"))
    val w = Window.orderBy(col("offset_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    conv.crossJoin(broadcast(n))
      .withColumn("cum_convert", sum(col("n_convert")).over(w))
      .withColumn("surviving_bp", expr("10000 * (n_users - cum_convert) div n_users"))
      .select(col("offset_d"), col("n_convert").cast("long").as("n_convert"),
        col("cum_convert").cast("long").as("cum_convert"),
        col("n_users").cast("long").as("n_users"),
        col("surviving_bp").cast("long").as("surviving_bp"))
      .orderBy(col("offset_d"))
  }

  val conversionSurvivalSql: String =
    """WITH per AS (
      |  SELECT user_id, MIN(date_trunc('day', ts)) AS first_day,
      |    MIN(CASE WHEN event_type = 'purchase'
      |             THEN date_trunc('day', ts) END) AS first_purchase
      |  FROM events GROUP BY 1
      |), n AS (SELECT COUNT(*) AS n_users FROM per),
      |conv AS (
      |  SELECT date_diff('day', first_day, first_purchase) AS offset_d,
      |    COUNT(*) AS n_convert
      |  FROM per WHERE first_purchase IS NOT NULL GROUP BY 1
      |), c AS (
      |  SELECT offset_d, n_convert,
      |    SUM(n_convert) OVER (ORDER BY offset_d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_convert
      |  FROM conv
      |)
      |SELECT CAST(offset_d AS BIGINT) AS offset_d,
      |  CAST(n_convert AS BIGINT) AS n_convert,
      |  CAST(cum_convert AS BIGINT) AS cum_convert,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  CAST(10000 * (n_users - cum_convert) // n_users AS BIGINT) AS surviving_bp
      |FROM c CROSS JOIN n ORDER BY offset_d""".stripMargin

  // --------------------------------------------- q156 activity coverage

  /** q156: per-user coalesced activity coverage — classic gaps-and-islands.
    * Each event opens a 5-minute activity interval `[ts, ts+5m)`;
    * overlapping or touching intervals merge into islands, and the report
    * is each user's island count, total covered time, and longest
    * uninterrupted stretch. This is the "time actually spent" metric
    * engagement dashboards need, which q17's gap-sessionization does NOT
    * give (a session's `max(ts)−min(ts)` counts dead air between events;
    * coverage counts only instrumented activity), and q101's sweep
    * answers the transposed question (how many users at time t, not how
    * long user u was active).
    *
    * Island detection without a self-join: over the per-user event-time
    * order, an interval starts a new island iff its start exceeds the
    * running max of all previous interval ends — one `max(...)` window
    * frame ending at −1 row, then the standard running-sum island id.
    * Within an island coverage is contiguous BY CONSTRUCTION (each
    * member's start ≤ the running end-max when it joined), so per-island
    * covered time is just `max(end) − min(start)` — no sweep needed.
    * All arithmetic in exact epoch microseconds. Both windows share the
    * ONE (user_id) hash-partition exchange, and everything after the
    * per-island aggregate is a second aggregate over ≤ |islands| rows;
    * per-user ordering parallelizes across users at any scale. */
  def activityCoverage(spark: SparkSession, dir: String): DataFrame = {
    val spanUs = 5L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevEnds = byUser.rowsBetween(Window.unboundedPreceding, -1)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("s_us", unix_micros(col("ts")))
      .withColumn("e_us", col("s_us") + spanUs)
      .withColumn("prev_max_end", max(col("e_us")).over(prevEnds))
      .withColumn("new_isl",
        when(col("prev_max_end").isNull || col("s_us") > col("prev_max_end"), 1)
          .otherwise(0))
      .withColumn("isl_id", sum(col("new_isl")).over(running))
      .groupBy(col("user_id"), col("isl_id"))
      .agg(count(lit(1)).as("isl_events"),
        (max(col("e_us")) - min(col("s_us"))).as("isl_cov_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("isl_events")).cast("long").as("n_events"),
        sum(col("isl_cov_us")).cast("long").as("covered_us"),
        max(col("isl_cov_us")).cast("long").as("longest_us"))
      .orderBy(col("user_id"))
  }

  val activityCoverageSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + 300000000 AS e_us,
      |    MAX(epoch_us(ts) + 300000000) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
      |  FROM events
      |), isl AS (
      |  SELECT user_id, s_us, e_us,
      |    CAST(SUM(CASE WHEN prev_max_end IS NULL OR s_us > prev_max_end
      |                  THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl_id
      |  FROM iv
      |), per AS (
      |  SELECT user_id, isl_id, COUNT(*) AS isl_events,
      |    MAX(e_us) - MIN(s_us) AS isl_cov_us
      |  FROM isl GROUP BY 1, 2
      |)
      |SELECT user_id, COUNT(*) AS n_islands,
      |  CAST(SUM(isl_events) AS BIGINT) AS n_events,
      |  CAST(SUM(isl_cov_us) AS BIGINT) AS covered_us,
      |  CAST(MAX(isl_cov_us) AS BIGINT) AS longest_us
      |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q156_activity_coverage", activityCoverage, Some(activityCoverageSql)),
    QueryDef("q161_rolling_active_users", rollingActiveUsers,
      Some(rollingActiveUsersSql)),
    QueryDef("q164_theta_wau", thetaRollingActiveUsers, None),
    QueryDef("q167_session_depth", sessionDepthCensus, Some(sessionDepthCensusSql)),
    QueryDef("q168_burst_census", burstCensus, Some(burstCensusSql)),
    QueryDef("q170_burst_alerts", burstAlerts, Some(burstAlertsSql)),
    QueryDef("q172_incremental_backfill", incrementalBackfill,
      Some(incrementalBackfillSql)),
    QueryDef("q173_gap_spectrum", gapSpectrum, Some(gapSpectrumSql)),
    QueryDef("q165_conversion_survival", conversionSurvival,
      Some(conversionSurvivalSql)),
    QueryDef("q138_event_paths", eventPaths, Some(eventPathsSql)),
    QueryDef("q146_cohort_ltv", cohortLtv, Some(cohortLtvSql)),
    QueryDef("q153_cusum_drift", cusumDrift, Some(cusumDriftSql)),
    QueryDef("q92_gap_fill", gapFillRevenue, Some(gapFillRevenueSql)),
    QueryDef("q15_events_tumbling", tumbling, Some(tumblingSql)),
    QueryDef("q16_events_sliding", sliding, Some(slidingSql)),
    QueryDef("q17_events_sessionize", sessionize, Some(sessionizeSql)),
    QueryDef("q18_events_daily_funnel", dailyFunnel, Some(dailyFunnelSql)),
    QueryDef("q78_ordered_funnel", orderedFunnel, Some(orderedFunnelSql)),
    QueryDef("q19_session_window", sessionWindow, Some(sessionWindowSql)),
    QueryDef("q36_asof_join", asofJoin, Some(asofJoinSql)),
    QueryDef("q84_asof_forward", asofForward, Some(asofForwardSql)),
    QueryDef("q64_attribution_join", attributionJoin, Some(attributionJoinSql)),
    QueryDef("q79_linear_attribution", linearAttribution, Some(linearAttributionSql)),
    QueryDef("q160_position_attribution", positionAttribution,
      Some(positionAttributionSql)),
    QueryDef("q65_range_join", rangeJoinBinned, Some(rangeJoinBinnedSql)),
    QueryDef("q100_transition_matrix", transitionMatrix, Some(transitionMatrixSql)),
    QueryDef("q101_concurrency_sweep", concurrencySweep, Some(concurrencySweepSql)),
    QueryDef("q102_props_json_stats", propsJsonStats, Some(propsJsonStatsSql)),
    QueryDef("q107_debounce_census", debounceCensus, Some(debounceCensusSql)),
    QueryDef("q108_conversion_latency", conversionLatency, Some(conversionLatencySql)),
    QueryDef("q111_anomaly_days", anomalyDays, Some(anomalyDaysSql)),
    QueryDef("q113_retention_cohorts", retentionCohorts, Some(retentionCohortsSql))
  )
}
