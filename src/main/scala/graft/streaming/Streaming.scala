package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Exact._

/** Structured Streaming variants of the event analytics (SURVEY.md §2.12).
  *
  * Each transform takes a (possibly streaming) events DataFrame with schema
  * `(event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,
  * value DOUBLE)` and returns the same logical aggregation the batch module
  * (graft.relational.Events) computes — the StreamingSpec proves
  * batch/stream agreement on identical input.
  *
  * Scale notes: watermarks bound state (late rows beyond the watermark are
  * dropped, state for closed windows is evicted); aggregations shuffle on
  * (window, key) exactly like their batch twins; `flatMapGroupsWithState`
  * keeps per-user state in the state store — at 100 TB/day the state store
  * must be RocksDB-backed and keyed state TTL'd, which the timeout
  * configuration below already encodes.
  */
object Streaming {

  /** Stream-stream interval join (attribution): purchases matched to the
    * same user's clicks within the preceding `windowMinutes` — streaming
    * twin of `relational.Events.attributionJoin` (q64; the spec proves
    * agreement on identical input).
    *
    * Both sides carry a watermark and the join condition carries the time
    * range — together they let Spark BOUND the join state: buffered clicks
    * are evicted once the purchase-side watermark passes
    * `click_ts + windowMinutes`, and buffered purchases once the click
    * side passes `purchase_ts`. Without the range the state store would
    * grow forever; with it, state is O(events per watermark horizon).
    * Inner joins emit on match (Append mode); both inputs shuffle on
    * user_id exactly like the batch SMJ. */
  def attributionJoin(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val (clicks, purchases, within) = attributionSides(events, windowMinutes)
    purchases.join(clicks, within)
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"), col("value"))
  }

  /** Stream-stream LEFT OUTER interval join: every click emits — matched
    * clicks as soon as their purchase arrives, UNMATCHED clicks with null
    * purchase columns once the watermark proves no match can still come
    * (watermark past `click_ts + windowMinutes`). This is the
    * "did-not-convert" feed an inner join structurally cannot produce in
    * streaming: absence is only knowable when event time has provably
    * moved past the click's match window, which is exactly what the
    * watermark + time-range condition encode. State bounds are the inner
    * join's; the null row emission is deferred, not stored longer. */
  def attributionJoinOuter(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val (clicks, purchases, within) = attributionSides(events, windowMinutes)
    clicks.join(purchases, within, "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("value"))
  }

  /** The two attribution joins' watermarked click and purchase sides and
    * their interval condition: same user, purchase within `windowMinutes`
    * at-or-after the click. */
  private def attributionSides(events: DataFrame, windowMinutes: Int)
  : (DataFrame, DataFrame, Column) = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    (clicks, purchases,
      col("user_id") === col("c_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
  }

  /** File-source stream over a directory of event parquet (each new file is
    * a micro-batch — the standard landing-zone pattern). The declared
    * schema is the RAW footer schema of the files present — declaring the
    * normalized one against an NTZ-encoded landing zone is a parquet
    * reader type mismatch — and the ts-encoding normalization
    * ([[graft.Tables.normalizeEventTs]], same branch the batch loader
    * uses) is applied on the streaming frame, so event-time semantics
    * survive a re-encoded feed exactly like batch did in round 6. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    graft.Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(dir))
  }

  /** Tumbling 10-minute counts per event type with a 1-hour watermark.
    * Streaming twin of Events.tumbling. */
  def tumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based sessions via the native session_window operator (streaming
    * twin of Events.sessionize / q19). */
  def sessions(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n_events"), col("total_value"))

  /** One event as the keyed-state operators read it ([[eventRows]]). */
  final case class EventRow(event_id: Long, ts: java.sql.Timestamp,
                            user_id: Long, event_type: String, value: Double) {
    /** `ts` in epoch MICROseconds: event timestamps carry micros, which
      * `Timestamp.getTime` alone would drop. */
    def us: Long = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
  }
  final case class UserState(n_events: Long, total_value: Double, last_seen: Long)
  final case class UserSnapshot(user_id: Long, n_events: Long,
                                total_value: Double, last_seen: java.sql.Timestamp)

  /** The typed event view every keyed-state operator reads. */
  private def eventRows(events: DataFrame): Dataset[EventRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventRow]
  }

  /** Per-user running totals as explicit keyed state —
    * mapGroupsWithState without a timeout, the custom-state escape hatch
    * for logic windows can't express. */
  def runningUserState(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    eventRows(events)
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSnapshot](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
          var n = prev.n_events; var tot = prev.total_value; var last = prev.last_seen
          rows.foreach { e =>
            n += 1; tot += e.value
            if (e.ts.getTime > last) last = e.ts.getTime
          }
          val next = UserState(n, tot, last)
          state.update(next)
          UserSnapshot(uid, n, tot, new java.sql.Timestamp(last))
      }.toDF()
  }

  /** Per-user open-session accumulator for [[sessionCloseEvents]]. */
  final case class SessionAgg(start: Long, lastTs: Long, n: Long, total: Double)
  /** All of one user's still-open sessions, any of which a late (but
    * above-watermark) event may yet extend or bridge. */
  final case class OpenSessions(sessions: List[SessionAgg])
  final case class ClosedSession(user_id: Long, sess_start: java.sql.Timestamp,
                                 sess_end: java.sql.Timestamp, n_events: Long,
                                 total_value: Double)

  /** Session-CLOSE event emission via flatMapGroupsWithState + event-time
    * timeout: per-user state buffers every open session; a session is
    * emitted exactly when the event-time watermark passes its gap horizon
    * (last event + gap) — the point after which no admissible event can
    * extend it. This is the custom-emission pattern `session_window`
    * cannot express (emit-on-close alerts, enriched session summaries
    * into a downstream topic); `sess_end = last_ts + gap` matches
    * session_window's end semantics so outputs are comparable.
    *
    * State holds a LIST of open sessions, not just the newest: a late
    * event disjoint-before the newest session starts its own session,
    * which must stay open until the watermark passes it — a second late
    * event within one gap of it must MERGE, exactly as session_window
    * merges them (emitting the first immediately would split the pair
    * into two 1-event sessions). An arriving event is merged with EVERY
    * session whose envelope [start - gap, last + gap] it touches — one
    * event can bridge two open sessions into one.
    *
    * State: one OpenSessions per active user. The watermark bounds the
    * list: a session expires (and is emitted) as soon as the watermark
    * passes its horizon, so a user holds at most the sessions inside one
    * watermark delay — state is bounded by (active users × sessions per
    * delay window), not history. At scale: RocksDB state store; the
    * timeout timestamp is the MIN open horizon, so emission needs no
    * per-trigger full-state scan. */
  def sessionCloseEvents(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // state arithmetic runs in epoch MICROseconds (EventRow.us), or
    // sess_end would diverge from session_window
    val gapUs = gapMinutes * 60000000L
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    def close(uid: Long, s: SessionAgg): ClosedSession =
      ClosedSession(uid, toTs(s.start), toTs(s.lastTs + gapUs), s.n, s.total)
    // Emit every session the watermark has passed; keep the rest open and
    // arm the timeout at the earliest remaining horizon (ms-granular API:
    // round UP so the timeout never fires before the horizon).
    def flush(uid: Long, open: List[SessionAgg],
              state: GroupState[OpenSessions]): Iterator[ClosedSession] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000
      // Expiry at EQUALITY (<=) is safe even though session_window merges
      // an event landing exactly on the gap horizon (12:00 + 12:30 at a
      // 30-min gap form ONE session — the merge test above is inclusive
      // for this reason): Spark's late-row filter drops input with
      // ts <= current watermark before it reaches this operator (verified
      // empirically — a ts == watermark event never arrives), so once
      // wm == horizon every event that can still arrive has ts > horizon
      // and would fail the inclusive merge test anyway. Emitting at
      // equality just closes the session one batch earlier than the
      // (ms-rounded-up, strictly-fired) timeout would.
      val (expired, live) = open.partition(s => s.lastTs + gapUs <= wmUs)
      if (live.isEmpty) state.remove()
      else {
        state.update(OpenSessions(live))
        state.setTimeoutTimestamp((live.map(_.lastTs).min + gapUs + 999) / 1000)
      }
      expired.sortBy(_.start).iterator.map(close(uid, _))
    }
    eventRows(events.withWatermark("ts", "1 hour"))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[OpenSessions]) =>
          if (state.hasTimedOut) {
            flush(uid, state.get.sessions, state)
          } else {
            var open = state.getOption.map(_.sessions).getOrElse(Nil)
            for (e <- rows) {
              val t = e.us
              // merge with every session whose envelope the event touches
              // (0, 1, or 2 of them — 2 when the event bridges a pair);
              // arrival order within the batch is irrelevant to the result
              val (touching, rest) =
                open.partition(s => t >= s.start - gapUs && t <= s.lastTs + gapUs)
              val merged = touching.foldLeft(SessionAgg(t, t, 1L, e.value)) {
                (a, s) => SessionAgg(math.min(a.start, s.start),
                  math.max(a.lastTs, s.lastTs), a.n + s.n, a.total + s.total)
              }
              open = merged :: rest
            }
            flush(uid, open, state)
          }
      }.toDF()
  }

  /** Stream-static enrichment join: each incoming event picks up its
    * user's historical profile (a static aggregate recomputed per
    * micro-batch plan, broadcast when small). The static side needs no
    * watermark or state — this is the standard dimension-enrichment shape
    * at ingestion; for a mutable dimension at scale swap the static
    * DataFrame for a Delta/compacted table the planner re-reads. */
  def enrichWithUserProfile(events: DataFrame, profile: DataFrame): DataFrame =
    events.join(
      profile.select(col("user_id"), col("n_events").as("hist_events"),
        col("total_value").as("hist_value")),
      Seq("user_id"), "left")

  /** Data-quality OBSERVABILITY on a stream without a second scan:
    * `Dataset.observe` attaches named aggregate metrics (row count,
    * empty-text count, byte volume) that ride the normal micro-batch
    * execution — no extra pass, no extra state — and surface per batch
    * in `StreamingQueryProgress.observedMetrics("ingest_quality")`. The
    * production pattern for ingest monitoring: alerting reads the
    * progress feed, the pipeline itself is untouched. Works identically
    * on batch frames (metrics via QueryExecutionListener). */
  def observeIngestQuality(docs: DataFrame): DataFrame =
    docs.observe("ingest_quality",
      count(lit(1)).as("n_rows"),
      count(when(col("text").isNull || length(col("text")) === 0, 1)).as("n_empty"),
      coalesce(sum(length(col("text"))).cast("long"), lit(0L)).as("n_chars"))

  /** Streaming exact dedup: first event per event_id wins, duplicates
    * arriving within the watermark horizon are dropped. State holds one
    * entry per key inside the horizon and is evicted as the watermark
    * advances — the streaming twin of TextOps.dedupFirstOccurrence and the
    * ingestion-side dedup stage of a training-data pipeline (dedup at the
    * door is far cheaper than dedup at rest). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming ingest dedup — the streaming twin of q68's incremental
    * dedup: a document stream is deduplicated (a) WITHIN itself by
    * content hash under a watermark (state holds one hash per horizon,
    * evicted as the watermark advances) and (b) AGAINST the static
    * already-clean corpus by a stream-static LEFT ANTI join on the hash
    * (stateless: each micro-batch probes the static side, which the
    * planner broadcasts when small — at 100 TB swap the static frame for
    * a compacted/bucketed table, or pre-filter it with q69's Bloom
    * pattern). Expects `(doc_id, ts, text)`; emits surviving rows only. */
  def ingestDedup(docs: DataFrame, corpus: DataFrame): DataFrame =
    docs.withColumn("h", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .join(corpus.select(md5(col("text")).as("h")), Seq("h"), "left_anti")
      .drop("h")

  /** One discovered link on the crawl stream. */
  final case class UrlIngestRow(url: String, ts: java.sql.Timestamp)

  private val canonUdf = udf { (u: String) => graft.web.Url.canonicalize(u) }

  /** Streaming crawl-frontier gate — the FOURTH door of the ingest tier
    * (beside exact-hash [[ingestDedup]], near-dup
    * [[nearDupIngestStream]], containment [[containmentIngestStream]]),
    * and the cheapest: it fires BEFORE any fetch, on URL identity
    * alone. Discovered links canonicalize (`graft.web.Url`, the
    * q208/q212 contract) and pass only if
    *  (a) no equivalent spelling arrived within the watermark horizon —
    *      `dropDuplicatesWithinWatermark` on the canonical, one state
    *      row per canonical per horizon, evicted as the watermark
    *      advances (the frontier's recent-memory window); and
    *  (b) the canonical is not already in the LANDED frontier — a
    *      stream-static LEFT ANTI join, stateless per micro-batch (at
    *      100 TB the landed frontier is a bucketed catalog table or a
    *      q69-style Bloom prefilter, same plan shape).
    * Unparseable URLs drop at the door (the canonicalizer's null
    * quarantine contract). Emits surviving (url, ts, canon) — the
    * first-arriving spelling wins, exactly the keeper rule q212's batch
    * frontier applies. No join state exists anywhere in the job. */
  def frontierIngestStream(urls: DataFrame, frontier: DataFrame): DataFrame =
    urls.withColumn("canon", canonUdf(col("url")))
      .filter(col("canon").isNotNull)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("canon")
      .join(frontier.select(canonUdf(col("url")).as("canon")),
        Seq("canon"), "left_anti")
      .select(col("url"), col("ts"), col("canon"))

  /** One polled feed document on the discovery stream. */
  final case class FeedIngestRow(feed_xml: String, ts: java.sql.Timestamp)

  private val feedLinksUdf = udf { (xml: String) =>
    graft.web.Feed.parse(xml)._2.map(_.link).toArray
  }

  /** Streaming feed-poll door — the q226 discovery channel as a stream:
    * polled RSS/Atom payloads parse per row ([[graft.web.Feed.parse]],
    * total — junk feeds yield zero links and vanish), each item link
    * EXPLODES onto the URL stream, and the whole [[frontierIngestStream]]
    * gate applies downstream (canonical spelling-dedup within the
    * watermark, stream-static anti-join against the landed frontier).
    * The parse+explode stage is STATELESS — the only state is the
    * frontier gate's per-canonical dedup row — so the door inherits the
    * frontier gate's no-join-state and exactly-once-after-restart
    * properties verbatim. */
  def feedIngestStream(feeds: DataFrame, frontier: DataFrame): DataFrame =
    frontierIngestStream(
      feeds.select(explode(feedLinksUdf(col("feed_xml"))).as("url"), col("ts")),
      frontier)

  /** Per-user state for [[burstAlerts]]: event counts for the open
    * (non-final) 5-minute buckets plus the last finalized bucket index
    * already swept for alerts. */
  final case class BurstBuf(counts: Map[Long, Long], emittedUpTo: Long)
  /** One rate-limit exceedance: `hr_events` events in the 12-bucket
    * trailing hour ending at bucket `bkt`. */
  final case class BurstAlert(user_id: Long, bkt: Long, hr_events: Long)

  /** Streaming twin of q170's rate-limit exceedance feed: emit
    * (user, 5-minute bucket) exactly once when the trailing-hour count
    * crosses the threshold, as soon as the watermark proves the bucket's
    * count can no longer change.
    *
    * Finality: bucket b covers [b·U, (b+1)·U); it is final once the
    * watermark reaches (b+1)·U, because the stateful late-row filter
    * drops ts <= watermark — every admissible event lands in a LATER
    * bucket. Alerts are only swept over final buckets past
    * `emittedUpTo`, in order, so each fires at most once and carries the
    * complete trailing-hour sum (all 11 predecessors of a final bucket
    * are final too, and are retained until no future bucket's window can
    * reference them). Out-of-order arrival within the watermark is
    * absorbed by the per-bucket counts — addition is order-free, so the
    * emitted set equals the batch q170 answer under ANY trigger slicing.
    *
    * Bounded state: final buckets older than (last final − 11) are
    * evicted; with delay D and bucket U the map holds ≈ D/U + 12
    * entries per user. The event-time timeout re-fires an idle user when
    * its newest bucket finalizes, so alerts flush without new data. */
  def burstAlerts(events: DataFrame, threshold: Long = 3L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val U = graft.relational.Events.BurstBucketUs
    eventRows(events.withWatermark("ts", "1 hour"))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BurstBuf, BurstAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[BurstBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val finalMax = wmUs / U - 1 // (finalMax+1)*U <= wmUs for wmUs>=U
          val s0 = state.getOption.getOrElse(BurstBuf(Map.empty, -1L))
          var counts = s0.counts
          rows.foreach { e =>
            val b = e.us / U
            counts = counts.updated(b, counts.getOrElse(b, 0L) + 1)
          }
          val sweep = counts.keys.filter(b => b <= finalMax && b > s0.emittedUpTo)
            .toSeq.sorted
          val out = sweep.flatMap { b =>
            val hr = (b - 11 to b).flatMap(counts.get).sum
            if (hr >= threshold) Some(BurstAlert(uid, b, hr)) else None
          }
          val upTo = math.max(s0.emittedUpTo, finalMax)
          val kept = counts.filter { case (b, _) => b >= finalMax - 10 }
          if (kept.isEmpty) state.remove()
          else {
            state.update(BurstBuf(kept, upTo))
            // fire again as soon as the OLDEST open bucket finalizes
            // (strictly past its end — necessarily > the current
            // watermark); each firing re-arms on the new oldest open
            // bucket, so every open bucket's alert flushes the moment the
            // watermark finalizes IT — arming on open.max would delay an
            // idle user's older alerts until the newest bucket finalized.
            // If every kept bucket is already final they exist only as
            // lookback for future data-triggered invocations: nothing
            // more can emit until new data, so no timeout is set.
            val open = kept.keys.filter(_ > finalMax)
            if (open.nonEmpty)
              state.setTimeoutTimestamp((open.min + 1) * U / 1000L + 1)
          }
          out.iterator
      }.toDF()
  }

  /** Per-shard Misra-Gries summary for [[trendingItems]]: at most k
    * counters plus the shard's processed-item count and an emission
    * sequence number. */
  final case class MGShardState(counters: Map[String, Long], n: Long, seq: Long)
  /** One summary row: `est` is the Misra-Gries lower-bound estimate for
    * `item` among the `shard_n` items routed to `shard` so far. */
  final case class TrendingRow(shard: Int, item: String, est: Long,
                               shard_n: Long, seq: Long)

  /** Streaming heavy hitters (trending items) in bounded memory: a
    * Misra-Gries summary per item-hash shard, maintained in
    * `mapGroupsWithState` and re-emitted as a snapshot every trigger
    * (Update mode — the feed a "trending now" panel polls).
    *
    * Sharding by `hash(item) % nShards` sends EVERY occurrence of an
    * item to one shard, so each shard's summary carries the classic MG
    * guarantee over its own substream: for every tracked item,
    * `true − ⌊n/(k+1)⌋ ≤ est ≤ true`, and any item with true count
    * > n/(k+1) is guaranteed tracked. Total state is nShards·k counters
    * — O(1) in the stream length, vs the unbounded keyed state of a
    * plain streaming `groupBy(item).count`. At 100 TB/day this is the
    * only viable exact-bound shape: shards scale horizontally (each is
    * an independent state-store key) and summaries merge by the same
    * decrement rule for a global top-k. The batch twin is q71's
    * `misra_gries` TypedImperativeAggregate; StreamingSpec asserts the
    * MG bound theorems against exact counts — deterministic regardless
    * of trigger slicing — and exact equality when k covers the domain. */
  def trendingItems(items: DataFrame, k: Int = 8, nShards: Int = 4): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    items.select(col("item").cast("string")).as[String]
      .groupByKey(it => math.floorMod(it.hashCode, nShards))
      .flatMapGroupsWithState[MGShardState, TrendingRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String], state: GroupState[MGShardState]) =>
          val s0 = state.getOption.getOrElse(MGShardState(Map.empty, 0L, 0L))
          var m = s0.counters
          var n = s0.n
          rows.foreach { it =>
            n += 1
            m.get(it) match {
              case Some(c) => m = m.updated(it, c + 1)
              case None if m.size < k => m = m.updated(it, 1L)
              case None => // summary full: decrement all, evict zeros
                m = m.flatMap { case (i, c) =>
                  if (c > 1) Some(i -> (c - 1)) else None
                }
            }
          }
          val seq = s0.seq + 1
          state.update(MGShardState(m, n, seq))
          m.iterator.map { case (i, c) => TrendingRow(shard, i, c, n, seq) }
      }.toDF()
  }

  /** Per-user buffer for [[activityIslands]]: every event start (us,
    * event_id) belonging to a still-OPEN island. */
  final case class IslandBuf(starts: List[(Long, Long)])
  /** One emitted coalesced-activity island (q156's unit of account). */
  final case class Island(user_id: Long, start_us: Long, end_us: Long,
                          n_events: Long)

  /** Streaming twin of q156's gaps-and-islands activity coverage: emit
    * each user's coalesced 5-minute activity island exactly once, as
    * soon as it can no longer change.
    *
    * Finality: an island is immutable once the watermark reaches its
    * end — Spark's stateful late-row filter drops input with
    * ts <= watermark (equality included), so any event still admissible
    * has ts > wm >= island end and, by the merge rule (an interval joins
    * an island iff its start <= the island's end), must OPEN A NEW
    * island, never extend a closed one. Re-emission is impossible by
    * construction: an emitted island's events leave the buffer with it,
    * and a later event cannot rebuild an island ending at or before the
    * watermark.
    *
    * Bounded state: the buffer holds only events of OPEN islands (end >
    * watermark), so with delay D and span W it is at most ~⌈D/W⌉ + 1
    * islands' worth of starts per user — O(1) in the corpus size. The
    * event-time timeout re-fires an idle user when the watermark passes
    * its first open island's end, so islands emit without waiting for
    * new data from that user. Out-of-order arrival within the watermark
    * is absorbed by re-deriving islands from the sorted buffer each
    * trigger — the same (us, event_id) total order the batch query
    * windows on. */
  def activityIslands(events: DataFrame, spanMinutes: Int = 5): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val spanUs = spanMinutes * 60L * 1000000L
    eventRows(events.withWatermark("ts", "1 hour"))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IslandBuf, Island](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[IslandBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val incoming = rows.map(e => (e.us, e.event_id)).toList
          val all = (state.getOption.map(_.starts).getOrElse(Nil) ++ incoming)
            .sortBy(identity)
          // rebuild islands from the sorted starts (merge on touch:
          // s <= current end extends; otherwise a new island opens)
          val islands = all.foldLeft(List.empty[(Long, Long, Long)]) {
            case ((s0, e0, n0) :: rest, (s, _)) if s <= e0 =>
              (s0, math.max(e0, s + spanUs), n0 + 1) :: rest
            case (acc, (s, _)) => (s, s + spanUs, 1L) :: acc
          }.reverse
          val (closed, open) = islands.partition(_._2 <= wmUs)
          val out = closed.map { case (s, e, n) => Island(uid, s, e, n) }
          val firstOpen = open.headOption.map(_._1)
          val keep = firstOpen.map(fo => all.filter(_._1 >= fo)).getOrElse(Nil)
          if (keep.isEmpty) state.remove()
          else {
            state.update(IslandBuf(keep))
            state.setTimeoutTimestamp(open.head._2 / 1000 + 1)
          }
          out.iterator
      }.toDF()
  }

  /** One buffered event in [[pathTriples]]' per-user state. */
  final case class PathEvent(us: Long, event_id: Long, event_type: String)
  /** Per-user buffer: the ≤ 2 most recent FINALIZED events plus every
    * event still above the watermark. */
  final case class PathBuf(events: List[PathEvent])
  final case class PathTriple(user_id: Long, a_event_id: Long,
                              e1: String, e2: String, e3: String)

  /** Streaming 3-step path mining — the streaming twin of q138: emit one
    * row per run of three consecutive same-user events with both
    * inter-event gaps ≤ `gapMinutes`. The sequence-feature pattern that
    * proves ARBITRARY order-sensitive features can stream with bounded
    * state: no `lead` window exists in streaming, and a stream-stream
    * 3-way self-join would hold unbounded state on hot users.
    *
    * Finality argument (exactly the sessionCloseEvents discipline): an
    * arriving event can only change triples whose SPAN it lands inside,
    * so a consecutive triple (a, b, c) is immutable once the event-time
    * watermark passes c — no admissible event can still land in
    * (a, c). Each invocation therefore emits every consecutive triple
    * whose THIRD element is at-or-below the watermark, then retains only
    * the last two finalized events (they may head a future triple) plus
    * the still-pending suffix — per-user state is O(events per watermark
    * horizon + 2), never history. An emitted triple's first element
    * leaves the buffer immediately, so re-emission is impossible by
    * construction. The event-time timeout re-fires idle users when the
    * watermark passes their pending events; out-of-order arrival within
    * the horizon is absorbed by sorting the buffer on the same total
    * order (ts, event_id) the batch window uses. */
  def pathTriples(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    eventRows(events.withWatermark("ts", "1 hour"))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PathBuf, PathTriple](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[PathBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val incoming = rows.map(e => PathEvent(e.us, e.event_id, e.event_type)).toList
          val all = (state.getOption.map(_.events).getOrElse(Nil) ++ incoming)
            .sortBy(e => (e.us, e.event_id))
          val out = all.sliding(3).filter(_.lengthCompare(3) == 0).collect {
            case Seq(a, b, c)
              if c.us <= wmUs && b.us - a.us <= gapUs && c.us - b.us <= gapUs =>
              PathTriple(uid, a.event_id, a.event_type, b.event_type, c.event_type)
          }.toList
          val (fin, pending) = all.partition(_.us <= wmUs)
          val keep = fin.takeRight(2) ++ pending
          if (keep.isEmpty) state.remove()
          else {
            state.update(PathBuf(keep))
            // re-fire when the watermark passes the oldest pending event,
            // so its triples emit without waiting for new user data
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(pending.head.us / 1000 + 1)
          }
          out.iterator
      }.toDF()
  }

  /** Incremental MATERIALIZED-VIEW maintenance via foreachBatch: per-user
    * lifetime totals kept in a hash-partitioned parquet table, updated by
    * merging each micro-batch's delta into ONLY the partitions it touches
    * (dynamic partition overwrite — untouched partition directories are
    * not rewritten, spec-asserted by file mtimes). This is the
    * pre-lakehouse upsert pattern every streaming pipeline needs the
    * moment its output must be a queryable TABLE rather than an append
    * log; on Delta/Iceberg the merge step becomes MERGE INTO and the
    * rest is identical.
    *
    * Scale: the state table is partitioned by `pmod(user_id, nParts)`;
    * a batch touching k users rewrites ≤ min(k, nParts) partitions. The
    * delta aggregate is decimal-exact ([[graft.Exact.sumMoney]]-style
    * operands), so incremental maintenance equals a full batch recompute
    * bit-for-bit — the spec's invariant. The tiny affected-partition
    * list is collected driver-side (bounded by nParts). */
  def maintainUserTotals(events: DataFrame, statePath: String,
                         checkpoint: String, nParts: Int = 8)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.DataFrame
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val delta = batch
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(14,4)")).as("total_dec"))
          .withColumn("pid", pmod(col("user_id"), lit(nParts)).cast("int"))
        val affected = delta.select("pid").distinct()
          .collect().map(_.getInt(0)).toSeq
        if (affected.nonEmpty) {
          val root = new org.apache.hadoop.fs.Path(statePath)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val existing =
            if (fs.exists(root))
              spark.read.parquet(statePath)
                .filter(col("pid").isin(affected: _*))
            else spark.emptyDataFrame
              .select(lit(0L).as("user_id"), lit(0L).as("n_events"),
                lit(null).cast("decimal(14,4)").as("total_dec"),
                lit(0).as("pid")).limit(0)
          val merged = existing.unionByName(delta)
            .groupBy(col("user_id"), col("pid"))
            .agg(sum(col("n_events")).as("n_events"),
              sum(col("total_dec")).cast("decimal(14,4)").as("total_dec"))
          swapMergedPartitions(statePath, batchId, affected, merged)
        }
      }
      .start()
  }

  /** STAGING write, then partition-directory swap: the merged plan
    * reads the live state files, so it must never write over them
    * — not even "after" an eager localCheckpoint, whose blocks
    * live on executors only: losing one mid-write would recompute
    * from lineage against a partially-overwritten path. Writing
    * the merge to a separate staging path makes the read side
    * immutable for the whole job (a failed/retried task recomputes
    * against intact live files); only once the data is durably on
    * the FS do the affected partition dirs swap in via renames. */
  private def swapMergedPartitions(statePath: String, batchId: Long,
                                   affected: Seq[Int], merged: DataFrame): Unit = {
    val spark = merged.sparkSession
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(statePath + s".staging-$batchId")
    if (fs.exists(staging)) fs.delete(staging, true)
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pid").parquet(staging.toString)
    fs.mkdirs(root)
    affected.foreach { pid =>
      val src = new org.apache.hadoop.fs.Path(staging, s"pid=$pid")
      val dst = new org.apache.hadoop.fs.Path(root, s"pid=$pid")
      if (fs.exists(dst)) fs.delete(dst, true)
      fs.rename(src, dst)
    }
    fs.delete(staging, true)
  }

  /** Streaming CDC APPLY — the streaming twin of the governance tier's
    * batch pair (q128 applies a shipped Δ, q181 recovers one): a change
    * FEED of inserts/updates/deletes
    * `(seq LONG, op STRING in {I,U,D}, doc_id LONG, lang, source,
    * n_chars)` continuously upserted into the landed hash-partitioned
    * snapshot table via foreachBatch. This completes
    * measure → recover → apply under streaming: the snapshot stays a
    * queryable parquet table while the feed runs.
    *
    * Semantics: within a micro-batch the LAST change per doc_id by `seq`
    * wins (CDC feeds are ordered; a reduce to net effect first makes the
    * merge one pass); `I` and `U` both upsert, `D` deletes. The merge is
    * IDEMPOTENT — re-applying a batch to an already-merged snapshot is a
    * no-op (upserts overwrite with identical rows, deletes miss) — which
    * is exactly what makes foreachBatch's at-least-once redelivery after
    * a crash EXACTLY-ONCE on the table (the restart spec proves it).
    *
    * Scale (the [[maintainUserTotals]] idiom): the snapshot is
    * partitioned by `pmod(doc_id, nParts)`; a batch touching k docs
    * reads and rewrites ≤ min(k, nParts) partitions through a broadcast
    * anti-join — the untouched snapshot is never scanned. The staged
    * write + rename swap keeps the read side immutable for the whole
    * job. On Delta/Iceberg the merge step becomes MERGE INTO. */
  def applyCdcStream(changes: DataFrame, snapshotPath: String,
                     checkpoint: String, nParts: Int = 8)
  : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, snapshotPath, batchId, nParts)
      }
      .start()

  /** One idempotent net-effect merge of a change micro-batch (also the
    * batch-side entry the stream≡batch spec replays). */
  def applyCdcBatch(batch: DataFrame, snapshotPath: String, batchId: Long,
                    nParts: Int): Unit = {
    val spark = batch.sparkSession
    // net op per doc: the LAST change by seq wins
    val net = batch
      .groupBy(col("doc_id"))
      .agg(max(struct(col("seq"), col("op"), col("lang"), col("source"),
        col("n_chars"))).as("m"))
      .select(col("doc_id"), col("m.op").as("op"), col("m.lang").as("lang"),
        col("m.source").as("source"), col("m.n_chars").as("n_chars"))
      .withColumn("pid", pmod(col("doc_id"), lit(nParts)).cast("int"))
      .transform(graft.Dist.durableCkpt) // feeds pid census, anti-join, upserts
    val affected = net.select("pid").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nParts
    if (affected.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(snapshotPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing =
        if (fs.exists(root))
          spark.read.parquet(snapshotPath)
            .filter(col("pid").isin(affected: _*))
        else
          spark.emptyDataFrame
            .select(lit(0L).as("doc_id"), lit("").as("lang"),
              lit("").as("source"), lit(0L).as("n_chars"),
              lit(0).as("pid")).limit(0)
      val merged = existing
        .join(broadcast(net.select(col("doc_id"))), Seq("doc_id"), "left_anti")
        .unionByName(net.filter(col("op") =!= "D")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            col("pid")))
      swapMergedPartitions(snapshotPath, batchId, affected, merged)
    }
  }

  /** Drive a streaming DataFrame to a named in-memory table and block until
    * the input is drained — used by tests and local inspection. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { q.processAllAvailable() } finally q.stop()
  }

  // ---------------------------------- streaming contamination screen

  /** One document arriving on the ingest stream. */
  final case class DocIngestRow(doc_id: Long, ts: java.sql.Timestamp,
    source: String, text: String)

  /** Streaming twin of q190's benchmark-contamination screen: documents
    * are screened AT INGEST against the static eval-benchmark gram set,
    * and each contaminated doc is emitted EXACTLY ONCE with its matched
    * 8-gram occurrence count — so decontamination happens before a doc
    * ever lands in the training corpus, instead of as a batch sweep
    * after the fact.
    *
    * Dataflow: gram expansion is ROW-LOCAL (q190's shared
    * [[graft.text.CorpusStats.ContamGramArraySql]] kernel — the stream
    * and the batch screen flag the IDENTICAL gram space); the
    * benchmark-sized static gram set broadcasts into a stateless
    * stream-static left-semi join that prunes each micro-batch to
    * matched occurrences only; the per-doc count is a watermark-bounded
    * windowed aggregation (each doc has ONE event time, so its (window,
    * doc) group finalizes exactly once when the watermark passes the
    * window — append mode emits it once, under any trigger slicing).
    *
    * State is bounded by construction: only contaminated docs' groups
    * exist (the semi-join drops clean docs before the aggregation), and
    * each group evicts at watermark + 1 hour. Expects `(doc_id, ts,
    * source, text)`; `evalGrams` is the landed
    * [[graft.text.CorpusStats.evalGramSet]] frame (benchmarks change
    * rarely — rebuild it batch-side when they do). */
  def contaminationStream(docs: DataFrame, evalGrams: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"), col("source"),
        graft.text.TextOps.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("ts"), col("source"),
        explode(expr(graft.text.CorpusStats.ContamGramArraySql)).as("g"))
      .join(broadcast(evalGrams.select(col("g"))), Seq("g"), "left_semi")
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_hits"))
      .select(col("doc_id"), col("source"), col("n_hits"))

  // ------------------- landed corpus-side catalog for the ingest doors

  /** Names of the LANDED corpus-side tables the streaming ingest doors
    * probe: canonical URLs, content digests, hashed word-shingle sets,
    * LSH band postings, trigram-gram arrays, and the exploded gram
    * postings. One handle, so a door cannot mix tables from two corpus
    * generations. */
  final case class IngestCatalog(canonT: String, digestT: String,
      sigsT: String, bandsT: String, gramT: String, gpostT: String)

  /** Land (once per corpus refresh) the corpus-side tables the streaming
    * ingest doors probe, and return their handle. The ONLY place the
    * corpus side is derived: every door reads these tables, so neither a
    * stream (re)start nor a micro-batch (stream-static sides re-execute
    * per trigger) re-hashes the corpus. Each table goes through
    * [[graft.io.Layout.ensureBucketed]]'s fingerprint lock (source file
    * metadata — the q87 mtime idiom), so the recurring call at every
    * stream (re)start costs a few `getFileStatus` calls when the corpus
    * is unchanged and rebuilds ONLY when it actually changed: at 100 TB a
    * stream restart must never re-hash the corpus.
    * Derived tables chain their staleness through their parents' files
    * (bands reads the landed sigs table, gram postings read the landed
    * gram table — a corpus change re-fingerprints the whole chain).
    * `name` is the corpus's stable identity (a canonical dir path, a
    * dataset name); two corpora must not share one. Expects a
    * `(doc_id, url, text)`-shaped corpus. */
  def ensureIngestCatalog(spark: SparkSession, name: String,
      corpus: DataFrame): IngestCatalog = {
    import graft.llm.Similarity
    val suffix = java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cat = IngestCatalog(
      s"graft_ingate_canon_$suffix", s"graft_ingate_digest_$suffix",
      s"graft_ingate_sigs_$suffix", s"graft_ingate_bands_$suffix",
      s"graft_ingate_gram_$suffix", s"graft_ingate_gpost_$suffix")
    graft.io.Layout.ensureBucketed(spark, cat.canonT, "canon", 16)(
      corpus.select(canonUdf(col("url")).as("canon"))
        .filter(col("canon").isNotNull).distinct())
    graft.io.Layout.ensureBucketed(spark, cat.digestT, "th", 16)(
      corpus.select(md5(col("text")).as("th")).distinct())
    graft.io.Layout.ensureBucketed(spark, cat.sigsT, "cor_id", 16)(
      corpus.select(col("doc_id").as("cor_id"),
          Similarity.hashedShingles(col("text")).as("hs_c"))
        .filter(size(col("hs_c")) > 0))
    graft.io.Layout.ensureBucketed(spark, cat.bandsT, "bkey", 16)(
      Similarity.bandKeysFor(spark.table(cat.sigsT)
          .select(col("cor_id").as("id"), col("hs_c").as("hs")), "id")
        .select(col("id").as("cor_id"), col("bkey")))
    graft.io.Layout.ensureBucketed(spark, cat.gramT, "cor_id", 16)(
      corpus.select(col("doc_id").as("cor_id"),
          Similarity.gram3Hashed(Similarity.tokens(col("text"))).as("g_c"))
        .select(col("cor_id"), col("g_c"), size(col("g_c")).cast("long").as("sz_c"))
        .filter(col("sz_c") > 0))
    graft.io.Layout.ensureBucketed(spark, cat.gpostT, "h", 16)(
      spark.table(cat.gramT)
        .select(col("cor_id"), explode(col("g_c")).as("h")))
    cat
  }

  /** Near-dup screen over the catalog: `(doc_id, ts, cor_id, score)`, one
    * row per band collision that verifies at the q41 cut (integer
    * jaccard bp `score` ≥ 9000). The band keys are ROW-LOCAL on the
    * stream side (the q40 codegen kernels), with `ts` and the
    * hashed-shingle array carried THROUGH the band expansion
    * ([[graft.llm.Similarity.bandKeysKeepingFor]]) so both joins are
    * stream-static: the probe against the landed band postings, then the
    * shingle-set attach for the CANDIDATE rows only. A slim band
    * expansion re-joined to the probe stream for ts/hs would be a
    * stream-stream self-join whose buffers the watermark never evicts;
    * the payload replication (×Bands, micro-batch-local) is the price of
    * holding no join state. Verification is the shared q41 contract —
    * size-ratio prefilter (lossless at 0.9), exact merge-intersect
    * kernel, cross-multiplied integer cut. */
  private def nearDupMatches(docs: DataFrame, cat: IngestCatalog): DataFrame = {
    import graft.llm.Similarity
    val spark = docs.sparkSession
    val probes = docs
      .select(col("doc_id").as("id"), col("ts"),
        Similarity.hashedShingles(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
    Similarity.bandKeysKeepingFor(probes, "id", Seq("ts", "hs"))
      .select(col("id").as("doc_id"), col("ts"), col("hs").as("hs_i"), col("bkey"))
      .join(spark.table(cat.bandsT), Seq("bkey"))
      .join(spark.table(cat.sigsT), Seq("cor_id"))
      .withColumn("sz_i", size(col("hs_i"))).withColumn("sz_c", size(col("hs_c")))
      .filter(least(col("sz_i"), col("sz_c")) * 10 >= greatest(col("sz_i"), col("sz_c")) * 9)
      .withColumn("n", graft.functions.ArrayKernels.sortedIntersectCount(col("hs_i"), col("hs_c")))
      .withColumn("score", expr("(10000 * n) div CAST(sz_i + sz_c - n AS BIGINT)"))
      .filter(col("score") >= 9000)
      .select(col("doc_id"), col("ts"), col("cor_id"), col("score"))
  }

  /** Containment screen over the catalog: `(doc_id, ts, cor_id, score)`,
    * one row per corpus doc holding ≥ 90 % of the arriving doc's
    * trigram-shingle set (`score` = containment bp).
    *
    * EXACTNESS: if ≥ 0.9·|A| of A's shingles are in B, any
    * (⌊0.1·|A|⌋+1)-subset of A's shingles hits B (pigeonhole) — the
    * probe loses nothing regardless of WHICH subset probes. q178's batch
    * probe ranks by landed document frequency to minimize candidates;
    * that ranking needs a per-doc row_number over a df join, which
    * streaming cannot express statelessly — so the stream probes the
    * FIRST k of the (sorted) shingle set, a ROW-LOCAL slice. Same
    * verdicts (the verify is the arbiter either way); the only cost is
    * more candidates per probe, still ∝ batch × posting multiplicity,
    * never ∝ corpus. As in [[nearDupMatches]], ts and the full shingle
    * array ride THROUGH the row-local prefix explode, so both joins are
    * stream-static. */
  private def containmentMatches(docs: DataFrame, cat: IngestCatalog): DataFrame = {
    import graft.llm.Similarity
    val spark = docs.sparkSession
    docs
      .select(col("doc_id"), col("ts"),
        Similarity.gram3Hashed(Similarity.tokens(col("text"))).as("hs_i"))
      .withColumn("sz_i", size(col("hs_i")).cast("long"))
      .filter(col("sz_i") > 0)
      // k = sz − ⌈0.9(sz+1)⌉ + 1 = ⌊0.1·sz⌋ + 1, q178's exact formula
      .select(col("doc_id"), col("ts"), col("hs_i"), col("sz_i"),
        explode(slice(col("hs_i"), lit(1),
          col("sz_i") - expr("(9 * sz_i + 9) div 10") + 1)).as("h"))
      .join(spark.table(cat.gpostT), Seq("h"))
      .join(spark.table(cat.gramT), Seq("cor_id"))
      .filter(lit(10) * col("sz_c") >= lit(9) * col("sz_i"))
      .withColumn("n", graft.functions.ArrayKernels
        .sortedIntersectCount(col("hs_i"), col("g_c")).cast("long"))
      .filter(lit(10) * col("n") >= lit(9) * col("sz_i"))
      .select(col("doc_id"), col("ts"), col("cor_id"),
        expr("10000 * n div sz_i").as("score"))
  }

  /** Fold a screen's matches to each doc's best one — highest score, then
    * lowest `cor_id` — as `(doc_id, best_match, <scoreName>)`. One
    * min(struct) aggregate under a watermark window: each doc has one
    * event time, so its group emits once in append mode, and this
    * aggregation is the door's ONLY state (only flagged docs carry any;
    * each group evicts at watermark + 1 hour). */
  private def bestMatch(matches: DataFrame, scoreName: String): DataFrame =
    matches.groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(min(struct((-col("score")).as("neg"), col("cor_id"))).as("b"))
      .select(col("doc_id"), col("b.cor_id").as("best_match"),
        (-col("b.neg")).as(scoreName))

  // ------------------------------------ streaming near-dup ingest gate

  /** Streaming twin of q68's NEAR-DUP leg: each arriving document is
    * probed against the landed corpus's LSH band postings and — when a
    * band collision VERIFIES at jaccard ≥ 0.9 ([[nearDupMatches]]) —
    * emitted exactly once with its best corpus match, so near-duplicate
    * re-crawls are rejected AT INGEST rather than by a later batch sweep.
    * [[ingestDedup]] is the exact-hash gate; this is the similarity gate
    * beside it. No stream-stream join exists, so no join state exists.
    *
    * Expects `(doc_id, ts, text)` streaming and the corpus's
    * [[ensureIngestCatalog]]; emits `(doc_id, best_match, bp)`. */
  def nearDupIngestStream(docs: DataFrame, cat: IngestCatalog): DataFrame =
    bestMatch(nearDupMatches(docs.withWatermark("ts", "1 hour"), cat), "bp")

  // ------------------------------------ streaming containment ingest gate

  /** Streaming twin of q178's CONTAINMENT leg — the third door of the
    * ingest tier beside exact hash ([[ingestDedup]]) and near-dup
    * ([[nearDupIngestStream]]): when ≥ 90 % of an arriving document's
    * trigram-shingle set verifies inside some corpus doc
    * ([[containmentMatches]]) it is emitted exactly once with its best
    * container — truncated re-crawls and quote-wrapper pages rejected AT
    * INGEST, the redundancy class exact and Jaccard gates both miss. The
    * gram postings are landed, so no trigger re-explodes the corpus (the
    * gram-postings build was the system's largest single landing cost,
    * 255 s at sf1 pre-kernel).
    *
    * Expects `(doc_id, ts, text)` streaming and the corpus's
    * [[ensureIngestCatalog]]; emits `(doc_id, best_match, containment_bp)`. */
  def containmentIngestStream(docs: DataFrame, cat: IngestCatalog): DataFrame =
    bestMatch(containmentMatches(docs.withWatermark("ts", "1 hour"), cat),
      "containment_bp")

  // ------------------------------ streaming ingest precedence census

  /** One document+URL arriving on the ingest stream (the
    * [[ingestPrecedenceStream]] input shape). */
  final case class UrlDocIngestRow(doc_id: Long, ts: java.sql.Timestamp,
    url: String, text: String)

  /** The streaming twin of q233's PRECEDENCE census — the composition the
    * four individually-proven doors cannot witness alone: an exact dup is
    * also a near dup and usually also contained, and the classification a
    * dataset card reports depends on the ORDER the screens claim a doc
    * (dup_url ≻ exact_dup ≻ near_dup ≻ contained ≻ ingested). A streaming
    * ingest that ran the doors independently could double-classify or
    * mis-attribute without any door's own spec noticing.
    *
    * Shape — `flatMapGroupsWithState`-free, three branches over the
    * watermarked docs:
    *  - BASE: stream-static left joins of each doc's canonical URL and
    *    content digest against the landed canonical and digest sets →
    *    per-doc u/e flags (stateless; one row per doc, so every doc is
    *    classified even with zero matches);
    *  - NEAR: the near-dup door's screen ([[nearDupMatches]]) as a flag;
    *  - CONTAINED: the containment door's screen ([[containmentMatches]])
    *    as a flag —
    * unioned and folded by ONE watermark-evicted (window, doc_id) max
    * aggregation; the precedence is a row-local CASE over the folded
    * flags. Every join is stream-static, so the job's ONLY state is the
    * final aggregation — spec-asserted, like every door. Each doc has one
    * event time → one final emission in append mode. Runs unchanged on
    * batch frames (the watermark no-ops).
    *
    * Expects `(doc_id, ts, url, text)` streaming and the corpus's
    * [[ensureIngestCatalog]]; emits `(doc_id, status)`. */
  def ingestPrecedenceStream(docs: DataFrame, cat: IngestCatalog): DataFrame = {
    val spark = docs.sparkSession
    val marked = docs.withWatermark("ts", "1 hour")
    def flags(u: Int, e: Int, n: Int, c: Int) = Seq(col("doc_id"), col("ts"),
      lit(u).as("u"), lit(e).as("e"), lit(n).as("n"), lit(c).as("c"))
    val base = marked
      .select(col("doc_id"), col("ts"), canonUdf(col("url")).as("canon"),
        md5(col("text")).as("th"))
      .join(spark.table(cat.canonT).withColumn("cu", lit(1)), Seq("canon"), "left")
      .join(spark.table(cat.digestT).withColumn("ce", lit(1)), Seq("th"), "left")
      .select(col("doc_id"), col("ts"), coalesce(col("cu"), lit(0)).as("u"),
        coalesce(col("ce"), lit(0)).as("e"), lit(0).as("n"), lit(0).as("c"))
    val near = nearDupMatches(marked, cat).select(flags(0, 0, 1, 0): _*)
    val cont = containmentMatches(marked, cat).select(flags(0, 0, 0, 1): _*)
    base.unionByName(near).unionByName(cont)
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(max(col("u")).as("u"), max(col("e")).as("e"),
        max(col("n")).as("n"), max(col("c")).as("c"))
      .select(col("doc_id"),
        when(col("u") === 1, "dup_url").when(col("e") === 1, "exact_dup")
          .when(col("n") === 1, "near_dup").when(col("c") === 1, "contained")
          .otherwise("ingested").as("status"))
  }

  // --------------------------------------- streaming daily theta sketches

  /** Keyed state for [[dailyUserSketches]]: the day's COMPACT Theta
    * sketch bytes (compact, not the update form — compact sketches are
    * the serializable/mergeable unit; per trigger the new user ids build
    * a fresh update sketch that unions into the stored bytes). */
  final case class DaySketchState(sk: Array[Byte])
  /** One emitted row: a finalized day and its sketch payload, the same
    * (day, sk) schema the batch `Events.dailyThetaSketches` lands. */
  final case class DaySketchRow(day: java.sql.Timestamp, sk: Array[Byte])

  /** The STREAM side of q164's landing story: per-day Theta sketches of
    * the active-user set, maintained in keyed state and emitted EXACTLY
    * ONCE when the watermark finalizes the day — the rows land beside
    * (or instead of) the batch `dailyThetaSketches` table, and
    * `Events.thetaWauFromDaily` consumes either source
    * indistinguishably (ThetaStreamSpec proves streamed-sketch WAU ≡
    * the exact batch counts in the sub-2^lgK regime).
    *
    * Same DataSketches family and lgK (12) as Spark's
    * `theta_sketch_agg`, same default update seed — so a streamed day
    * and a batch-built day union exactly (identical retained hash
    * sets over identical user ids).
    *
    * Finality: day D covers [D, D+1); the stateful late-row filter
    * drops ts <= watermark, so once the event-time timeout set at
    * D+1day fires (watermark ≥ that instant), no admissible event can
    * still land in D — emit and DROP the state (bounded: ≈ watermark
    * delay / 1 day open sketches per partition, each O(2^lgK)). */
  def dailyUserSketches(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val dayMs = 24L * 3600 * 1000
    eventRows(events.withWatermark("ts", "1 hour"))
      .groupByKey(e => Math.floorDiv(e.ts.getTime, dayMs))
      .flatMapGroupsWithState[DaySketchState, DaySketchRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (day: Long, rows: Iterator[EventRow], state: GroupState[DaySketchState]) =>
          import org.apache.datasketches.theta.{CompactSketch, SetOperation, UpdateSketch}
          if (state.hasTimedOut) {
            // watermark passed the day's end: the sketch is final
            val out = state.getOption.map(s =>
              DaySketchRow(new java.sql.Timestamp(day * dayMs), s.sk))
            state.remove()
            out.iterator
          } else {
            val fresh = UpdateSketch.builder().setLogNominalEntries(12).build()
            rows.foreach(e => fresh.update(e.user_id))
            val merged = state.getOption match {
              case Some(prev) =>
                val u = SetOperation.builder().setLogNominalEntries(12).buildUnion()
                u.union(CompactSketch.heapify(
                  org.apache.datasketches.memory.Memory.wrap(prev.sk)))
                u.union(fresh.compact())
                u.getResult.toByteArray
              case None => fresh.compact().toByteArray
            }
            state.update(DaySketchState(merged))
            state.setTimeoutTimestamp((day + 1) * dayMs)
            Iterator.empty
          }
      }.toDF()
  }
}
