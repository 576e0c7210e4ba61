package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over an event stream with schema
  * (event_id, user_id, event_type, value, ts).
  *
  * The reference's streaming layer is the CDC poll loop (no windows —
  * SURVEY §2.10 T6); these ops are the engine's general stream surface:
  * watermarked tumbling aggregations and custom session state via
  * flatMapGroupsWithState, both of which scale as key-partitioned state
  * in the Spark state store (RocksDB at production scale).
  */
object EventStreamOps {

  /** Tumbling-window per-type counts with a watermark bounding state. */
  def tumblingCounts(
      events: DataFrame,
      windowDur: String = "1 minute",
      watermarkDelay: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  final case class Event(
      event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: java.sql.Timestamp)

  final case class SessionState(
      count: Long, totalValue: Double, lastTs: Long)

  final case class SessionOut(
      user_id: Long, n_events: Long, total_value: Double,
      ended_by_timeout: Boolean)

  /** Session windows per user via flatMapGroupsWithState with an
    * EVENT-time inactivity gap: a session closes once the stream's
    * watermark passes lastEvent + gap (deterministic — no wall-clock
    * dependence; Spark's no-data batches fire the timeouts as the
    * watermark advances), OR mid-batch when the gap between two of the
    * batch's own events exceeds the gap — so a catch-up replay that
    * delivers days of history in one micro-batch still splits sessions
    * exactly like the live stream (and like the batch formulation,
    * ops.SessionOps — cross-checked in SessionOpsSpec). State per key
    * is O(1) — counters only. Events arriving out of order ACROSS
    * batches (older than the open session's lastTs) merge into it —
    * size the watermark delay to the disorder horizon.
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.count, s.totalValue,
              ended_by_timeout = true))
          } else {
            val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[SessionOut]
            var cur = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs > gapMs =>
                  closed += SessionOut(userId, s.count, s.totalValue,
                    ended_by_timeout = false)
                  cur = Some(SessionState(1L, e.value, t))
                case Some(s) =>
                  cur = Some(SessionState(
                    s.count + 1, s.totalValue + e.value,
                    math.max(s.lastTs, t)))
                case None =>
                  cur = Some(SessionState(1L, e.value, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join (click attribution): each purchase
    * pairs with the same user's clicks from the preceding
    * `windowDur`. The time-range condition plus watermarks on BOTH
    * sides lets Spark expire join state — without them stream-stream
    * join state grows forever. Inner join → output finalizes as the
    * watermark passes; state per side is O(rows within horizon).
    * Batch face of the same semantics: RangeJoinOps.intervalJoin.
    */
  def clickAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      windowDur: String = "10 minutes",
      watermarkDelay: String = "2 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("value").as("purchase_value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowDur") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_value"), col("click_ts"), col("purchase_ts"))
  }

  /** LEFT OUTER stream-stream attribution: every purchase emits exactly
    * once — joined to its in-window clicks when they exist, and
    * NULL-extended ("organic") otherwise. The null-extended row can
    * only be emitted once the click-side watermark has passed the end
    * of the purchase's attribution window (before that a matching click
    * could still arrive), so organic rows surface with watermark lag —
    * the documented trade of outer stream joins. State stays bounded by
    * the same two-watermark horizon as [[clickAttribution]].
    */
  def clickAttributionOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      windowDur: String = "10 minutes",
      watermarkDelay: String = "2 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowDur") &&
        col("click_ts") <= col("purchase_ts"),
      "left_outer")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_value"), col("purchase_ts"))
  }

  /** Streaming dedup-by-key within the watermark horizon — the streaming
    * face of exact dedup (S5's idempotence applied in-flight).
    */
  def dedupInStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** TTL-bounded streaming dedup via Spark 4's transformWithState — the
    * arbitrary-state successor to mapGroupsWithState: typed per-key
    * state handles (value/list/map) with store-managed TTL, so the
    * seen-set ages out WITHOUT a watermark on the data (dedup horizon
    * decouples from event-time disorder — the right contract for
    * at-least-once CDC feeds, where a replay can arrive arbitrarily
    * late by event time but duplicates cluster in processing time).
    *
    * State: one boolean ValueState per dedup key; RocksDB-backed
    * (transformWithState requires the RocksDB provider — see
    * StreamingSpec for the config) and TTL-evicted, so state size
    * tracks the LIVE horizon, not stream lifetime. First occurrence
    * of a key is emitted; later rows — same batch or later batches
    * within the TTL — are suppressed.
    */
  final class TtlDedupProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, Event] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean](
        "seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Event] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows.take(1) }
  }

  /** Dedup a typed event stream by an arbitrary key with TTL state.
    *
    * ttlMs > 0 → ProcessingTime time mode with store-managed TTL.
    * Caveat: processing-time queries schedule timer micro-batches
    * continuously — pair with a real trigger interval in production and
    * don't drive them with processAllAvailable/AvailableNow in tests.
    * ttlMs <= 0 → TimeMode.None, state never expires (exact dedup —
    * only for bounded key domains; this is also the deterministic
    * test-harness mode).
    */
  def dedupWithTtlState(
      events: Dataset[Event],
      keyFn: Event => String,
      ttlMs: Long): Dataset[Event] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(keyFn)
      .transformWithState(
        new TtlDedupProcessor(ttlMs),
        if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** Stream-static enrichment: left-join each micro-batch against a
    * static dimension on `key`, keeping streamed rows with no dim match
    * (null-extended) rather than dropping them mid-flight.
    *
    * Scale shape: the static side is broadcast once per micro-batch
    * planning (no state store involvement, no watermark needed — the
    * static side never changes mid-query; restart the query to pick up
    * a refreshed dim snapshot). For dims too big to broadcast, Spark
    * falls back to a per-batch shuffle join automatically — the hint is
    * advisory, not forced.
    */
  def enrichWithDim(
      events: DataFrame,
      dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left_outer")
}
