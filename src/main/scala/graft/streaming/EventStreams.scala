package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Streaming forms of the event-analytics operators: session windows and
  * the stream-stream interval join. Each mirrors its batch twin
  * ([[graft.operators.Analytics.sessionWindows]],
  * [[graft.operators.Joins.viewsWithinHour]]) so batch-vs-stream
  * agreement is testable the same way the reference cross-checks its
  * three supplier-stats engines (SURVEY.md §5.3).
  */
object EventStreams {

  /** Watermark delay of the session and interval-join streams. */
  val WatermarkDelay = "10 seconds"

  /** Streaming session windows (gap-merged) per user. Append mode emits
    * a session exactly once, when the watermark passes `last event +
    * gap` — Spark's session state store merges overlapping windows
    * per key as events arrive, the same incremental shape Flink keeps
    * in keyed window state. Expects columns `user_id, ts (timestamp),
    * value`. */
  def sessionAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .groupBy(session_window(col("ts"), graft.operators.Analytics.SessionGap), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2)
          .as("session_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("session_value"))

  /** Streaming twin of [[graft.operators.Analytics.transitionMatrix]]:
    * per-user keyed state holds only the LAST event, each batch sorts
    * its (bounded) per-user slice by (ts, id) and emits the consecutive
    * pairs, bridging across batches through the state — so the full
    * pair stream equals the batch lead-window result when each user's
    * feed is in order (the Kafka-partition-per-key delivery the
    * reference relies on; out-of-order handling belongs to an upstream
    * watermark sort, not this operator). State is one tuple per user —
    * bounded by key cardinality, not stream length. */
  def transitionPairs(events: Dataset[EvIn]): Dataset[Trans] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EvIn],
         state: org.apache.spark.sql.streaming.GroupState[LastSeenEv]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val chain = state.getOption
            .map(p => EvIn(uid, p.event_id, p.ts_us, p.event_type)).toSeq ++ sorted
          val out = chain.sliding(2).collect {
            case Seq(a, b) => Trans(uid, a.event_type, b.event_type)
          }.toSeq
          sorted.lastOption.foreach(l =>
            state.update(LastSeenEv(l.ts_us, l.event_id, l.event_type)))
          out.iterator
      }
  }

  /** Streaming twin of [[graft.operators.Analytics.funnel]]: per-user
    * keyed state tracks the first qualifying timestamp of each stage
    * (view → click-after-view → purchase-after-click) and emits one
    * [[FunnelHit]] the moment a user first reaches a stage — so
    * `groupBy(stage).count` over the emitted stream equals the batch
    * funnel at any point where the feed is in per-user order. State is
    * three longs per user; no event retention. */
  def funnelStages(events: Dataset[EvIn]): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EvIn],
         state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = Seq.newBuilder[FunnelHit]
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if st.viewUs < 0 =>
                st = st.copy(viewUs = e.ts_us)
                out += FunnelHit(uid, "1_view")
              case "click" if st.viewUs >= 0 && st.clickUs < 0 &&
                  e.ts_us > st.viewUs =>
                st = st.copy(clickUs = e.ts_us)
                out += FunnelHit(uid, "2_click")
              case "purchase" if st.clickUs >= 0 && st.purchaseUs < 0 &&
                  e.ts_us > st.clickUs =>
                st = st.copy(purchaseUs = e.ts_us)
                out += FunnelHit(uid, "3_purchase")
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's views from the preceding hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so the state
    * store can expire view rows once `view time + 1h` falls behind the
    * purchase-side watermark — bounded state at any input volume, the
    * property that makes the join runnable indefinitely. Expects
    * columns `p_event_id, p_user, p_ts` / `v_event_id, v_user, v_ts,
    * v_value`. */
  def purchasesWithRecentViews(purchases: DataFrame, views: DataFrame): DataFrame =
    purchases.withWatermark("p_ts", WatermarkDelay)
      .join(views.withWatermark("v_ts", WatermarkDelay),
        expr("p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"))
      .select(col("p_event_id").as("event_id"), col("p_user").as("user_id"),
        col("v_event_id").as("view_id"), col("v_value").as("view_value"))
}

/** One event as [[EventStreams.transitionPairs]] sees it. Top-level:
  * encoder codegen for state/stream classes requires non-nested case
  * classes. */
case class EvIn(user_id: Long, event_id: Long, ts_us: Long, event_type: String)

/** An emitted consecutive-event transition for one user. */
case class Trans(user_id: Long, from_type: String, to_type: String)

/** Keyed state for [[EventStreams.transitionPairs]]: the user's last
  * event only. */
case class LastSeenEv(ts_us: Long, event_id: Long, event_type: String)

/** A user first reaching a funnel stage ([[EventStreams.funnelStages]]). */
case class FunnelHit(user_id: Long, stage: String)

/** Keyed funnel state: first qualifying timestamp per stage, -1 =
  * not reached. */
case class FunnelState(viewUs: Long, clickUs: Long, purchaseUs: Long)
