package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The realtime dashboard (SURVEY §3.1) as ONE streaming plan — the
  * collapse the survey prescribes for the reference's split
  * Postgres-join + client-side-aggregation + 5 s repoll architecture
  * (`product-demos/producer/api.py:35-63`,
  * `streamlit/utils.py:25-104`): stream-static join of the event
  * stream against the (broadcast) user dimension, then a windowed
  * revenue-by-segment aggregation, incrementally maintained instead of
  * recomputed per tick.
  *
  * Stream-static joins need no state for the static side — each
  * micro-batch joins against the (re-resolvable) dimension snapshot,
  * which is exactly the dashboard's read-current-dimension semantics.
  */
object DashboardStream {

  /** events stream (event_id, ts, user_id, value) ⋈ static customers →
    * 1-minute tumbling revenue by market segment, 30 s watermark. */
  def revenueBySegment(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 seconds")
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        events("user_id") === col("c_custkey"), "left")
      .groupBy(
        window(col("ts"), "1 minute").as("w"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("segment"), col("revenue"), col("n_events"))
}
