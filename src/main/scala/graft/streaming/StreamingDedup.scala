package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming exact deduplication — the stream-side face of the dedup
  * family (`graft.operators.Dedup`): drop re-deliveries / duplicate
  * events by key, with state bounded by a watermark.
  *
  * `dropDuplicates` over a watermarked stream keeps one state entry per
  * key and expires entries once the watermark passes their event time —
  * the standard exactly-once-ingest building block for a training-data
  * pipeline fed by at-least-once transports (the reference's consumer
  * is explicitly at-least-once with per-record retry,
  * `orders-json-clients/.../ConsumerApp.kt:56-109`; dedup downstream is
  * what turns that into effective exactly-once).
  *
  * State scale: one entry per distinct key inside the watermark horizon
  * — bounded by arrival rate × delay, not by stream length.
  */
object StreamingDedup {

  /** Keep the first arrival per `keyCols`, expiring state past the
    * watermark on `eventTimeCol`. */
  def firstArrival(df: DataFrame, eventTimeCol: String, delay: String,
                   keyCols: String*): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicates(keyCols)

  /** The dedicated API (Spark 3.5+): same first-arrival semantics, but
    * the engine evicts a key's state as soon as the watermark passes
    * `its event time + delay` even though the event-time column is NOT
    * part of the key — the recommended form because [[firstArrival]]
    * keeps non-keyed state alive on every watermark update pattern the
    * planner can't bound. */
  def withinWatermark(df: DataFrame, eventTimeCol: String, delay: String,
                      keyCols: String*): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)
}
