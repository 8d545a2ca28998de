package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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

  /** A fingerprinted curation document — the row shape [[keepLeast]]
    * buffers in state (the [[CurationStream]] chain's columns). */
  case class FpDoc(fp: String, source: String, ts: java.sql.Timestamp,
                   text: String, n_chars: Long)

  /** Keyed keep-least state: the current winning row plus the newest
    * event time seen for the key (the horizon the timeout waits out). */
  case class LeastState(doc: FpDoc, maxTs: Long)

  /** Keep the (ts, source, text)-LEAST row per fingerprint — the batch
    * twin's keep rule — emitted once the watermark closes the
    * fingerprint's horizon. Where [[withinWatermark]] keeps the
    * processing-order first arrival (zero added latency, but divergent
    * from the batch rule for out-of-order cross-source duplicates —
    * the f6d551c contract boundary), this variant carries the
    * candidate row in state until the watermark passes the key's
    * newest arrival, so ANY competing copies delivered inside the
    * horizon resolve exactly as the batch twin resolves them. The
    * price is the standard append-aggregation latency (one watermark
    * delay); the state is still one row per distinct in-horizon key.
    * Re-deliveries after state eviction still re-emit — that half of
    * the contract boundary is inherent to bounded state. */
  def keepLeast(docs: Dataset[FpDoc], eventTimeCol: String,
                delay: String): Dataset[FpDoc] = {
    import docs.sparkSession.implicits._
    docs.withWatermark(eventTimeCol, delay)
      .groupByKey(_.fp)
      .flatMapGroupsWithState[LeastState, FpDoc](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        keepLeastUpdate)
  }

  private[streaming] def keepLeastUpdate(
      fp: String, rows: Iterator[FpDoc],
      state: GroupState[LeastState]): Iterator[FpDoc] =
    if (state.hasTimedOut) {
      val out = state.get.doc
      state.remove()
      Iterator.single(out)
    } else {
      val rs = rows.toSeq
      val prior = state.getOption
      val least = (prior.map(_.doc) ++ rs)
        .minBy(d => (d.ts.getTime, d.source, d.text))
      val maxTs = (prior.map(_.maxTs) ++ rs.map(_.ts.getTime)).max
      state.update(LeastState(least, maxTs))
      // fire once the watermark passes the key's newest arrival; the
      // engine rejects timestamps at or before the current watermark,
      // so clamp for keys whose rows arrived right at the boundary
      state.setTimeoutTimestamp(
        math.max(maxTs, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
}
