package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming curation — the incremental face of the nightly batch
  * curation chain (q145): the reference's heart is incremental
  * processing, and until this object the gate/dedup/monitor pieces
  * each had a streaming twin but the COMPOSITION ran batch-only. One
  * streaming DAG now chains the three:
  *
  *   1. exact first-arrival dedup by content fingerprint
  *      ([[StreamingDedup.firstArrival]] on `sha2(text)` — the q112
  *      incremental-dedup key), watermark-bounded state;
  *   2. the q27 composite quality gate (ONE definition —
  *      [[graft.operators.TextOps.qualityGate]], the same column the
  *      batch chain filters on), either as the curated-docs filter or
  *      as the monitor's pass/fail annotation;
  *   3. the ingest-monitor windowed aggregation
  *      ([[IngestMonitorStream.ingestCore]]) over the DEDUPED stream,
  *      so pass_rate measures what curation actually sees rather than
  *      double-counting re-deliveries.
  *
  * [[curationMonitorStream]] is one `writeStream` with two chained
  * stateful operators (dedup state, then window state) — the
  * multi-stateful append-mode pipeline Structured Streaming supports
  * since 3.4; [[curatedStream]] is the per-document product (dedup →
  * gate filter, stateless after the dedup). Batch twins
  * ([[batchDeduped]] and friends) define the agreement contract the
  * spec pins across state-bridged micro-batches and a cold checkpoint
  * restart.
  *
  * State scale: dedup keeps one 32-byte fingerprint per distinct
  * document inside the watermark horizon (arrival-rate × delay
  * bounded, never corpus-bounded); the window state is open-windows ×
  * sources. Both are the shapes the batch chain's 100 TB audit
  * already costs — nothing here shuffles text except the initial
  * metric projection, which is map-side.
  */
object CurationStream {

  /** Content fingerprint — the q112 incremental-dedup key. */
  private def fingerprinted(docs: DataFrame): DataFrame =
    docs.withColumn("fp", sha2(col("text"), 256))

  /** Stage 1: one row per content fingerprint, state expiring past the
    * watermark on `ts` ([[IngestMonitorStream.WatermarkDelay]]). Input carries at least
    * (source, ts, text, n_chars). The processing-order first arrival
    * survives, through the dedicated [[StreamingDedup.withinWatermark]]
    * form (the engine evicts each fingerprint's state once the
    * watermark passes its event time, keeping dedup state rate-bounded
    * instead of corpus-bounded). */
  def dedupedDocs(docs: DataFrame): DataFrame =
    StreamingDedup.withinWatermark(
      fingerprinted(docs), "ts", IngestMonitorStream.WatermarkDelay, "fp")

  /** Stages 1+2: the curated per-document stream — deduped docs that
    * pass the q27 gate, with the token count the downstream trainer
    * bills by. Append-mode, stateless past the dedup. */
  def curatedStream(docs: DataFrame): DataFrame =
    dedupedDocs(docs)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_stop", graft.operators.TextOps.stopHits)
      .filter(graft.operators.TextOps.qualityGate)
      .select(col("fp"), col("source"), col("ts"), col("n_tokens"))

  /** Stages 1+2+3 in ONE writeStream: the ingest monitor over the
    * deduped stream — (window, source) doc/token volumes and gate
    * pass rate, re-deliveries removed before they can inflate either
    * the volume or the pass rate. */
  def curationMonitorStream(docs: DataFrame): DataFrame =
    IngestMonitorStream.ingestCore(
      IngestMonitorStream.docMetrics(
        dedupedDocs(docs)
          .select(col("source"), col("ts"), col("text"), col("n_chars"))))

  /** Batch twin of [[dedupedDocs]]: first arrival = the (ts, source,
    * text)-least row per fingerprint. Deterministic on any engine —
    * the agreement specs feed true re-deliveries (identical tuples),
    * for which ANY kept copy is the same row.
    *
    * CONTRACT BOUNDARY (spec-pinned, not just noted): the twins
    * diverge by design for (a) the same text arriving from different
    * (source, ts) out of event-time order — the stream keeps the
    * processing-order first, this twin the (ts, source, text)-least —
    * and (b) duplicates re-delivered after the watermark evicted their
    * fingerprint state, which the stream re-emits and this twin never
    * does. Feeds that must agree need event-time-ordered delivery
    * within the watermark, the standard log-compaction assumption. */
  def batchDeduped(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    fingerprinted(docs)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp"))
          .orderBy(col("ts"), col("source"), col("text"))))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Batch twin of [[curatedStream]]. */
  def batchCurated(docs: DataFrame): DataFrame =
    batchDeduped(docs)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_stop", graft.operators.TextOps.stopHits)
      .filter(graft.operators.TextOps.qualityGate)
      .select(col("fp"), col("source"), col("ts"), col("n_tokens"))

  /** Batch twin of [[curationMonitorStream]]. */
  def batchMonitor(docs: DataFrame): DataFrame =
    IngestMonitorStream.ingestCore(
      IngestMonitorStream.docMetrics(
        batchDeduped(docs)
          .select(col("source"), col("ts"), col("text"), col("n_chars"))))
}
