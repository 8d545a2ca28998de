package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Curated ingest monitoring (q168): the nightly curation chain's
  * dedup → gate → monitor composition over one frame.
  *
  *   1. exact first-arrival dedup by content fingerprint (`sha2(text)`
  *      — the q112 incremental-dedup key);
  *   2. the q27 composite quality gate (ONE definition —
  *      [[graft.operators.TextOps.qualityGate]], the same column the
  *      batch chain filters on) as the monitor's pass/fail annotation;
  *   3. the ingest-monitor windowed aggregation
  *      ([[IngestMonitorStream.ingestCore]]) over the DEDUPED rows, so
  *      pass_rate measures what curation actually sees rather than
  *      double-counting re-deliveries.
  */
object CurationStream {

  /** Content fingerprint — the q112 incremental-dedup key. */
  private def fingerprinted(docs: DataFrame): DataFrame =
    docs.withColumn("fp", sha2(col("text"), 256))

  /** Stage 1: one row per content fingerprint, the first arrival = the
    * (ts, source, text)-least row. Deterministic on any engine: true
    * re-deliveries are identical tuples, so ANY kept copy is the same
    * row. Input carries at least (source, ts, text, n_chars). */
  def batchDeduped(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    fingerprinted(docs)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp"))
          .orderBy(col("ts"), col("source"), col("text"))))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Stages 1+2+3: the ingest monitor over the deduped docs —
    * (window, source) doc/token volumes and gate pass rate,
    * re-deliveries removed before they can inflate either the volume
    * or the pass rate. */
  def batchMonitor(docs: DataFrame): DataFrame =
    IngestMonitorStream.ingestCore(
      IngestMonitorStream.docMetrics(
        batchDeduped(docs)
          .select(col("source"), col("ts"), col("text"), col("n_chars"))))
}
