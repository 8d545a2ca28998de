package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-ingestion monitor — the reference's windowed-stats shape
  * (`SupplierStatsFunction.kt`, the q13/A5 family) applied to the
  * LLM-ingest domain: per (tumbling window, source), how many
  * documents arrived, how many tokens they carry, and what fraction
  * passes the C4-style quality gate. The dashboard a crawl-ingest
  * pipeline watches: a source whose pass_rate collapses mid-crawl is
  * spam-flooding, one whose token volume spikes is dumping
  * boilerplate.
  *
  * One shared core ([[ingestCore]]) serves the batch query (q140, with
  * a deterministic synthetic event time — the q114 envelope's
  * discipline of making streaming semantics batch-checkable) and the
  * curated monitor (q168, [[CurationStream.batchMonitor]]). Per-doc
  * metrics are STATELESS (the q27 gate columns), so the monitor is one
  * standard windowed aggregation — over a watermarked stream its state
  * would be bounded by open windows × sources regardless of corpus
  * rate.
  */
object IngestMonitorStream {

  /** Per-document stateless quality metrics over a frame carrying
    * (`source`, `ts`, `text`, `n_chars`): token count and the q27
    * composite gate — ONE definition, thresholds included
    * ([[graft.operators.TextOps.qualityGate]] over
    * [[graft.operators.TextOps.stopHits]]), shared by q140 and q168 so
    * the two gates cannot drift. */
  def docMetrics(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_stop", graft.operators.TextOps.stopHits)
      .withColumn("passes", graft.operators.TextOps.qualityGate)
      .select(col("source"), col("ts"), col("n_tokens"), col("passes"))

  /** The monitors' tumbling window. */
  val WindowInterval = "1 minute"

  /** The shared windowed aggregation: (window, source) → doc count,
    * token volume, gate pass count + rate (q140 and q168). */
  def ingestCore(metrics: DataFrame): DataFrame =
    metrics
      .groupBy(window(col("ts"), WindowInterval).as("w"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_passed"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("source"), col("n_docs"), col("n_tokens"), col("n_passed"),
        round(col("n_passed").cast("double") / col("n_docs"), 4).as("pass_rate"))

  /** Deterministic synthetic event time for the batch surface: doc_id
    * seconds past 2024-01-01T00:00:00Z — engine-portable integer
    * arithmetic, so the oracle replays the exact window assignment
    * (the q13 epoch-floor math). */
  val EpochBase: Long = 1704067200L

  /** q140: the batch monitor over the documents table. */
  def batchMonitor(spark: SparkSession, sfDir: String): DataFrame =
    ingestCore(docMetrics(
      Tables.documents(spark, sfDir)
        .withColumn("ts", timestamp_seconds(lit(EpochBase) + col("doc_id")))
        .select(col("source"), col("ts"), col("text"), col("n_chars"))))
}
