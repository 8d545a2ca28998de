package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * One shared aggregation ([[windowed]]) serves the monitor over the
  * documents table (q140) and the curated monitor over its first
  * arrivals (q168), both on a deterministic synthetic event time — the
  * q114 envelope's discipline of making windowed semantics
  * batch-checkable. Per-doc metrics are stateless (the q27 gate
  * columns), so the monitor is one standard windowed aggregation.
  */
object IngestMonitor {

  /** Per-document stateless quality metrics over a frame carrying
    * (`source`, `ts`, `text`, `n_chars`): token count and the q27
    * composite gate — ONE definition, thresholds included
    * ([[TextOps.qualityGate]] over [[TextOps.stopHits]]), shared by
    * q140 and q168 so the two gates cannot drift. */
  private def docMetrics(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_stop", TextOps.stopHits)
      .withColumn("passes", TextOps.qualityGate)
      .select(col("source"), col("ts"), col("n_tokens"), col("passes"))

  /** The monitors' tumbling window. */
  private val WindowInterval = "1 minute"

  /** The shared windowed aggregation: (window, source) → doc count,
    * token volume, gate pass count + rate (q140 and q168). */
  private def windowed(metrics: DataFrame): DataFrame =
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

  /** Deterministic synthetic event time: doc_id seconds past
    * 2024-01-01T00:00:00Z — engine-portable integer arithmetic, so the
    * oracle replays the exact window assignment (the q13 epoch-floor
    * math). */
  private val EpochBase: Long = 1704067200L

  /** The documents table as arrivals (`source`, `ts`, `text`, `n_chars`). */
  private def arrivals(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("ts", timestamp_seconds(lit(EpochBase) + col("doc_id")))
      .select(col("source"), col("ts"), col("text"), col("n_chars"))

  /** q140: the monitor over every arrival. */
  def monitor(spark: SparkSession, sfDir: String): DataFrame =
    windowed(docMetrics(arrivals(spark, sfDir)))

  /** One row per content fingerprint (`sha2(text)`, the q112
    * incremental-dedup key): the first arrival, the (ts, source,
    * text)-least row. Deterministic on any engine: true re-deliveries
    * are identical tuples, so ANY kept copy is the same row. */
  private def firstArrivals(docs: DataFrame): DataFrame =
    docs.withColumn("fp", sha2(col("text"), 256))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp"))
          .orderBy(col("ts"), col("source"), col("text"))))
      .filter(col("_rn") === 1).drop("_rn")

  /** q168, the curation chain's monitor: dedup → gate → monitor, the
    * windowed aggregation over the first arrivals only, so pass_rate
    * measures what curation actually sees rather than double-counting
    * re-deliveries. */
  def curatedMonitor(spark: SparkSession, sfDir: String): DataFrame =
    windowed(docMetrics(firstArrivals(arrivals(spark, sfDir))
      .select(col("source"), col("ts"), col("text"), col("n_chars"))))
}
