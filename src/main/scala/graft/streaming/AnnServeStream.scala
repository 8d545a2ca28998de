package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Online ANN serving — the retrieval counterpart of the engine's
  * other streaming twins: a micro-batched stream of query vectors
  * scored against the SQ8-encoded corpus ([[graft.operators.Sq]]),
  * top-k per query appended downstream.
  *
  * Shape: `foreachBatch` executing the EXACT batch operator
  * ([[graft.operators.Sq.sqTopKFor]]) on each micro-batch's query
  * frame — one scoring definition for the nightly job and the live
  * service, so stream and batch cannot drift (the agreement spec is
  * then near-tautological by construction, and asserts it anyway
  * across multiple micro-batches). This is the standard Structured
  * Streaming pattern for per-batch ranked retrieval: window functions
  * are not streamable, but each micro-batch's query set is a bounded
  * BATCH against the static corpus, which is exactly what the batch
  * operator already handles.
  *
  * Scale shape: per micro-batch, the bounded query frame broadcasts
  * and the encoded corpus streams through once — the q24/q169 scan
  * unchanged. The SQ8 fit (per-dim bounds) and the encode are
  * memoized per (session, sfDir) by Sq's caches, so steady-state
  * batches pay only the scan. State: none (stateless serving; dedup /
  * session concerns live upstream in [[CurationStream]]).
  */
object AnnServeStream {

  /** Start serving: each micro-batch of `queries` (`qid`, `qemb`) is
    * scored with the batch operator and handed to `sink` as
    * (qid, nbr_id, rank, sq_ip), top [[graft.operators.Ann.TopK]] per query. */
  def serve(spark: SparkSession, sfDir: String, queries: DataFrame)(
      sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.operators.Sq.sqTopKFor(spark, sfDir, batch))
      }
      .start()
}
