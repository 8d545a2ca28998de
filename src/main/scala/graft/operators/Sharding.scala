package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Output sharding for a training corpus — the writer-side step after
  * curation: assign every document to one of [[Sharding.Shards]] output shards
  * so per-shard TOKEN totals stay balanced (a data-parallel trainer
  * reads one shard per worker; token skew = straggler steps). Greedy
  * balance via boustrophedon ("snake") assignment over the global
  * token-descending order — the deterministic, partition-independent
  * counterpart of longest-processing-time scheduling: rows 1..N go to
  * shards 0..N−1, rows N+1..2N to N−1..0, and so on, so every shard
  * receives exactly one document per block and consecutive blocks
  * compensate each other's ordering.
  */
object Sharding {

  /** Shards of the q162 assignment. */
  val Shards = 8

  /** q162: (doc_id, n_tokens, rn, shard) — `rn` the global rank by
    * (n_tokens desc, doc_id), `shard` the snake assignment over
    * [[Shards]] shards.
    *
    * Scale shape: the global rank uses the range-partitioned
    * prefix-scan idiom (the q108 ABC plan) — `repartitionByRange` on
    * the rank key, per-partition COUNTS collected (nParts rows, bounded
    * by config, never data), offsets broadcast back, and row_number
    * runs WITHIN partitions only. No single-partition window anywhere;
    * the shard arithmetic is map-side integer math on the rank. Only
    * (doc_id, n_tokens) shuffles — text never moves. */
  def tokenBalancedShards(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // global rank via the shared range-partitioned prefix scan: off =
    // exclusive row-count prefix per partition (config-bounded collect)
    val ranged = PrefixScan.withLongOffsets(
      toks, Seq(desc("n_tokens"), asc("doc_id")), lit(1L))
    val w = Window.partitionBy(col("pid"))
      .orderBy(desc("n_tokens"), asc("doc_id"))
    val n = Shards.toLong
    val rn = col("off") + row_number().over(w)
    // pos/block via exact integer arithmetic — ((rn−1)−pos) is a
    // multiple of n, so the double division is exact for ANY n (a bare
    // floor((rn−1)/n) is exact only for power-of-two n)
    val pos = pmod(rn - 1, lit(n))
    val block = ((rn - 1 - pos) / lit(n)).cast("long")
    ranged
      .select(col("doc_id"), col("n_tokens"), rn.cast("long").as("rn"),
        when(pmod(block, lit(2L)) === 0L, pos)
          .otherwise(lit(n) - 1 - pos).cast("long").as("shard"))
  }
}
