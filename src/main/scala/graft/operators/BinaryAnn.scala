package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Binary (1-bit sign) embedding quantization + Hamming-distance ANN —
  * the memory-bound retrieval shape (Yamada et al. 2021, "Efficient
  * Passage Retrieval with Hashing"; classic sign-hash retrieval back to
  * Charikar 2002): each float dimension collapses to its sign bit, a
  * 64-dim `float[]` row (256 B) becomes two 64-bit words (16 B), and
  * candidate generation scans XOR+popcount instead of 64 FMAs. The
  * exact-cosine re-rank then touches only the bounded candidate set —
  * the standard two-stage compressed-first / exact-second pipeline,
  * the same discipline as the PQ family ([[Pq]]) at a 16× coarser but
  * 4× smaller code point. Both stages run [[Ann]]'s candidate join and
  * rank tail — Hamming distance ascending, then exact cosine.
  */
object BinaryAnn {

  /** One 32-bit half-word of the sign pattern, packed little-endian
    * from `emb[off .. off+31]`: bit i set iff the component is
    * strictly positive. A 32-term codegen'd sum of `when` literals —
    * no UDF, no array allocation; constants (`1L << i`) fold at plan
    * time. Two half-words per 64-dim vector keep every intermediate
    * far from Long overflow and replay exactly in any engine with
    * 64-bit integer shifts. */
  private def packWord(emb: Column, off: Int): Column =
    (0 until 32).map { i =>
      when(emb.getItem(off + i) > lit(0f), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The packed corpus: `(vec_id, b_lo, b_hi)` — 16 bytes of code per
    * row. At 100 TB of raw embeddings this is the ~6 TB frame the
    * Hamming scan actually reads; the float vectors stay at rest until
    * the re-rank joins the candidate ids back. */
  def packed(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"),
        packWord(col("embedding"), 0).as("b_lo"),
        packWord(col("embedding"), 32).as("b_hi"))

  private def hammingDist(aLo: Column, aHi: Column, bLo: Column, bHi: Column): Column =
    (bit_count(aLo.bitwiseXOR(bLo)) + bit_count(aHi.bitwiseXOR(bHi))).cast("long")

  /** q159: two-stage binary ANN. Stage 1 ranks the corpus per query by
    * Hamming distance over the packed codes and keeps the top
    * `candPerQuery` ids; stage 2 re-ranks ONLY those candidates by
    * exact cosine (same 4dp rounding + id tie-break as q24's brute
    * baseline) and emits the top `k` with both distances, so the
    * output exposes what the cheap stage saw and what the exact stage
    * decided.
    *
    * Scale shape: the Hamming scan joins the corpus CODES (16 B/row)
    * against a broadcast `nQueries`-row query frame — two XORs and two
    * popcounts per pair, never a float vector in flight; the per-query
    * window runs on (qid, hamming, vec_id) triples. The re-rank side
    * is `nQueries × candPerQuery` rows joined back to the float table
    * on vec_id — a broadcast-able sliver at any corpus size. Recall is
    * governed by `candPerQuery` exactly as nProbe governs IVF. */
  def hammingTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                  k: Int = 5, candPerQuery: Int = 20): DataFrame = {
    val codes = packed(spark, sfDir)
    val qCodes = Ann.queryFrame(codes, nQueries, "b_lo" -> "q_lo", "b_hi" -> "q_hi")
    // stage 1: the shared rank tail by ASCENDING distance
    val cand = Ann.topK(Ann.candidates(codes, qCodes).withColumn("hamming",
        hammingDist(col("b_lo"), col("b_hi"), col("q_lo"), col("q_hi"))),
        candPerQuery, asc("hamming"))
      .select(col("qid"), col("vec_id"), col("hamming"))
    // exact re-rank: only the candidate ids pull their float vectors
    val e = Ann.normed(Tables.embeddings(spark, sfDir))
    val q = Ann.queryFrame(e, nQueries, "embedding" -> "qemb", "nrm" -> "qnrm")
    Ann.topK(cand.join(e, "vec_id").join(broadcast(q), "qid")
        .withColumn("cos_sim", Similarity.cosine), k, desc("cos_sim"))
      .select(col("qid"), col("vec_id").as("nbr_id"), col("rank"),
        col("hamming"), col("cos_sim"))
  }

  /** Recall@k of the binary pipeline against exact brute force — the
    * q136/q143/q144 gate pattern applied to the sign-quantized codes:
    * measured, not assumed, and tunable via `candPerQuery`. */
  def hammingRecallVsBrute(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 5,
                           candPerQuery: Int = 20): DataFrame =
    Ann.recall(
      hammingTopK(spark, sfDir, nQueries, k, candPerQuery),
      Similarity.bruteForceTopK(spark, sfDir, nQueries, k))
}
