package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** SQ8 scalar quantization — the third published vector-compression
  * family next to PQ (q135-q137/q141) and binary sign codes (q159):
  * each dimension quantizes independently to an 8-bit level between
  * the corpus-wide per-dimension min and max (the FAISS
  * `ScalarQuantizer QT_8bit` shape). 4 bytes/dim becomes 1 byte/dim
  * with far better fidelity than 1-bit signs; search is asymmetric
  * (exact query against reconstructed corpus values), the same ADC
  * idea as PQ but with a trivial per-dimension codebook.
  *
  * Scale shape: the fit is ONE aggregation producing d (min, max)
  * pairs — a d-bounded collect (64 doubles here, config-bounded at
  * any corpus size) broadcast back as literals; encode and
  * reconstruct are map-side `transform` expressions; the scan is the
  * q24 brute shape (bounded query side broadcast, corpus side
  * streaming) over 1-byte codes instead of floats. Everything
  * hash-checks: quantization is round-half-up integer arithmetic and
  * the score folds in index order, so DuckDB replays it exactly.
  *
  * SQ8 is a codec on [[Ann]]'s shared path: the quantization
  * arithmetic exists ONCE as typed Columns — [[encode]] (fit → codes)
  * and [[reconstructedDot]] (codes → reconstructed dot) — shared by
  * the flat scan (q169), the IVF-pruned scan (q173), and the encoded
  * layers, so the "pruned ≡ flat arithmetic" invariant the spec pins
  * holds by construction.
  */
object Sq {

  val Levels = 255

  /** Per-dimension (min, max) over the corpus — the whole SQ8 "model".
    * One shuffle of d-keyed partials, a d-row collect, cached per
    * (session, sfDir). */
  def fittedBounds(spark: SparkSession,
                   sfDir: String): (Seq[Double], Seq[Double]) =
    graft.Layers.value(spark, "sq8_bounds", sfDir) {
      val dims = Tables.embeddings(spark, sfDir)
        .select(posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy(col("i"))
        .agg(min(col("v").cast("double")).as("mn"),
          max(col("v").cast("double")).as("mx"))
        .orderBy(col("i")).collect()
      (dims.map(_.getDouble(1)).toSeq, dims.map(_.getDouble(2)).toSeq)
    }

  /** THE encode definition, per dimension j of `v`:
    * `round((v - min_j) / (max_j - min_j) * 255)` (half-up on
    * non-negative values: engine-portable); constant dimensions encode
    * as 0. */
  private[operators] def encode(mn: Seq[Double], mx: Seq[Double])(vec: Column): Column =
    transform(vec, (v, j) => {
      val (lo, hi) = (element_at(typedLit(mn), j + 1), element_at(typedLit(mx), j + 1))
      when(hi > lo, round((v.cast("double") - lo) / (hi - lo) * Levels, 0).cast("int"))
        .otherwise(0)
    })

  /** THE reconstruction definition: each of `codes` back to
    * `mn_j + c * (mx_j - mn_j) / 255`; constant dimensions reconstruct
    * to their min. */
  private[operators] def reconstruct(mn: Seq[Double], mx: Seq[Double])(codes: Column): Column =
    transform(codes, (c, j) => {
      val (lo, hi) = (element_at(typedLit(mn), j + 1), element_at(typedLit(mx), j + 1))
      when(hi > lo, lo + c.cast("double") * (hi - lo) / Levels).otherwise(lo)
    })

  /** THE asymmetric-distance definition: [[reconstruct]] each
    * candidate's `codes` map-side, then fold the inner product against
    * the exact query `qemb` IN INDEX ORDER from 0.0 (the oracle's
    * list_sum over an i-ordered list is the same fold), 4dp-rounded. */
  private def reconstructedDot(mn: Seq[Double], mx: Seq[Double]): Column =
    round(aggregate(zip_with(reconstruct(mn, mx)(col("codes")), col("qemb"),
      (r, qv) => r * qv.cast("double")), lit(0.0), (acc, x) => acc + x), 4)

  /** Shared serving tail over an encoded layer: the candidate join
    * (cell-pruned by `on`), scored by [[reconstructedDot]] into `sq_ip`
    * and ranked into the (qid, nbr_id, rank, sq_ip) surface. */
  private def scan(spark: SparkSession, sfDir: String, enc: DataFrame, q: DataFrame,
                   k: Int, on: Column = lit(true)): DataFrame = {
    val (mn, mx) = fittedBounds(spark, sfDir)
    Ann.ranked(Ann.candidates(enc, q, on).withColumn("sq_ip", reconstructedDot(mn, mx)),
      "sq_ip", k)
  }

  private def encodeLayer(spark: SparkSession, sfDir: String, name: String,
                          kClusters: Int): DataFrame =
    Ann.encodedLayer(spark, sfDir, name, kClusters, spread = false) { e =>
      val (mn, mx) = fittedBounds(spark, sfDir)
      e.withColumn("codes", encode(mn, mx)(col("embedding")))
    }

  /** (vec_id, codes) — the encoded corpus, via [[encode]]: the
    * [[Ann.encodedLayer]] that makes a repeated query set pay only the
    * scan. The checkpoint holds 1 int/dim/row — the compressed
    * footprint the format exists to have. */
  def encoded(spark: SparkSession, sfDir: String): DataFrame =
    encodeLayer(spark, sfDir, "sq8_encoded", 0)

  /** (vec_id, cluster, codes) — the IVF-SQ8 index: the encoded corpus
    * plus its coarse-quantizer cell, the FAISS `IVF…,SQ8` on-disk
    * shape, assigned in the same corpus pass (joining [[encoded]] to an
    * assignment frame would shuffle the corpus) so the warm serving
    * path (q173, repeated probes) pays ONLY the probed cells' scan. */
  def ivfEncoded(spark: SparkSession, sfDir: String): DataFrame =
    encodeLayer(spark, sfDir, "sq8_ivf_encoded", Ann.Cells)

  /** q169: asymmetric SQ8 top-k — exact query vectors against the
    * reconstructed corpus, ranked by the 4dp-rounded inner product
    * with a vec_id tie-break (the q24/q135 serving shape). */
  def sqTopK(spark: SparkSession, sfDir: String): DataFrame =
    scan(spark, sfDir, encoded(spark, sfDir),
      Ann.queryFrame(Tables.embeddings(spark, sfDir), Ann.NQueries, "embedding" -> "qemb"),
      Ann.TopK)

  /** q170: recall\@k of the SQ8 scan against exact brute force — the
    * measured-not-assumed gate every quantization family in the engine
    * carries (q136/q143/q144/q159's discipline). */
  def sqRecallVsBrute(spark: SparkSession, sfDir: String): DataFrame =
    Ann.recall(sqTopK(spark, sfDir), Similarity.materializedBruteTopK(spark, sfDir))

  /** q173: IVF-SQ8 — the FAISS `IVF…,SQ8` index shape: the coarse IVF
    * quantizer prunes candidates to the query's `nProbe` cells while
    * SQ8 codes compress what those candidates cost to hold and read.
    * This is the MEASURED scale path for the SQ8 family: the flat q169
    * scan is linear per corpus row by design and read 56.8× wall at
    * 100× data (BENCH_sf10, r15) — exactly the curve the IVF
    * deployment shape exists to cut to |corpus|·nProbe/k. The corpus
    * side is the [[ivfEncoded]] layer (cell + codes assigned in one
    * pass, checkpointed — repeated serving pays probes only); the
    * probe side stays a bounded broadcast (nQueries × nProbe rows)
    * with NO driver collect — probes explode distributively since SQ8
    * needs no per-query LUT. Scoring is [[reconstructedDot]] —
    * the same definition the flat scan executes — so the pruned scan
    * hash-agrees with the flat scan wherever their candidate sets
    * overlap. It probes the grid-measured [[Pq.DeployedNProbe]]. */
  def ivfSqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val centroids = Ivf.fittedCentroids(spark, sfDir, Ann.Cells, Ann.DefaultIters)
    // bounded probe frame: nQueries × nProbe rows, broadcast
    val q = Ann.probed(Ann.queryFrame(Tables.embeddings(spark, sfDir), Ann.NQueries,
      "embedding" -> "qemb"), centroids, Pq.DeployedNProbe)
    scan(spark, sfDir, ivfEncoded(spark, sfDir), q, Ann.TopK,
      col("cluster") === col("probe"))
  }

  /** q174: recall\@k of the IVF-SQ8 scan against exact brute force —
    * the gate that prices what the cell pruning costs in recall, the
    * same discipline as q143/q144 price IVF-PQ's. */
  def ivfSqRecallVsBrute(spark: SparkSession, sfDir: String): DataFrame =
    Ann.recall(ivfSqTopK(spark, sfDir), Similarity.materializedBruteTopK(spark, sfDir))
}
