package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling", arXiv:2302.03169): score
  * every raw-pool document by how much it looks like a small target
  * (high-quality) corpus under hashed n-gram bag features. The weight
  * is the log likelihood ratio Σ_f log(p_target(f)/p_raw(f)) over the
  * document's unigram+bigram features hashed into a FIXED bucket space
  * — the hashing trick is the paper's scale move: the feature
  * distributions are `buckets`-bounded however large the vocabulary
  * grows, so the model side of the computation never scales with the
  * corpus at all.
  *
  * Engine shape (100 TB-safe): one corpus scan explodes each doc's
  * grams (map-side; no join, no shuffle of text), the two count tables
  * aggregate to ≤ `buckets` rows each (map-side partial combine does
  * almost all the work), the λ table (≤ `buckets` rows of one 9dp
  * decimal) broadcasts to the scoring pass, and the only corpus-sized
  * shuffle is the final per-doc sum keyed on doc_id. Per-bucket
  * log-ratios round to 9dp DECIMAL before summation (the
  * [[TextOps.lmScore]] discipline) so per-doc weights are
  * partitioning-independent and the DuckDB oracle reproduces them
  * exactly. Feature hashing is the engine-portable
  * [[graft.functions.PolyHash64]] (the q63 fingerprint), which is what
  * lets the oracle rebuild the SAME buckets in SQL.
  *
  * Laplace smoothing (+1 over `buckets`) keeps both distributions
  * strictly positive, so raw-pool grams the target never saw score a
  * finite penalty instead of -∞. The output is the per-doc weight
  * table — the paper's resampling step composes with the engine's
  * existing samplers (q58/q93/q97) downstream.
  */
object Dsir {

  /** Fixed feature-space size. 4096 keeps the λ broadcast at ~64 KB
    * while leaving bucket collision rates low at fixture vocabularies;
    * the paper runs 10⁴ (unigram) / 10⁵+ (bigram) buckets at web scale
    * — raising it changes nothing structural, the tables stay
    * buckets-bounded. */
  val DefaultBuckets = 4096

  /** Fixture target: `src0` is the reference pool the other sources
    * are scored against. */
  val DefaultTarget = "src0"

  /** q138: importance weight of every raw-pool document against the
    * target source. Output: (doc_id, n_feats, weight).
    *
    * The gram explode (the expensive text pass — ~2 rows per token
    * before the per-doc collapse) runs ONCE: the collapsed
    * (doc_id, source, b, cnt) frame is checkpointed, and both of its
    * readers — the λ-table distribution collect and the scoring join —
    * scan the checkpoint. Without the cut the explode executed twice
    * (once under the collect, once under the returned plan). The
    * scoring shuffle carries one row per distinct (doc, bucket) pair,
    * which the fixed bucket space caps at min(doc_grams, buckets) per
    * document. */
  def importanceWeights(spark: SparkSession, sfDir: String): DataFrame =
    weightsFromCounts(
      docBucketCounts(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("text")),
        DefaultBuckets).localCheckpoint(),
      DefaultTarget, DefaultBuckets)

  /** Hashed unigram+bigram features collapsed to per-(doc_id, source,
    * bucket) counts: one text explode, one (doc_id, b)-keyed
    * aggregation whose map-side combine collapses repeated grams
    * before the shuffle. */
  private def docBucketCounts(docs: DataFrame, buckets: Int): DataFrame =
    hashedGrams(docs, buckets)
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))

  /** [[importanceWeights]] over an explicit (doc_id, source, text)
    * frame — the planted-corpus spec entry point (uncached; spec
    * corpora are throwaway). */
  private[graft] def importanceWeightsFrom(docs: DataFrame, target: String,
                                           buckets: Int): DataFrame =
    weightsFromCounts(docBucketCounts(docs, buckets), target, buckets)

  /** Core arithmetic over the collapsed gram-count frame. Identical
    * output to the former per-instance fold: summing a 9dp decimal λ
    * once per gram instance IS cnt·λ (decimal-by-integer products are
    * exact), so the unchanged DuckDB oracle still hash-matches. */
  private def weightsFromCounts(db: DataFrame, target: String,
                                buckets: Int): DataFrame = {
    require(buckets >= 2, s"need at least 2 feature buckets, got $buckets")
    val spark = db.sparkSession
    import spark.implicits._
    // BOTH feature distributions from one pass over the collapsed
    // counts: conditional sums under a single bucket-keyed aggregation
    // (map-side combine collapses to <= buckets rows per task before
    // the shuffle). The bucket table is config-bounded (<= buckets
    // rows), so it collects — the IVF-centroid discipline — and the
    // totals + λ arithmetic run on the driver instead of re-executing
    // the gram pass under the λ subtree AND the totals action.
    val bucketRows = db
      .groupBy(col("b"))
      .agg(sum(when(col("source") === target, col("cnt")).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= target, col("cnt")).otherwise(0L)).as("cr"))
      .as[(Long, Long, Long)].collect()
    val nt = bucketRows.iterator.map(_._2).sum
    val nr = bucketRows.iterator.map(_._3).sum
    // per-bucket log likelihood ratio, smoothed, 9dp-decimal — scala
    // math.log IS java.lang.Math.log, the same function Spark's log()
    // expression evaluates, and BigDecimal(double) rounds the shortest
    // decimal rep exactly like Spark's round(), so the driver-built λ
    // is bit-identical to the former distributed column (re-verified
    // against the unchanged oracle at every lake). The table covers
    // every bucket either pool observed, so every raw gram finds its
    // λ row.
    val lam = bucketRows.toSeq.map { case (b, ct, cr) =>
      val raw = math.log((ct + 1.0) / (nt + buckets.toDouble)) -
        math.log((cr + 1.0) / (nr + buckets.toDouble))
      (b, BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP))
    }.toDF("b", "lam")
      .select(col("b"), col("lam").cast(DecimalType(18, 9)).as("lam"))
    db.filter(col("source") =!= target)
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_feats"),
        // cnt as DECIMAL(10,0), not raw long: long promotes to
        // DECIMAL(20,0) and the product precision 20+18+1 = 39 blows
        // the 38 cap, losing a scale digit (observed as ulp drift vs
        // the per-instance fold); 10+18+1 = 29 stays exact
        sum(col("cnt").cast(DecimalType(10, 0)) * col("lam"))
          .cast("double").as("weight"))
  }

  /** One explode per document: unigrams ++ bigrams, hashed into the
    * fixed bucket space. Single corpus scan, purely map-side. */
  private def hashedGrams(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("source"), explode(
        when(size(col("t")) >= 2,
          concat(col("t"), expr(
            "transform(sequence(1, size(t) - 1), " +
              "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")))
          .otherwise(col("t"))).as("g"))
      .withColumn("b", pmod(graft.functions.polyHash64(col("g")),
        lit(buckets.toLong)))
      .select(col("doc_id"), col("source"), col("b"))
}
