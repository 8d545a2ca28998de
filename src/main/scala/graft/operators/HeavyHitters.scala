package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Frequent-item (heavy-hitter) detection at corpus scale: a
  * Misra-Gries summary per partition finds CANDIDATES without shuffling
  * the raw stream, then one exact counting pass restricted to the
  * candidate set verifies them. The output is exactly the set of items
  * with count·k > n — deterministic, so the plain GROUP BY … HAVING
  * query is the oracle; the sketch only bounds what gets shuffled.
  *
  * Guarantee: an MG summary of capacity m undercounts any item by at
  * most n_p/(m+1) of its partition's n_p elements, so every item with
  * global frequency > n/(m+1) survives in at least one partition
  * (averaging argument: some partition sees at least its global share).
  * With m = 4k the candidate set provably contains every item above the
  * n/k cut; false candidates die in the exact pass.
  */
object HeavyHitters {

  /** Per-partition Misra-Gries candidate keys (capacity `m` counters).
    * Genuine per-partition imperative state — the documented
    * mapPartitions exception, not a driver-side loop. */
  def candidates(ds: Dataset[String], m: Int): Dataset[String] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counts.get(t) match {
          case Some(c) => counts.update(t, c + 1)
          case None if counts.size < m => counts.update(t, 1L)
          case None =>
            // decrement-all step; snapshot keys so removal is safe
            counts.keys.toArray.foreach { k =>
              val c = counts(k)
              if (c == 1L) counts.remove(k) else counts.update(k, c - 1)
            }
        }
      }
      counts.keysIterator
    }
  }

  /** Count-min sketch width of the heavy-token reports. */
  val CmsWidth = 1024

  /** The one-pass sketch + total: the CMS aggregation and the corpus
    * token count ride the SAME raw-token scan (they were two separate
    * full explodes — guide §1.2, don't run the stream twice for two
    * aggregates that combine). */
  private def sketchAndTotal(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(graft.functions.Cms.sketchAgg(col("t"), CmsWidth).as("sketch"),
        count(lit(1)).as("n_tokens"))

  /** Count-min point estimates for the heavy tokens, checked: one
    * sketch pass over the token stream (a single 4×width long array
    * crossing the wire per partition), then the estimate is a pure
    * column expression over the broadcast sketch — the frequency-oracle
    * pattern that answers "how often does X occur" at 100 TB without a
    * per-key shuffle. The CMS point
    * estimates are engine-specific (xxhash64 buckets), but the
    * guarantees they carry are exact booleans over the EXACT counts —
    * `never_under` (a count-min estimate can only overestimate) and
    * `within_bound` (est ≤ exact + c·N/[[CmsWidth]]; c = 10 keeps the per-row
    * Markov violation odds at ≤ 10⁻⁴ over the 4 sketch rows, and the
    * sketch is deterministic per corpus so the flag is stable). The
    * heavy-token row set itself is deterministic (MG candidates +
    * exact verification), so DuckDB recomputes rows and exact counts
    * and asserts the flags TRUE. */
  def heavyTokenChecked(spark: SparkSession, sfDir: String): DataFrame = {
    // one raw-token pass for sketch AND total (was two), the exact
    // heavy set from [[heavyTokens]] (itself MG pass + index probes)
    heavyTokens(spark, sfDir)
      .crossJoin(broadcast(sketchAndTotal(spark, sfDir)))
      .withColumn("cms_est",
        graft.functions.Cms.estimate(col("sketch"), col("token"), CmsWidth))
      .select(col("token"), col("cnt").as("exact_cnt"),
        (col("cms_est") >= col("cnt")).as("never_under"),
        (col("cms_est") <= col("cnt") +
          lit(10.0) * col("n_tokens") / CmsWidth).as("within_bound"))
  }

  /** KMV key-overlap estimate between two tables' key sets WITHOUT
    * joining them ([[graft.functions.Kmv]]): one map-side bottom-k (k = 1024)
    * sketch pass per side (k·8 bytes each through the shuffle,
    * whatever the table size), then the θ-intersection fold on the two
    * k-value arrays at the driver. The pre-join cardinality probe a
    * planner runs before committing to a 100 TB join: estimated
    * distincts per side, union, Jaccard (basis points), and
    * intersection, next to nothing in I/O beyond the two scans.
    * Estimates carry the standard KMV relative error ~1/√(k−2)
    * (spec-asserted against exact counts at the test scale, along with
    * partitioning invariance) — and because the sketch hash is the
    * portable md5 prefix, a DuckDB oracle rebuilds the bottom-k sets
    * and every column bit-for-bit (integer Jaccard basis points and
    * floor(x+0.5) rounding keep the arithmetic engine-exact; IEEE
    * doubles agree given the same expression order). */
  def keyOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 1024
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val agg = new graft.functions.Kmv.SketchAggregator(k).toColumn
    def sketchOf(keys: Dataset[String]): Array[Long] =
      keys.select(agg).head()
    // the two sketch scans share no dependency — submit both actions
    // concurrently so the probe costs max(scanA, scanB), not the sum
    val fa = Future(sketchOf(Tables.events(spark, sfDir)
      .select(col("user_id").cast("string")).as[String]))
    val fb = Future(sketchOf(Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("string")).as[String]))
    val a = Await.result(fa, Duration.Inf)
    val b = Await.result(fb, Duration.Inf)
    val (common, uLen, uEst) = graft.functions.Kmv.intersect(a, b, k)
    def est(x: Double): Long = math.floor(x + 0.5).toLong
    val iEst = if (uLen == 0) 0.0 else common.toDouble / uLen * uEst
    Seq((k.toLong,
      est(graft.functions.Kmv.distinctEstimate(a, k)),
      est(graft.functions.Kmv.distinctEstimate(b, k)),
      est(uEst),
      if (uLen == 0) 0L else common.toLong * 10000L / uLen,
      est(iEst)))
      .toDF("k", "est_distinct_a", "est_distinct_b", "est_union",
        "jaccard_bp", "est_intersect")
  }

  /** Corpus tokens with count·50 > n (frequency above 1/50): MG candidate
    * pass over the raw token stream (the sketch IS the operator — it
    * bounds what a 100 TB stream shuffles), then the exact counts and
    * the corpus total come from the session's term-frequency index
    * ([[graft.features.Features.materializedTermFreqs]]): per-token
    * count = Σ tf over the candidate's postings, total = Σ tf — both
    * identical to the former raw-stream counts, without re-exploding
    * the corpus twice more. */
  def heavyTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 50
    def toks = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("t"))
    val cand = candidates(toks.as[String], 4 * k)
      .toDF("token").distinct()
    val tfl = graft.features.Features.materializedTermFreqs(spark, sfDir)
    // coalesce: sum() is NULL on an empty corpus where the former
    // count(*) total was 0 — keep the 0 semantics for any consumer
    // reading n_tokens off this subtree (output is identical either
    // way: NULL would null the cnt·k > n filter to zero rows too)
    val total = tfl.agg(coalesce(sum(col("tf")), lit(0L)).as("n_tokens"))
    tfl.join(broadcast(cand), col("term") === col("token"), "left_semi")
      .groupBy(col("term").as("token"))
      .agg(sum(col("tf")).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("n_tokens"))
      .select(col("token"), col("cnt"))
  }
}
