package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Document deduplication for large-scale training-data pipelines: exact,
  * n-gram-Jaccard similarity join, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. Everything is expressed as joins/groupBys
  * on derived keys — no driver-side loops, no cartesian products — so the
  * same plans run on a 100 TB corpus: the inverted-index join shuffles on
  * shingle/band/bucket keys whose fan-in is bounded by true near-dup
  * density, not corpus size.
  */
object Dedup {

  /** Exact dedup (hash-groupBy): canonical representative per distinct
    * text = min doc_id, with the duplicate count. The group key is
    * `sha2(text, 256)` so the shuffle carries fixed-width 64-char hex
    * digests instead of document payloads — at 100 TB that is the
    * difference between shuffling the corpus and a key column. Semantics
    * identical (a 256-bit collision is beyond engineering concern),
    * and the digest is computed map-side inside codegen. */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(sha2(col("text"), 256).as("th"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select(col("keep_id"), col("dup_cnt"))

  /** 3-gram word shingles, distinct, per document — the native
    * [[graft.functions.WordShingles]] expression (one tokenize pass per
    * row; bit-identical to the declarative
    * `array_distinct(transform(...slice...))` form, spec-checked).
    * Repartitioned up front ([[Similarity.spread]]) so the
    * signature/join work parallelizes even when the local input is a
    * single small file. */
  def shingled(spark: SparkSession, sfDir: String): DataFrame =
    shingledFrom(Tables.documents(spark, sfDir))

  /** The MATERIALIZED shingle table — (doc_id, shingles) checkpointed
    * once per (session, sfDir). The whole inverted-index family reads
    * this frame (the near-pair build, q83 containment, q112
    * incremental dedup, the q79 gram pass, the MinHash signature
    * layer), and each consumer's plan references it SEVERAL times
    * (candidate explode, per-doc stats, full-array verification): the
    * q112 plan alone evaluated `word_shingles` 34 times before the
    * checkpoint. One tokenize+shingle pass, then every reference is a
    * narrow checkpoint scan — the postings-materialization step every
    * production dedup pipeline runs first. */
  def materializedShingled(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "shingled_docs", sfDir)(shingled(spark, sfDir))

  /** The MATERIALIZED DF-capped posting list — (doc_id, s) at
    * [[DefaultMaxDf]], checkpointed once per (session, sfDir): the candidate
    * self-join reads it twice and the prefilter stats once more, and
    * three operators (near-pair build, q83, q112) share the identical
    * postings — before this each reference re-ran the explode +
    * df-count + semi-join chain. */
  def materializedCappedPostings(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "capped_postings", sfDir) {
      cappedPostings(materializedShingled(spark, sfDir), DefaultMaxDf)
    }

  /** [[shingled]] over an arbitrary documents frame (`doc_id`, `text`) —
    * spec-visible so the dedup family is testable on planted corpora. */
  private[graft] def shingledFrom(docs: DataFrame): DataFrame =
    Similarity.spread(docs)
      .select(col("doc_id"), graft.functions.wordShingles(col("text"), 3).as("shingles"))
      .filter(col("shingles").isNotNull)

  /** Default document-frequency cap for the shingle posting lists that
    * feed candidate generation. A shingle shared by k documents fans out
    * k² candidate rows in the inverted-index join, so one boilerplate
    * phrase ("all rights reserved") is a shuffle-key skew bomb at corpus
    * scale while contributing ~0 similarity evidence. Shingles with
    * df > cap are dropped from CANDIDATE GENERATION ONLY; what that can
    * miss, and why no reported score moves, is stated once on
    * [[similarPairsOver]]. On the test fixtures max df = 25 (sf0.1), so 64
    * is a semantic no-op there while bounding fan-out at 100 TB. The
    * DuckDB oracles apply the identical cap. */
  val DefaultMaxDf = 64L

  /** The Jaccard threshold of the near-dup pair layer, q21's LSH verify,
    * q112's incremental dedup, and every report and cluster build over
    * them. */
  val NearDupThreshold = 0.5

  /** Round cap of [[propagateLabels]]: pointer jumping halves every
    * path per round, so 20 rounds cover chains far longer than any
    * near-dup component; a graph that needs more fails loudly instead of
    * returning half-propagated labels. */
  val MaxLabelRounds = 20

  /** Expected per-band bucket occupancy ceiling the derived SRP band
    * width targets: one more plane per band whenever doubling the
    * bucket count is needed to keep `n / 2^planes` at or below this.
    * 128 keeps the classic 6-plane width for every driver fixture
    * (n ≤ 8192 = 128·2⁶) while bounding in-bucket pair work to
    * ~n·occupancy at any corpus size — the quadratic-in-bucket blowup
    * a FIXED 64-bucket geometry hits at 1000×. */
  val SrpTargetBucketOccupancy = 128L

  /** Corpus-size ceiling of the 6-plane (48-total-plane) geometry the
    * q23 DuckDB oracle hard-codes: at or below this the derived width
    * IS 6 and the oracle replays the engine's buckets exactly; above
    * it the engine refines bands and Verify drops the oracle with a
    * named cause (the knnPinsHold pattern — the sub-quadratic path
    * must not surface as a fake hash mismatch). */
  val SrpOracleMaxVectors: Long = SrpTargetBucketOccupancy << 6 // 8192

  /** Smallest band width (≥ the classic 6) whose bucket count keeps
    * expected occupancy ≤ [[SrpTargetBucketOccupancy]]; capped at 14
    * (16 384 buckets/band — past ~2 M vectors occupancy grows again,
    * but by then per-band keys should come from a wider-band re-tuning,
    * not unbounded key width). Pure integer arithmetic — the DuckDB
    * side of any future above-ceiling oracle can replay the SAME
    * threshold ladder without floating-point log edge cases. */
  def deriveSrpPlanes(n: Long): Int = {
    var pp = 6
    while ((SrpTargetBucketOccupancy << pp) < n && pp < 14) pp += 1
    pp
  }

  // --- the set-similarity join ---

  /** THE set-similarity join over DF-capped shingle postings, one path
    * for the Jaccard pair build ([[jaccardPairs]]), containment
    * ([[TextOps.containmentPairs]]) and incremental dedup
    * ([[incrementalNew]]); q21's LSH path ([[minhashLsh]]) enters at the
    * verify step. Over a `(doc_id, shingles)` frame `sh` and its capped
    * postings `capped` ([[cappedPostings]]):
    *
    *  1. Candidates: self-join `capped` on the shingle, keeping the pairs
    *     `side(a, b)` admits (`a < b` for self pairs, `a < splitId ≤ b`
    *     for existing × incoming; Catalyst pushes a one-sided conjunct
    *     below the join), and count each pair's shared KEPT shingles `cc`
    *     in one map-side-combined groupBy (the shuffle a DISTINCT would
    *     pay, with the count kept). Fan-in is bounded by the co-occurrence
    *     of non-stop shingles, so a boilerplate shingle never blows up
    *     the shuffle.
    *  2. Prefilter: the true intersection obeys
    *     `c ≤ cmax = cc + min(ncap_a, ncap_b)` ([[docStats]]), because
    *     every shared capped-out shingle is a capped shingle of BOTH docs.
    *     `bound(cmax, n_a, n_b)` is the caller's score at `c = cmax`, and
    *     each score is monotone in c, so a pair whose bound is below
    *     `threshold - RoundSlack` cannot pass the caller's 4dp-rounded
    *     filter: the prefilter drops no pair the score keeps, and is
    *     exact when no shingle was capped. Survivors ≈ true near-dups, so
    *     the array-carrying joins touch near-dup-density rows, not
    *     candidate volume.
    *  3. Verify ([[verified]]): the exact intersection on the FULL
    *     shingle sets, so the cap never changes a reported score.
    *
    * The cap's one miss mode: a pair whose EVERY shared shingle has
    * df > cap yields no candidate, so a duplicate cluster of more than
    * [[DefaultMaxDf]] members is invisible to similarity candidate
    * generation, and that is precisely the mass-replicated boilerplate a
    * crawl dedup must catch. [[exactEdgesFrom]] closes the byte-identical
    * half of that hole (the cluster build and q112 read its edges); the
    * residual miss, NEAR-identical all-boilerplate documents, is
    * accepted. The steps never branch on their caller. */
  private def similarPairsOver(sh: DataFrame, capped: DataFrame,
                               side: (Column, Column) => Column,
                               bound: (Column, Column, Column) => Column,
                               threshold: Double): DataFrame = {
    val cand = capped.as("a").join(capped.as("b"),
        col("a.s") === col("b.s") && side(col("a.doc_id"), col("b.doc_id")))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("cc"))
    val stats = docStats(sh, capped)
    val pruned = cand
      .join(stats.as("sa"), col("doc_i") === col("sa.doc_id"))
      .join(stats.as("sb"), col("doc_j") === col("sb.doc_id"))
      .withColumn("cmax", col("cc") + least(col("sa.ncap"), col("sb.ncap")))
      .filter(bound(col("cmax"), col("sa.n"), col("sb.n")) >= threshold - RoundSlack)
      .select(col("doc_i"), col("doc_j"))
    verified(pruned, sh)
  }

  /** [[similarPairsOver]] on the lake: the session's `shingled_docs` and
    * `capped_postings` layers. */
  private[operators] def similarPairs(spark: SparkSession, sfDir: String,
                                      side: (Column, Column) => Column,
                                      bound: (Column, Column, Column) => Column,
                                      threshold: Double): DataFrame =
    similarPairsOver(materializedShingled(spark, sfDir),
      materializedCappedPostings(spark, sfDir), side, bound, threshold)

  /** [[similarPairsOver]] on a planted `(doc_id, shingles)` frame, its
    * postings capped at `maxDf` inline (`Long.MaxValue` is the uncapped
    * reference the specs compare against). */
  private[operators] def similarPairsFrom(sh: DataFrame, maxDf: Long,
                                          side: (Column, Column) => Column,
                                          bound: (Column, Column, Column) => Column,
                                          threshold: Double): DataFrame =
    similarPairsOver(sh, cappedPostings(sh, maxDf), side, bound, threshold)

  /** The `(doc_id, s)` postings of a `(doc_id, shingles)` frame with the
    * document-frequency cap applied: df per shingle as a groupBy-count
    * (map-side partial aggregation collapses the hot shingle to one row
    * per mapper — never k rows spilling in one window partition), then
    * a semi-join keeps postings of surviving shingles. Linear in
    * postings; the hot shingle costs one combined count row per task,
    * never k² join output. */
  private def cappedPostings(sh: DataFrame, maxDf: Long): DataFrame = {
    val tok = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val keep = tok.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("s"))
    tok.join(keep, Seq("s"), "left_semi")
  }

  /** 4dp HALF_UP rounding can lift a ratio by just under 5e-5, so the
    * prefilter compares its bound against `threshold - RoundSlack`. */
  private val RoundSlack = 5e-5

  /** Per-doc shingle-count stats for the prefilter: total shingles `n`
    * and the number of CAPPED-OUT (df > cap) shingles `ncap`. Narrow
    * (three longs per doc); derived from frames the plan already
    * computes. */
  private def docStats(sh: DataFrame, capped: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
      .join(capped.groupBy(col("doc_id")).agg(count(lit(1)).as("nk")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n"),
        (col("n") - coalesce(col("nk"), lit(0L))).as("ncap"))

  /** The verify step: pairs `(doc_i, doc_j)` joined to both docs' FULL
    * shingle sets, with the exact intersection size `c`
    * (`array_intersect`) and the two set sizes, as
    * `(doc_i, doc_j, c, ni, nj)`. Each caller applies its own score and
    * output shape. */
  private def verified(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val full = sh.select(col("doc_id"), col("shingles"))
    pairs
      .join(full.as("na"), col("doc_i") === col("na.doc_id"))
      .join(full.as("nb"), col("doc_j") === col("nb.doc_id"))
      .select(col("doc_i"), col("doc_j"),
        size(array_intersect(col("na.shingles"), col("nb.shingles"))).as("c"),
        size(col("na.shingles")).as("ni"), size(col("nb.shingles")).as("nj"))
  }

  /** `c / (na + nb - c)`, the Jaccard of two sets of sizes `na`, `nb`
    * that share `c` elements: the near-dup prefilter's bound at `cmax`
    * and, rounded to 4dp, the verified score at `c`. */
  private val jaccardRatio: (Column, Column, Column) => Column =
    (c, na, nb) => c.cast("double") / (na + nb - c)

  /** Verified pairs scored by 4dp Jaccard and kept at
    * [[NearDupThreshold]]: `(doc_i, doc_j, jaccard)`. */
  private def jaccardKept(pairs: DataFrame): DataFrame =
    pairs.withColumn("jaccard", round(jaccardRatio(col("c"), col("ni"), col("nj")), 4))
      .filter(col("jaccard") >= NearDupThreshold)
      .select(col("doc_i"), col("doc_j"), col("jaccard"))

  /** Exact n-gram Jaccard near-dup pairs at [[NearDupThreshold]]: the
    * set-similarity join ([[similarPairsOver]]) over self pairs, bounded
    * and scored by |A∩B| / (|A|+|B|-|A∩B|). Read through the `near_pairs`
    * layer ([[materializedNearPairs]]). */
  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    jaccardKept(similarPairs(spark, sfDir, _ < _, jaccardRatio, NearDupThreshold))

  /** [[jaccardPairs]] over a planted `(doc_id, shingles)` frame at cap
    * `maxDf` — spec-visible so the stop-shingle guard is testable. */
  private[graft] def jaccardPairsFrom(sh: DataFrame, maxDf: Long): DataFrame =
    jaccardKept(similarPairsFrom(sh, maxDf, _ < _, jaccardRatio, NearDupThreshold))

  /** The MATERIALIZED verified near-dup pair layer (`near_pairs`):
    * [[jaccardPairs]] computed once per (session, sfDir) and re-entered
    * as a checkpointed frame. Three consumers read the identical pair
    * set — the q20 report, the q156 flow matrix, and the cluster-label
    * build — and before this
    * layer each re-ran the full shingle-join + verification pass
    * (q156 alone paid ~3 s of the ~4 s the bench charged it). The
    * pair frame is near-dup-density-bounded, so the checkpoint is
    * tiny relative to the corpus at any scale. */
  def materializedNearPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "near_pairs", sfDir)(jaccardPairs(spark, sfDir))

  /** q156: the cross-source duplicate-flow matrix — for every
    * unordered source pair, how many verified near-dup pairs
    * ([[jaccardPairs]]) and exact-duplicate star edges
    * ([[exactEdgesFrom]], group-min → member) connect them. The
    * provenance diagnostic a curation team reads before dropping or
    * reweighting a source: a hot off-diagonal cell means one source
    * syndicates another's content. The two channels are reported
    * side by side exactly as their parent operators define them (an
    * identical-text pair that survives the DF cap and involves its
    * group min appears in both — the channels are counts of their
    * operators' outputs, not a partition of pair-space).
    *
    * Scale shape: both pair channels arrive bounded (near-dup density
    * / duplicate-group fan-out); attaching sources is two doc-keyed
    * equi-joins against the narrow (doc_id, source) projection, and
    * the matrix aggregation is sources²-bounded with map-side
    * combine. */
  def dupFlowMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    def matrix(pairs: DataFrame, as: String): DataFrame = pairs
      .join(src.toDF("doc_i", "src_i"), "doc_i")
      .join(src.toDF("doc_j", "src_j"), "doc_j")
      .select(least(col("src_i"), col("src_j")).as("source_a"),
        greatest(col("src_i"), col("src_j")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as(as))
    matrix(materializedNearPairs(spark, sfDir)
        .select(col("doc_i"), col("doc_j")), "n_near")
      .join(matrix(materializedExactEdges(spark, sfDir)
        .select(col("doc_i"), col("doc_j")), "n_exact"),
        Seq("source_a", "source_b"), "full_outer")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
  }

  /** q163: train/test split leakage audit — for every unordered split
    * pair, how many verified near-dup pairs and exact-duplicate star
    * edges cross it. The check behind "dedup BEFORE splitting": a
    * near-duplicate of a training document sitting in the test split
    * inflates every evaluation metric (Lee et al. 2022 measured the
    * effect directly), and this is the query that finds those pairs
    * using the SAME split hash the pipeline splits by (q81) and the
    * SAME pair channels the dedup layer materializes (q20/q156). Rows
    * with `leaked = true` and nonzero counts are the finding.
    *
    * Scale shape: identical to [[dupFlowMatrix]] on the pair side —
    * both channels arrive bounded from their layers — and STRICTLY
    * cheaper on the split side: the split is [[Analytics.splitOf]]
    * evaluated map-side on doc_i/doc_j (the q81 hash is a pure
    * function of the key), so no corpus-sized assignment frame ever
    * joins or shuffles. The matrix aggregation is splits²-bounded. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    import Analytics.splitOf
    def matrix(pairs: DataFrame, as: String): DataFrame = pairs
      .select(least(splitOf(col("doc_i")), splitOf(col("doc_j"))).as("split_a"),
        greatest(splitOf(col("doc_i")), splitOf(col("doc_j"))).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as(as))
    matrix(materializedNearPairs(spark, sfDir)
        .select(col("doc_i"), col("doc_j")), "n_near")
      .join(matrix(materializedExactEdges(spark, sfDir)
        .select(col("doc_i"), col("doc_j")), "n_exact"),
        Seq("split_a", "split_b"), "full_outer")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (col("split_a") =!= col("split_b")).as("leaked"))
  }

  /** q166: MinHash estimator-accuracy gate — for every VERIFIED
    * near-dup pair, the signature-agreement estimate of Jaccard
    * (matching slots / 64, the Broder 1997 estimator the q21 LSH
    * banding is built on) next to the exact Jaccard the pair layer
    * verified, plus the absolute error. The q136/q143/q144-style
    * "measured, not assumed" discipline applied to the dedup family:
    * LSH recall math PREMISES that slot agreement concentrates on the
    * true Jaccard; this query measures that premise on the corpus
    * instead of citing it (E[est] = J, σ = √(J(1−J)/64) ≈ 0.06 at
    * J = 0.5).
    *
    * Scale shape: the pair channel arrives bounded from the
    * `near_pairs` layer; signatures are the same map-side expression
    * work as q21 (zero shuffle until the doc-keyed join), each join
    * pulls one 64-slot array, and the agreement count is a native
    * zip_with/aggregate fold — O(64) per pair, no explode. */
  def minhashEstimateGate(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = minhashSignatures(spark, sfDir).select(col("doc_id"), col("sig"))
    val est = round(col("n_agree").cast("double") / NumHashes, 4)
    materializedNearPairs(spark, sfDir)
      .select(col("doc_i"), col("doc_j"), col("jaccard"))
      .join(sigs.toDF("doc_i", "sig_i"), "doc_i")
      .join(sigs.toDF("doc_j", "sig_j"), "doc_j")
      .withColumn("n_agree", expr(
        "CAST(aggregate(zip_with(sig_i, sig_j, (x, y) -> IF(x = y, 1, 0)), " +
          "0, (acc, v) -> acc + v) AS BIGINT)"))
      .select(col("doc_i"), col("doc_j"), col("jaccard"), col("n_agree"),
        est.as("est_jaccard"),
        round(abs(est - col("jaccard")), 4).as("abs_err"))
  }

  // --- MinHash + LSH ---
  // 64 hash functions realized as the engine-portable affine family
  // over P = 2^31-1 with an md5-derived base ([[graft.functions
  // .PortableHash]]): slot i is (a_i * (hex60(md5(s)) mod P) + b_i)
  // mod P, every operand < 2^31 so products stay under 2^62 (legal
  // under ANSI mode, Spark 4 default) — and a DuckDB oracle recomputes
  // the identical signatures, bands, and candidate set from md5 alone
  // (the q21 correctness row is a full hash check, not rows-only).
  // 16 bands × 4 rows: for a pair at Jaccard 0.8 the detection
  // probability is 1-(1-0.8^4)^16 ≈ 0.9997; candidates are then
  // verified with the exact Jaccard, so output = exact pairs (with
  // that recall).

  private val NumHashes = 64
  private val Bands = 16
  private val RowsPerBand = 4

  /** MinHash signature per doc: all map-side expression work — zero
    * shuffle until banding. */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "minhash_sigs", sfDir) {
      // checkpointed: q21's banding plan references the signature frame
      // four times (two band sides, two verification sides) and q166
      // reads it twice more — each reference re-ran the 64-slot MinHash
      // over every shingle of every doc before this
      materializedShingled(spark, sfDir)
        .withColumn("sig", graft.functions.minhashSig(col("shingles"), NumHashes))
        .select(col("doc_id"), col("shingles"), col("sig"))
    }

  /** LSH banding → candidate pairs → the set-similarity join's exact
    * verify ([[verified]]), kept at [[NearDupThreshold]]. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = minhashSignatures(spark, sfDir)
    val bands = sigs.select(col("doc_id"), explode(transform(sequence(lit(0), lit(Bands - 1)),
        j => struct(j.as("band"),
          xxhash64(slice(col("sig"), j * RowsPerBand + 1, lit(RowsPerBand))).as("bh"))))
        .as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"))
      .distinct()
    jaccardKept(verified(cand, sigs))
  }

  // --- SimHash ---
  // 60-bit signature ([[graft.functions.SimHash60]]): bit b is the sign
  // of sum over shingles of (+1 if bit b of hex60(md5(shingle)) else
  // -1) — md5-derived so a DuckDB oracle recomputes signatures and
  // bands bit-for-bit (q22 is a full hash check). Near-dup iff hamming
  // distance <= maxHamming; candidate generation shares 15-bit bands so
  // the pair join never goes cartesian.

  def simhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    shingled(spark, sfDir)
      .withColumn("simhash", graft.functions.simhash60(col("shingles")))
      .select(col("doc_id"), col("simhash"))

  /** Corpus-size ceiling of the classic 4×15-bit banding: expected
    * bucket occupancy reaches [[SrpTargetBucketOccupancy]] at
    * 128·2¹⁵ ≈ 4.2 M docs. Below it the single-band tables are the
    * cheaper exact scheme (4 keys/doc); above it [[simhashPairs]]
    * switches to the Manku-style 20-table scheme — and the q22 oracle
    * stays valid THROUGH the switch, because both schemes are exact at
    * hamming ≤ 3 and the final filtered pair set is scheme-independent
    * (spec-pinned equality). */
  val SimHashClassicMaxDocs: Long = SrpTargetBucketOccupancy << 15

  /** The two exact candidate schemes as slice tables: per table, the
    * (shift, width) signature slices whose concatenation is that
    * table's bucket key. Classic = 4 single-band tables of 15 bits
    * (pigeonhole: ≤ 3 flips touch ≤ 3 of 4 bands → some band matches).
    * Manku (WWW'07) = 6 bands of 10 bits, one table per 3-of-6 band
    * combination (C(6,3) = 20): ≤ 3 flips touch ≤ 3 bands, so some
    * UNTOUCHED 3-subset matches on its full 30-bit key — 2¹⁵ → 2³⁰
    * buckets, occupancy back to negligible at billions of docs, same
    * equi-join shape, 20 keys/doc instead of 4. */
  private[operators] val SimHashClassicTables: Seq[Seq[(Int, Int)]] =
    (0 until 4).map(j => Seq((15 * j, 15)))
  private[operators] val SimHashMankuTables: Seq[Seq[(Int, Int)]] =
    (0 until 6).combinations(3).map(_.map(b => (10 * b, 10)).toSeq).toSeq

  /** Document pairs within hamming distance 3 of each other's simhash. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // Scheme derivation — the deriveSrpPlanes discipline for the
    // hamming family: both schemes have FULL recall at hamming ≤ 3
    // (banding is exact, so the filtered output is identical either
    // way — the oracle needs no guard), the choice is purely a bucket-
    // occupancy cost decision.
    val useManku = Tables.countOf(spark, sfDir, "documents") > SimHashClassicMaxDocs
    simhashPairsScheme(simhashSignatures(spark, sfDir),
      if (useManku) SimHashMankuTables else SimHashClassicTables, 3)
  }

  /** Banded candidate join + exact hamming verify over an explicit
    * slice-table scheme — package-visible so the scheme-equality spec
    * can force the Manku tables on a fixture-sized corpus. */
  private[operators] def simhashPairsScheme(sig: DataFrame,
      tables: Seq[Seq[(Int, Int)]], maxHamming: Int): DataFrame = {
    val keys = tables.zipWithIndex.map { case (slices, t) =>
      var off = 0
      val key = slices.map { case (shift, width) =>
        val part = shiftright(col("simhash"), shift)
          .bitwiseAND(lit((1L << width) - 1))
        val placed = shiftleft(part, off)
        off += width
        placed
      }.reduce(_ bitwiseOR _)
      struct(lit(t).as("band"), key.as("bh"))
    }
    val bands = sig
      .select(col("doc_id"), col("simhash"), explode(array(keys: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band"), col("b.bh"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over the near-dup pair graph, via iterative
    * min-label propagation: every doc starts labeled with its own id;
    * each round adopts the minimum label among itself and its direct
    * neighbors; fixpoint = components. This is the standard distributed
    * formulation (the bounded-round core of large-star/small-star) —
    * each round is one keyed join + one aggregation, state is one label
    * per node, and rounds needed = graph diameter (near-dup clusters
    * are near-cliques, so 2-3 rounds in practice). No driver-side graph
    * materialization.
    *
    * Output: `(doc_id, cluster_id)` for every document; singletons are
    * their own cluster. `cluster_id` = min doc_id of the component —
    * the canonical representative, which is what a keep-one dedup pass
    * keys on. */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersOf(Tables.documents(spark, sfDir), materializedNearPairs(spark, sfDir),
      materializedExactEdges(spark, sfDir))

  /** [[nearDupClusters]] over an arbitrary documents frame, building its
    * own pairs and edges — spec-visible so the DF-cap ∪ exact-edge
    * interplay is testable on planted mass-duplicated corpora. */
  private[graft] def nearDupClustersFrom(docs: DataFrame): DataFrame =
    clustersOf(docs, jaccardPairsFrom(shingledFrom(docs), DefaultMaxDf), exactEdgesFrom(docs))

  /** `(doc_id, cluster_id)` for every doc of `docs`: the components of
    * the near-dup `pairs` UNION the exact-duplicate star edges
    * ([[exactEdgesFrom]]), so mass-replicated identical docs cluster even
    * when every shingle is DF-capped. Labels propagate over edge
    * endpoints only; every other doc is attached as its own cluster by
    * one left join. */
  private def clustersOf(docs: DataFrame, pairs: DataFrame, exactEdges: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(propagateLabels(pairs.select(col("doc_i"), col("doc_j")).unionByName(exactEdges)),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))

  /** The MATERIALIZED exact-duplicate star edges — duplicate-group-
    * bounded, computed once per (session, sfDir): the cluster-label
    * build, q156's flow matrix and q163's leakage audit read the
    * identical edge set; before this each re-paid the sha2 group pass
    * over the corpus. */
  def materializedExactEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "exact_edges", sfDir) {
      exactEdgesFrom(Tables.documents(spark, sfDir))
    }

  /** Star edges connecting each EXACT-duplicate group (identical text):
    * group min doc_id → every other member. These bypass the shingle
    * DF-cap: a 1000-copy boilerplate page has every shingle above any
    * df cap, so similarity candidate generation (correctly, for
    * shuffle-skew reasons) emits nothing for it — but its members are
    * still duplicates and must cluster. Unioning the exact edges into
    * the near-dup graph closes the identical-copy half of the
    * stop-shingle recall hole; the residual miss (near-identical but
    * not byte-identical all-boilerplate docs) is documented on
    * [[similarPairsOver]]. One groupBy over the corpus, keyed on
    * `sha2(text, 256)` — both the aggregation and the member join
    * shuffle fixed-width hex digests, never document payloads, so the
    * edge pass stays narrow at 100 TB. */
  private[graft] def exactEdgesFrom(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"), sha2(col("text"), 256).as("th"))
    val groups = keyed.groupBy(col("th"))
      .agg(min(col("doc_id")).as("doc_i"), count(lit(1)).as("grp_n"))
      .filter(col("grp_n") >= 2)
      .select(col("th"), col("doc_i"))
    keyed.join(groups, Seq("th"))
      .filter(col("doc_id") =!= col("doc_i"))
      .select(col("doc_i"), col("doc_id").as("doc_j"))
  }

  /** The MATERIALIZED cluster-label layer: [[nearDupClusters]] computed
    * once per (session, sfDir) and re-entered as a
    * checkpointed frame. In a real pipeline the dedup labels are written
    * once and every downstream consumer reads the materialization — the
    * round-5 anti-pattern was q62 re-running the whole shingle join +
    * label propagation that q60 had just produced. Consumers
    * ([[clusterKeep]], [[TextOps.corpusFilter]]) build on this frame, so
    * their plans contain ZERO shingle explodes (plan-audited). */
  def materializedClusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "dedup_clusters", sfDir)(nearDupClusters(spark, sfDir))

  /** Connected-component labels for an arbitrary undirected edge list
    * `(doc_i, doc_j)`: per round, each node takes the min label among
    * itself and its neighbors, then POINTER-JUMPS (adopts its label's
    * label) — the path-halving trick that turns diameter-bound
    * convergence into O(log diameter), so a pathological duplicate
    * CHAIN converges just as fast as a clique. One keyed join per step,
    * label state only for edge endpoints; at most [[MaxLabelRounds]]
    * rounds. */
  private[graft] def propagateLabels(edges: DataFrame): DataFrame = {
    // undirected: propagate both ways
    val bidir = edges.unionByName(
        edges.select(col("doc_j").as("doc_i"), col("doc_i").as("doc_j")))
      .localCheckpoint() // pairs are tiny relative to corpus; cut the lineage once
    // Only edge endpoints can ever change label — iterate over THAT set
    // (near-dup density × 2, not corpus size); every other doc is a
    // singleton attached by one left join at the end.
    var labels = bidir.select(col("doc_i").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
    var round = 0
    var converged = false
    while (!converged && round < MaxLabelRounds) {
      val neighborMin = bidir
        .join(labels.withColumnRenamed("doc_id", "nbr"), col("doc_j") === col("nbr"))
        .groupBy(col("doc_i")).agg(min(col("lbl")).as("nlbl"))
      val stepped = labels.join(neighborMin, labels("doc_id") === neighborMin("doc_i"), "left")
        .select(labels("doc_id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jump: lbl ← lbl(lbl). Labels only ever shrink toward the
      // component min, so composing two hops per round is safe and
      // halves the remaining path each time.
      val parents = stepped.select(col("doc_id").as("p_id"), col("lbl").as("p_lbl"))
      // the round's OLD label rides along into the checkpoint, so the
      // convergence test below is a narrow scan of the frame the round
      // materializes anyway — the former labels-join probe re-shuffled
      // both label frames once per round just to compare them
      val next = stepped.join(parents, stepped("lbl") === col("p_id"), "left")
        .select(stepped("doc_id"), col("old"),
          least(stepped("lbl"), coalesce(col("p_lbl"), stepped("lbl"))).as("lbl"))
        .localCheckpoint() // truncate the iterative lineage each round
      val changed = next.filter(col("lbl") =!= col("old")).limit(1).count()
      labels = next.select(col("doc_id"), col("lbl"))
      converged = changed == 0
      round += 1
    }
    require(converged, s"label propagation did not converge in $MaxLabelRounds rounds")
    labels
  }

  /** INCREMENTAL near-dup dedup — the nightly-crawl shape: a new batch
    * arrives and must be deduplicated against the EXISTING corpus, not
    * against itself (intra-batch dups are a separate [[clusterKeep]]
    * pass). Keeps each incoming document unless it near-dups (Jaccard ≥
    * [[NearDupThreshold]]) some existing document.
    *
    * Scale shape: the set-similarity join ([[similarPairsOver]]) with the
    * cross-split side rule `existing < splitId ≤ incoming` in place of
    * the self-pair rule, so the candidate join is existing × incoming on
    * the shingle key and the incoming side is batch-sized, not
    * corpus-sized. Documents too short to shingle cannot collide and
    * pass straight through (the left-anti keeps them — no explode for
    * them at all). At 100 TB the existing side's postings (and their df
    * counts) come from the materialized shingle index a production
    * pipeline maintains; here both sides derive from the same table
    * split on doc_id, so df is counted over the combined corpus.
    *
    * BYTE-IDENTICAL incoming copies are rejected via the exact-
    * duplicate star edges ([[exactEdgesFrom]], the session's
    * `exact_edges` layer): an incoming doc duplicates an existing one
    * exactly when it appears as a `doc_j` whose group representative
    * `doc_i` (the group's MIN doc_id) is on the existing side — the same
    * cross-split rule — since any group containing an existing member
    * has an existing minimum (set-identical to a `sha2(text, 256)`
    * semi-join against the existing side, spec-pinned). Without the
    * bypass, an incoming copy of a boilerplate group with more than
    * [[DefaultMaxDf]] members shares only capped shingles, generates no
    * similarity candidate, and would survive as "new". */
  def incrementalNew(spark: SparkSession, sfDir: String): DataFrame = {
    val splitId = 250L
    incrementalNewCore(Tables.documents(spark, sfDir),
      similarPairs(spark, sfDir, crossSplit(splitId), jaccardRatio, NearDupThreshold),
      materializedExactEdges(spark, sfDir), splitId)
  }

  /** [[incrementalNew]] over an arbitrary `(doc_id, text, n_chars)`
    * frame — spec-visible so the exact-dup bypass and the DF-cap
    * interplay are testable on planted mass-duplicated corpora. */
  private[graft] def incrementalNewFrom(docs: DataFrame, splitId: Long): DataFrame =
    incrementalNewCore(docs,
      similarPairsFrom(shingledFrom(docs), DefaultMaxDf, crossSplit(splitId), jaccardRatio,
        NearDupThreshold),
      exactEdgesFrom(docs), splitId)

  /** The pair-side rule of incremental dedup: `a` existing, `b` incoming. */
  private def crossSplit(splitId: Long): (Column, Column) => Column =
    (a, b) => a < splitId && b >= splitId

  /** Incoming docs (`doc_id >= splitId`) that are neither in a verified
    * near-dup pair nor an exact copy of an existing doc. */
  private def incrementalNewCore(docs: DataFrame, pairs: DataFrame, exactEdges: DataFrame,
                                 splitId: Long): DataFrame = {
    val dupIncoming = jaccardKept(pairs).select(col("doc_j").as("doc_id")).distinct()
    // each member appears at most once as doc_j, matching a semi-join's
    // one-row-per-doc output (equivalence spec-pinned)
    val exactDupIncoming = exactEdges
      .filter(crossSplit(splitId)(col("doc_i"), col("doc_j")))
      .select(col("doc_j").as("doc_id"))
    // no distinct over the union: left_anti ignores right-side
    // multiplicity, and a doc on both lists (exact copy that also
    // near-dups) appears at most twice
    docs
      .filter(col("doc_id") >= splitId)
      .join(dupIncoming.unionByName(exactDupIncoming),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Keep-one-per-cluster summary: the canonical doc and how many it
    * absorbs — the materialized form a dedup pass writes. Reads the
    * [[materializedClusters]] layer: a cluster with n >= 2 members
    * consists entirely of pair endpoints, singletons form n = 1 groups
    * and fall to the HAVING filter — identical output to counting the
    * edge-node label set alone, without re-running the clustering. */
  def clusterKeep(spark: SparkSession, sfDir: String): DataFrame =
    materializedClusters(spark, sfDir)
      .groupBy(col("cluster_id").as("keep_id"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2) // clusters that actually deduplicate

  /** Fuzzy entity matching with blocking — the edit-distance member of
    * the dedup family (catalogue/entity-resolution shape): dedupe to
    * DISTINCT names first (vocabulary-bounded, not row-bounded), block
    * on the first token, and run `levenshtein` only inside blocks — so
    * the pair space is Σ|block|², never |names|², and row multiplicity
    * rides along as counts instead of exploding the join. */
  def fuzzyNamePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", split(col("p_name"), " ")(0))
    val a = names.select(col("blk"), col("p_name").as("name_a"),
      col("n_parts").as("n_parts_a"))
    val b = names.select(col("blk"), col("p_name").as("name_b"),
      col("n_parts").as("n_parts_b"))
    a.join(b, "blk")
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"),
        col("n_parts_a"), col("n_parts_b"))
  }

  /** Embedding-cosine near-dup, EXACT all-pairs form: the spec-side
    * recall oracle for [[embeddingPairsBucketed]], quadratic by
    * construction — never the queries-map entry (a cartesian product
    * dies at corpus scale). */
  def embeddingPairs(spark: SparkSession, sfDir: String, threshold: Double): DataFrame = {
    val e = Similarity.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"),
        Similarity.l2norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim", round(
        Similarity.dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos_sim") >= threshold)
      .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"), col("cos_sim"))
  }

  /** Embedding-cosine near-dup, the SCALE path (the q23 queries entry):
    * banded sign-random-projection candidate generation + exact cosine
    * verify — the embedding-space analog of [[minhashLsh]]'s
    * band-bucket-verify shape. One portable 48-bit SRP signature per
    * vector ([[graft.functions.PortableSrpSig]] — integer-arithmetic
    * weights, so the DuckDB oracle recomputes the SAME buckets and the
    * bucket-restricted result stays hash-comparable); 8 bands × 6
    * planes; candidates join on (band, 6-bit key), so the shuffle key
    * is the band bucket and no non-colliding pair is ever materialized.
    *
    * Approximate by design: a qualifying pair in no shared band is
    * missed. With 6-plane bands the per-band collision odds for a pair
    * at angle θ are `(1−θ/π)⁶`, so detection = `1−(1−(1−θ/π)⁶)⁸` ≈ 0.90
    * at cos 0.8 (true near-dups) but only ≈ 0.3 at the demo threshold
    * 0.4 — cos 0.4 is 66°, nearly orthogonal, a regime where ANY LSH
    * family prunes weakly (recall floor spec-asserted against the exact
    * all-pairs form). Candidate volume on the near-random synthetic
    * corpus ≈ bands/2^planes ≈ 13% of all pairs; on a real corpus with
    * actual near-dup structure the collision mass concentrates in the
    * duplicate clusters, which is what makes the shape scale.
    *
    * `planesPerBand = 0` (the q23 default) DERIVES the band width from
    * the corpus — the [[graft.operators.Ivf.deriveK]] /
    * [[Similarity.deriveNProbe]] discipline: at a FIXED width the
    * per-band bucket count is constant, so in-bucket pair work grows
    * quadratically with the corpus (5 k vectors / 64 buckets ≈ 78 per
    * bucket, but 5 M / 64 ≈ 78 k → ~3×10⁹ in-bucket pairs per band —
    * the 1000× scale-killer). [[deriveSrpPlanes]] widens bands one
    * plane at a time so expected occupancy stays ≤
    * [[SrpTargetBucketOccupancy]]; each extra plane halves occupancy at
    * the cost of one more sign-agreement factor on recall (the standard
    * LSH r/b trade). At or below [[SrpOracleMaxVectors]] the derived
    * width IS the classic 6 — every driver fixture sits there, which is
    * what keeps the DuckDB oracle's hard-coded 48-plane replay valid;
    * Verify drops the q23 oracle above the ceiling with a named cause
    * (the knnPinsHold pattern). Band keys come from one per-band
    * offset signature ([[graft.functions.PortableSrpSig]] with
    * `planeOffset = band·width` — bit-identical to slicing one packed
    * signature at the default width, spec-pinned, but not limited to
    * 64 total planes). */
  def embeddingPairsBucketed(spark: SparkSession, sfDir: String, threshold: Double): DataFrame = {
    val raw = Tables.embeddings(spark, sfDir)
    val base = Similarity.spread(raw)
    // Derive from the session-cached RAW table count (one metadata-read
    // job per (session, sfDir), free on repeats) — never through
    // `spread`'s repartition, which would execute a full shuffle of the
    // vector payload just to be thrown away (repartition preserves
    // cardinality, so the value is equal).
    val pp = deriveSrpPlanes(Tables.countOf(spark, sfDir, "embeddings"))
    val e = base
      .select(col("vec_id"), col("embedding"),
        Similarity.l2norm(col("embedding")).as("nrm"))
    // the banding table is SELF-JOINED below — without a cut both join
    // sides re-run the full SRP encode + the corpus scan (the plan had
    // two identical encode subtrees). Checkpoint the narrow
    // (vec_id, band, bkey) frame once: the LSH index is built once and
    // probed from both sides, the aucPerPolicyApprox precedent.
    val bk = srpBandKeys(e, pp, 8).localCheckpoint()
    val cand = bk.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_i"), col("y.vec_id").as("vec_j"))
      .distinct()
    val v = e.select(col("vec_id"), col("embedding"), col("nrm"))
    cand
      .join(v.as("na"), col("vec_i") === col("na.vec_id"))
      .join(v.as("nb"), col("vec_j") === col("nb.vec_id"))
      .withColumn("cos_sim", round(
        Similarity.dot(col("na.embedding"), col("nb.embedding")) /
          (col("na.nrm") * col("nb.nrm")), 4))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_i"), col("vec_j"), col("cos_sim"))
  }

  /** The SRP banding frame `(vec_id, band, bkey)` BEFORE the
    * checkpoint cut — package-visible so the plan audit can pin the
    * portable signature expression (the serving plan only shows the
    * checkpointed index scan). */
  private[graft] def srpBandKeys(e: DataFrame, pp: Int, bands: Int): DataFrame = {
    val bandKeys = (0 until bands).map(b => struct(lit(b).as("band"),
      graft.functions.srpSigPortable(col("embedding"), pp, b * pp).as("bkey")))
    e.select(col("vec_id"), explode(array(bandKeys: _*)).as("b"))
      .select(col("vec_id"), col("b.band"), col("b.bkey"))
  }

  /** Window width (tokens) for [[dupSpans]] — the `k` of Lee et al.
    * 2022 (arXiv:2107.06499): a token range counts as duplicated when
    * every k-token window inside it occurs at least twice in the
    * corpus. 8 keeps the gram selective (trigram shingles are the
    * near-dup/candidate grain; substring dedup wants a stricter one). */
  val DupSpanGram = 8

  /** SUBSTRING-level dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): per document, every maximal
    * token range whose k-token windows each occur ≥ 2 times anywhere in
    * the corpus — other documents or the same one, so cross-copy
    * boilerplate AND intra-doc repetition both surface. The suffix-array
    * formulation of the paper is replaced by the engine's inverted-index
    * discipline: positional k-grams, a corpus-wide occurrence count on
    * the gram, and a per-document gaps-and-islands merge of the
    * surviving positions (windows overlapping in token space — gap ≤
    * k−1 — fuse into one span, the paper's maximal-match semantics).
    *
    * Scale shape: the positional-gram stream shuffles on truncated
    * `sha2` digests (the first 16 BYTES of the SHA-256 — never text,
    * the [[exact]] discipline, and 4× narrower than the hex string:
    * at cluster scale the gram key is most of the shuffled bytes;
    * grouping by a 128-bit truncation ≡ grouping by gram modulo
    * collisions that remain birthday-bounded below ~2^64 grams). The
    * corpus-wide occurrence test is a count window over the gram key
    * fused into the SAME pass that generates the grams — the stream is
    * scanned once and shuffled once (a groupBy + semi-join probe either
    * recomputes the gram projection for the probe side under AQE's
    * broadcast, or sorts the identical rows by `g` under SMJ: measured
    * 2.1× slower at the 10× lake for no skew benefit, since SMJ's sort
    * spills the same hot-gram rows the window buffers). A
    * boilerplate gram occurring B times buffers B positional rows in
    * one spill-capable window task — the same rows any formulation
    * must co-locate to count them. The islands merge is a per-document
    * window — millions of independent keys, no global sort. Output
    * rows are bounded by true duplication density, not corpus size. */
  def dupSpans(spark: SparkSession, sfDir: String): DataFrame =
    materializedDupSpans(spark, sfDir)

  /** The MATERIALIZED span layer: [[dupSpansFrom]] computed once per
    * (session, sfDir) and re-entered as a checkpointed frame — the
    * [[materializedClusters]] discipline. In a real pipeline the span
    * table is written once and every consumer reads it: the finder
    * (q133) and the stripper (q134) otherwise each re-run the full
    * gram pass in the same session. Bench reports the build under the
    * `dup_spans` layer key, separately from both consumers. */
  def materializedDupSpans(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "dup_spans", sfDir)(dupSpansFrom(Tables.documents(spark, sfDir)))

  /** [[dupSpans]] over an explicit corpus frame (`doc_id`, `text`) —
    * the planted-corpus spec entry point. */
  def dupSpansFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = DupSpanGram
    val pos = docs
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("t")) - (k - 1)),
        i => struct(i.as("pos"),
          substring(unhex(sha2(array_join(slice(col("t"), i, lit(k)), " "), 256)), 1, 16)
            .as("g")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.g").as("g"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos
      // corpus-wide occurrence count fused as a window — one scan, one
      // g-shuffle; ≥ 2 keeps exactly the duplicated windows
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("c") >= 2)
      // new island when this window no longer overlaps the previous
      // surviving one (gap > k−1); LAG is null on the first row and
      // null ≤ k−1 is null → otherwise-branch → 1, starting the span
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k - 1, 0L)
          .otherwise(1L))
      .withColumn("span_id", sum(col("new_span")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        (max(col("pos")) + (k - 1)).cast("long").as("end_pos"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + 1).as("span_tokens"))
  }

  /** The APPLY half of substring-level dedup (Lee et al. 2022 §4:
    * the paper removes the duplicated substring and keeps the rest):
    * cut every [[dupSpans]] range out of its document and rebuild the
    * cleaned text, one output row per document (docs without spans —
    * including sub-window ones — pass through unchanged; a fully
    * duplicated doc survives as an empty string, the caller's
    * drop-or-keep policy decision, not this operator's).
    *
    * Scale shape: the span table is duplication-density-bounded
    * (orders of magnitude smaller than the corpus), and q133's islands
    * merge guarantees spans are DISJOINT per doc, so the cut is a
    * per-doc array expression: spans collapse to one array per doc
    * (bounded by doc length / k), joined back to documents (AQE
    * broadcasts while the span table is small, falls back to a keyed
    * shuffle when duplication density makes it large — no hint pinned,
    * so neither case is forced into the other's failure mode), and the
    * token filter runs entirely inside codegen — no positional
    * explode, no second corpus shuffle beyond [[dupSpans]]'s own. */
  def stripDupSpans(spark: SparkSession, sfDir: String): DataFrame =
    stripCore(Tables.documents(spark, sfDir), materializedDupSpans(spark, sfDir))

  /** [[stripDupSpans]] over an explicit corpus frame — spec entry
    * (recomputes the span table inline instead of reading the layer). */
  def stripDupSpansFrom(docs: DataFrame): DataFrame =
    stripCore(docs, dupSpansFrom(docs))

  private def stripCore(docs: DataFrame, spanTable: DataFrame): DataFrame = {
    val spans = spanTable
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_pos"), col("end_pos"))).as("spans"))
    docs
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("t"), col("spans"))
      // keep token i (1-based) unless some span covers it; spans is
      // null for span-free docs and exists(null, ...) is null → the
      // filter's NOT-true test keeps the token
      .withColumn("kept", expr(
        "filter(t, (tok, i) -> NOT COALESCE(" +
          "exists(spans, sp -> i + 1 >= sp.start_pos AND i + 1 <= sp.end_pos), " +
          "false))"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }
}
