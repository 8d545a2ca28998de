package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to [[Similarity.lshTopK]]: a coarse k-means quantizer
  * partitions the corpus into cells; a query probes only its `nProbe`
  * nearest cells, so the scored candidate set is |corpus|·nProbe/k
  * instead of |corpus|.
  *
  * The quantizer is the shared Lloyd fit ([[Ann.fit]]) at m = 1;
  * assignment is a broadcast of the k×d centroid matrix (tiny) + the
  * native argmin per row, and probing, candidate join and rank tail are
  * [[Ann]]'s. The cell layer also drives the curation operators here
  * (semantic dedup, cell-balanced selection, outliers, labels).
  */
object Ivf {

  // Assignment and probing are the native codegen'd
  // [[graft.functions.NearestCentroids]] expression (ties → lowest
  // cluster id, identical arithmetic to the former per-row Scala UDFs —
  // which cost a serialize/deserialize per row and broke whole-stage
  // codegen on the scan).
  private[operators] def assignExpr(centroids: Array[Array[Double]]) = (emb: Column) =>
    graft.functions.nearestCentroids(emb, centroids.flatten, centroids.length, 1)
      .getItem(0)

  private[operators] def nearestClusters(centroids: Array[Array[Double]], nProbe: Int) =
    (emb: Column) =>
      graft.functions.nearestCentroids(emb, centroids.flatten, centroids.length, nProbe)

  /** The IVF coarse quantizer: the shared Lloyd fit ([[Ann.fit]]) at
    * m = 1, so the k cells are the one-subspace codebook. Its
    * decimal-exact means make the FITTED CENTROIDS IDENTICAL UNDER ANY
    * PARTITIONING — what lets every cell-layer consumer
    * (q44/q117/q127/q128/q129) reproduce bit-for-bit across runs and
    * cluster sizes; spec-asserted by refitting under different
    * repartitionings. */
  def fitCentroids(spark: SparkSession, sfDir: String, k: Int,
                   iters: Int): Array[Array[Double]] =
    Ann.fit(Ann.corpus(spark, sfDir), 1, k, iters)(0)

  /** The materialized INDEX layer: an IVF index is built once and every
    * query probes it — the centroid matrix (k×d, catalog-bounded) is
    * fitted once per (session, sfDir, k, iters), the same layer
    * discipline as [[Dedup.materializedClusters]] and
    * [[graft.ml.LinUCB.seededModels]]. */
  def fittedCentroids(spark: SparkSession, sfDir: String, k: Int,
                      iters: Int): Array[Array[Double]] =
    Ann.fitted(spark, "ivf_centroids", sfDir, k, iters)(
      Array(fitCentroids(spark, sfDir, k, iters)))(0)

  /** The fitted centroids as a broadcastable `(key, centroid, cnrm)`
    * frame: float-cast, like every dot_f32 operand, with the norm
    * precomputed once per cell in dot_f32's ascending-index double
    * accumulation — k times instead of once per row. */
  private def centroidFrame(spark: SparkSession, centroids: Array[Array[Double]],
                            key: String): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) =>
      val cf = c.map(_.toFloat)
      (i, cf, math.sqrt(cf.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble)))
    }.toSeq.toDF(key, "centroid", "cnrm")
  }

  /** Corpus clustering profile over the IVF cell layer — the
    * topic-bucketing diagnostic a curation pipeline runs before
    * mixture decisions: per cell, its population, mean cosine to the
    * cell centroid (cohesion), and the majority label with its purity.
    * One assignment pass (native codegen'd argmin against the
    * broadcast k×d centroid literal) and one two-level aggregation —
    * `(cell, label)` counts collapse map-side, then `max_by` picks the
    * majority label without a window (count-desc, label-asc
    * tie-break). Rows-only: the fitted centroids are not
    * SQL-expressible; per-cell invariants are spec-asserted. */
  def clusterProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val centroids = fittedCentroids(spark, sfDir, Ann.Cells, Ann.DefaultIters)
    val cdf = centroidFrame(spark, centroids, "cluster")
    val perLabel = Ann.normed(Similarity.spread(Tables.embeddings(spark, sfDir)), "label")
      .withColumn("cluster", assignExpr(centroids)(col("embedding")))
      .join(broadcast(cdf), "cluster")
      // per-row cos rounds to 9dp DECIMAL before the two summation
      // levels (the sourceProfile entropy discipline): decimal sums
      // are order-independent, so the cell means are deterministic
      // under any partitioning — and, with the decimal-exact centroid
      // fit, the whole profile is externally recomputable (the q128
      // oracle unrolls the same two Lloyd iterations in SQL)
      .withColumn("cos_c",
        round(Similarity.dot(col("embedding"), col("centroid")) /
          (col("nrm") * col("cnrm")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n_l"), sum(col("cos_c")).as("cos_l"))
    perLabel.groupBy(col("cluster"))
      .agg(sum(col("n_l")).as("n_vectors"),
        round(sum(col("cos_l")).cast("double") / sum(col("n_l")), 4)
          .as("avg_cos_centroid"),
        max_by(struct(col("label"), col("n_l")),
          struct(col("n_l"), -col("label"))).as("top"))
      .select(col("cluster"), col("n_vectors"), col("avg_cos_centroid"),
        col("top.label").as("top_label"),
        round(col("top.n_l").cast("double") / col("n_vectors"), 4).as("purity"))
      .orderBy(col("cluster"))
  }

  /** Mean-cell-size target for [[deriveK]]: within-cell pair work is
    * Σ|cell|² ≈ n·target, so the target — not the corpus — bounds the
    * per-cell quadratic term. 512 keeps a cell's candidate block at
    * ~2¹⁸ pairs (sub-second per cell) while the centroid matrix stays
    * broadcastable far up the scale curve: k = n/512 means a 1B-vector
    * corpus fits ~2M × d centroids — at that point raise the target or
    * go hierarchical, per the SemDeDup paper's k=50 000 note. */
  val TargetCellSize = 512

  /** SemDeDup's k must GROW with the corpus or within-cell pair work
    * is quadratic: k = max(16, ⌈n / [[TargetCellSize]]⌉) pins the MEAN
    * cell size at ≤ [[TargetCellSize]] (k-means does not bound the max —
    * skew is bounded empirically by the cell-size spec and, at real
    * scale, by AQE skew-join splitting on the cell equi-join). */
  def deriveK(n: Long): Int =
    math.max(16L, (n + TargetCellSize - 1) / TargetCellSize)
      .min(Int.MaxValue.toLong).toInt

  /** Semantic (embedding-space) dedup over the IVF cell layer — the
    * SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * corpus with a coarse k-means, compare pairs only WITHIN a cell,
    * and drop all but one representative of each high-cosine group.
    * Pair work is Σ|cell|² instead of |corpus|² — k grows with the
    * corpus via [[deriveK]] (k = max(16, ⌈n/[[TargetCellSize]]⌉); the
    * paper runs k=50 000 at web scale) so cells stay bounded; the join is an
    * equi-join on the cell id, keyed and shuffle-partitioned, never a
    * cross.
    *
    * Representative rule (deterministic, engine-portable): a vector is
    * DROPPED iff some lower-id vector in the same cell has rounded
    * cosine ≥ [[SemanticThreshold]] with it — min-id-wins dominance, the same
    * discipline as [[graft.operators.Dedup.exact]]'s min-doc_id
    * canonical representative (the paper keeps the vector farthest
    * from the centroid; the tie-break differs, the set semantics —
    * one survivor per dup neighborhood — is the same). Rows-only:
    * cell assignment needs the fitted centroids; exact agreement with
    * a brute within-cell replication is spec-asserted. */
  def semanticKeep(spark: SparkSession, sfDir: String): DataFrame =
    semanticKeepFrom(Ann.corpus(spark, sfDir),
      fittedCentroids(spark, sfDir, semanticK(spark, sfDir), Ann.DefaultIters), SemanticThreshold)

  /** The rounded within-cell cosine at which q129 drops the higher id. */
  val SemanticThreshold = 0.4

  /** The MATERIALIZED [[semanticKeep]] survivor frame — (vec_id, cell),
    * computed once per (session, sfDir). Six consumers read the identical survivor set
    * (q129 itself, the q145/q146/q153 curation chains, the q172/q175
    * funnel); before this layer each re-paid the within-cell dominance
    * self-join. The `dedup_clusters` discipline applied to semantic
    * dedup. */
  def materializedSemanticKeep(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "semantic_keep", sfDir)(semanticKeep(spark, sfDir))

  /** The k [[semanticKeep]] will fit for `sfDir`: [[deriveK]] of the
    * corpus count (a columnar metadata count, cheap; the fitted matrix
    * itself is session-cached per (sfDir, k, iters)). Exposed so layer
    * warmers (Bench) build the same cache entry the query probes. */
  def semanticK(spark: SparkSession, sfDir: String): Int =
    deriveK(Tables.countOf(spark, sfDir, "embeddings"))

  /** [[semanticKeep]] over an arbitrary `(vec_id, embedding)` frame
    * with caller-supplied centroids — spec-visible so dominance
    * semantics are testable on planted vectors with pinned cells. */
  private[graft] def semanticKeepFrom(vecs: DataFrame,
                                      centroids: Array[Array[Double]],
                                      threshold: Double): DataFrame = {
    val e = Ann.normed(vecs)
      .withColumn("cell", assignExpr(centroids)(col("embedding")))
    val dominated = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(
        Similarity.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    e.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** q139: cluster-balanced quality selection — keep the 8
    * highest-quality documents of every semantic cell. The curation
    * move AFTER dedup: a quality-ranked global top-N over-samples the
    * dominant topic, while capping per embedding-cell keeps the
    * selection diverse at the same budget (the cluster-balanced
    * sampling step of SemDeDup-style pipelines, applied to selection
    * instead of deletion). Quality = the q130 stupid-backoff LM score;
    * cells = the session IVF layer at [[semanticK]]'s corpus-derived k,
    * so per-cell populations — and with them the ranking windows — stay
    * ~[[TargetCellSize]]-bounded however large the corpus grows.
    * One doc-keyed equi-join (embedding cell ↔ LM score via the
    * fixture's doc_id = vec_id pairing), one bounded per-cell window.
    * Documents without a scorable bigram (sub-2-token) have no LM score
    * and are not selection candidates, matching the oracle's inner
    * join. */
  def cellBalancedKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val centroids = fittedCentroids(spark, sfDir, semanticK(spark, sfDir), Ann.DefaultIters)
    val cells = Similarity.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id").as("doc_id"),
        assignExpr(centroids)(col("embedding")).as("cell"))
    val w = Window
      .partitionBy(col("cell")).orderBy(desc("lm_score"), asc("doc_id"))
    TextOps.lmScore(spark, sfDir)
      .join(cells, Seq("doc_id"))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .filter(col("cell_rank") <= 8)
      .select(col("cell"), col("doc_id"), col("cell_rank"), col("lm_score"))
  }

  /** q152: per-cell semantic outlier detection — flag the vectors
    * furthest from their own cell centroid (lowest cosine), the
    * embedding-space noise filter a curation pipeline runs after
    * clustering: off-manifold points (OCR garbage, wrong-modality
    * rows, encoder failures) sit at their cell's cold edge. Per cell,
    * the bottom ⌈10%⌉ by (4dp cosine asc, vec_id) are emitted with
    * their margin and rank. Centroids are float-cast exactly as
    * [[clusterProfile]]'s (the dot_f32 arithmetic the scan runs), so
    * the cosines — and with them the cut — replay bit-exactly in the
    * unrolled-Lloyd oracle.
    *
    * Scale shape: one map-only assignment + cosine pass against the
    * broadcast k×d centroid literal, then a per-cell window over
    * (vec_id, cell, cos) ONLY — embeddings are projected away before
    * the shuffle, and cell populations are target-cell-size-bounded
    * when k comes from [[deriveK]]. */
  def cellOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val centroids = fittedCentroids(spark, sfDir, Ann.Cells, Ann.DefaultIters)
    val cdf = centroidFrame(spark, centroids, "cell")
    val rows = Ann.normed(Similarity.spread(Tables.embeddings(spark, sfDir)))
      .withColumn("cell", assignExpr(centroids)(col("embedding")))
      .join(broadcast(cdf), "cell")
      .select(col("vec_id"), col("cell"),
        round(Similarity.dot(col("embedding"), col("centroid")) /
          (col("nrm") * col("cnrm")), 4).as("cos_centroid"))
    val w = Window.partitionBy(col("cell"))
    rows
      .withColumn("rk_cold", row_number()
        .over(w.orderBy(col("cos_centroid"), col("vec_id"))).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(w))
      .withColumn("k_cut", expr("(n_cell * 10 + 99) div 100"))
      .filter(col("rk_cold") <= col("k_cut"))
      .select(col("vec_id"), col("cell"), col("cos_centroid"),
        col("rk_cold"), col("n_cell"), col("k_cut"))
  }

  /** q157: cluster labeling — the 3 most distinctive terms of
    * every semantic cell, by summed per-document TF-IDF weight (ties →
    * term asc). The human-readable face of the IVF layer: a curation
    * review reads these labels to decide which cells to upweight,
    * cap, or drop. Composes the `tfidf_postings` layer with the cell
    * assignment; weights sum as 6dp DECIMAL (order-independent fold),
    * so the ranking is partitioning-independent and replays exactly.
    *
    * Scale shape: one doc-keyed equi-join (postings ↔ cell), one
    * (cell, term) aggregation with map-side combine — the ranked
    * frame is (cells × vocabulary)-bounded, never corpus-sized, and
    * the per-cell window runs over that bounded frame. */
  def cellTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val centroids = fittedCentroids(spark, sfDir, Ann.Cells, Ann.DefaultIters)
    val cells = Similarity.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id").as("doc_id"),
        assignExpr(centroids)(col("embedding")).as("cell"))
    val agg = graft.features.Features.materializedTfidf(spark, sfDir)
      .join(cells, Seq("doc_id"))
      .withColumn("tfd", col("tfidf").cast(DecimalType(18, 6)))
      .groupBy(col("cell"), col("term"))
      .agg(sum(col("tfd")).as("w_dec"), count(lit(1)).as("n_docs_term"))
    val w = Window
      .partitionBy(col("cell")).orderBy(desc("w_dec"), asc("term"))
    agg
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("cell"), col("term"),
        round(col("w_dec").cast("double"), 6).as("weight"),
        col("n_docs_term"), col("rnk"))
  }

  /** q44: ANN top-k probing 4 of the [[Ann.Cells]] cells — exact
    * cosine over the probed cells' vectors only, ranked by the shared
    * tail, so the result is brute force over the probed cells
    * (spec-asserted). */
  def topK(spark: SparkSession, sfDir: String): DataFrame = {
    val centroids = fittedCentroids(spark, sfDir, Ann.Cells, Ann.DefaultIters)
    val e = Ann.normed(Similarity.spread(Tables.embeddings(spark, sfDir)))
      .withColumn("cluster", assignExpr(centroids)(col("embedding")))
    val q = Ann.probed(
      Ann.queryFrame(e, Ann.NQueries, "embedding" -> "qemb", "nrm" -> "qnrm"), centroids, 4)
    Ann.ranked(Ann.candidates(e, q, col("cluster") === col("probe"))
      .withColumn("cos_sim", Similarity.cosine), "cos_sim", Ann.TopK)
  }
}
