package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Brute-force cosine top-k is the exact baseline; the
  * scale path buckets vectors with sign-random-projection LSH so each
  * query only joins its bucket. Both run [[Ann]]'s candidate join and
  * rank tail with the native [[cosine]] score — codegen-friendly, no
  * UDF.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double with a
    * deterministic left fold (order-stable ⇒ oracle-reproducible).
    * Backed by the codegen'd [[graft.functions.DotProductF32]]; the
    * declarative `aggregate(zip_with(...))` equivalent is interpreted
    * per element and ~100× slower on a pair scan. */
  def dot(a: Column, b: Column): Column = graft.functions.dotF32(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** The cosine score every exact family ranks by: `embedding` against
    * `qemb`, over the precomputed norms, 4dp-rounded so the id
    * tie-break makes the ranked set unique. */
  private[operators] def cosine: Column =
    round(dot(col("embedding"), col("qemb")) / (col("nrm") * col("qnrm")), 4)

  /** Local-parallelism guard: the testdata ships as one small parquet
    * file → one input partition, which would serialize the whole
    * compute-heavy scan onto a single core. On a real cluster the scan
    * arrives already split; this keeps the local plan honest about the
    * parallelism the operator is designed for. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(p)
  }

  /** Brute-force cosine top-k (exact baseline): queries × corpus, rank by
    * rounded cosine with id tie-break so the selected row set is unique.
    * The corpus side stays partitioned; only the (tiny) query side is
    * broadcast — at 100 TB this is one pass over the corpus per query
    * batch. */
  def bruteForceTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Ann.normed(spread(Tables.embeddings(spark, sfDir)))
    val q = Ann.queryFrame(e, nQueries, "embedding" -> "qemb", "nrm" -> "qnrm")
    Ann.ranked(Ann.candidates(e, q).withColumn("cos_sim", cosine), "cos_sim", k)
  }

  /** The MATERIALIZED exact-brute baseline the recall gates share
    * (q136/q143/q144/q167/q170/q174 — six queries, each previously
    * paying its own full corpus × query-batch scan): one
    * [[bruteForceTopK]] pass per (session, sfDir, nQueries, k),
    * re-entered as a checkpointed nQueries×k-row frame — the
    * `near_pairs`/`dedup_clusters` layer discipline applied to the
    * ANN-eval baseline. The SERVING brute scan (q24) stays a live
    * computation: this cache is the eval harness's ground-truth
    * artifact, not the scan operator. */
  def materializedBruteTopK(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, k: Int = 5): DataFrame =
    bruteCache.getOrCompute(spark, (sfDir, nQueries, k)) {
      bruteForceTopK(spark, sfDir, nQueries, k).localCheckpoint()
    }

  private val bruteCache =
    new graft.SessionCache[(String, Int, Int), DataFrame](
      onEvict = graft.SessionCache.unpersistCheckpoint)

  /** Sign-random-projection bucket id: `nPlanes` pseudo-random hyperplanes
    * with weights derived arithmetically from (plane, dim) — fully
    * deterministic, no RNG state to ship. Vectors whose sign pattern
    * agrees land in the same bucket. Native expression
    * ([[graft.functions.SrpBucket]]); one pass over the vector for all
    * planes. */
  def srpBucket(emb: Column, nPlanes: Int): Column =
    graft.functions.srpBucket(emb, nPlanes)

  /** L2 normalization — the standard pre-ANN transform (unit vectors
    * turn cosine into dot product). Map-only; the query surface emits
    * the leading components rounded so the oracle compares exactly. */
  def normalized(spark: SparkSession, sfDir: String, dims: Int = 4): DataFrame = {
    val e = Ann.normed(spread(Tables.embeddings(spark, sfDir)))
    val comps = (1 to dims).map(i =>
      round(col("embedding").getItem(i - 1).cast("double") / col("nrm"), 6)
        .as(s"n${i - 1}"))
    e.select(col("vec_id") +: comps: _*)
  }

  /** q165: hard-negative mining — for each query vector, the top-k
    * most-similar corpus vectors with a DIFFERENT label. The training-
    * data operator behind contrastive/dense-retriever fine-tuning
    * (ANCE, Xiong et al. 2020): random negatives are trivially easy;
    * the informative ones are the nearest wrong-label neighbors this
    * query surfaces. Same plan as [[bruteForceTopK]] with the label
    * inequality fused into the broadcast join condition — the label
    * filter prunes pairs BEFORE the dot product, and on a deployment
    * the scan stage swaps to any bounded ANN family exactly as the
    * kNN classifier's did (q117 → q127). */
  def hardNegatives(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                    k: Int = 5): DataFrame = {
    val e = Ann.normed(spread(Tables.embeddings(spark, sfDir)), "label")
    val q = Ann.queryFrame(e, nQueries,
      "label" -> "q_label", "embedding" -> "qemb", "nrm" -> "qnrm")
    Ann.topK(Ann.candidates(e, q, col("label") =!= col("q_label"))
        .withColumn("cos_sim", cosine), k, desc("cos_sim"))
      .select(col("qid"), col("q_label"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("rank"), col("cos_sim"))
  }

  /** Per-label embedding-space statistics: count and the norm envelope
    * (min/max L2 norm, min/max first component) per class label — the
    * sanity profile run before training on an embedding column. Only
    * order statistics and counts: exact on any engine and any
    * partitioning (float SUMS across rows are deliberately absent — the
    * mean-centroid variant is accumulation-order-sensitive and belongs
    * behind a tolerance spec, not a hash oracle). One map-side-combined
    * groupBy on the label — scales as a plain aggregation. */
  def labelStats(spark: SparkSession, sfDir: String): DataFrame =
    spread(Tables.embeddings(spark, sfDir))
      .select(col("label"), l2norm(col("embedding")).as("nrm"),
        col("embedding").getItem(0).cast("double").as("e0"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("nrm")), 6).as("nrm_min"),
        round(max(col("nrm")), 6).as("nrm_max"),
        round(min(col("e0")), 6).as("e0_min"),
        round(max(col("e0")), 6).as("e0_max"))

  /** EMBEDDING-space drift — q113's counterpart for vector columns: how
    * far apart are the mean vectors of two corpus splits (here vec_id
    * parity, standing in for crawl snapshots)? Reports the cosine of
    * the two per-dimension mean vectors and their norms — cosine near 1
    * means the new snapshot's embedding distribution centers where the
    * old one did. Unlike [[labelStats]] (which deliberately avoids
    * float sums), this IS hash-oracle-safe: every summed term is
    * rounded to a fixed decimal scale before aggregation (the
    * tokenEntropy discipline), so the sums — and hence the cosine — are
    * exact and partitioning-independent. Shape: posexplode →
    * map-side-combined per-dimension aggregation (dims rows, not
    * corpus), then a 1-row fold. */
  def embeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec7 = DecimalType(28, 7)
    val dec9 = DecimalType(18, 9)
    val x = Tables.embeddings(spark, sfDir)
      .select(pmod(col("vec_id"), lit(2)).as("side"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("side"), col("pos"),
        round(col("vf").cast("double"), 7).cast(dec7).as("v"))
    val dims = x.groupBy(col("pos")).agg(
      (sum(when(col("side") === 0, col("v"))).cast("double") /
        sum(when(col("side") === 0, 1L))).as("ma"),
      (sum(when(col("side") === 1, col("v"))).cast("double") /
        sum(when(col("side") === 1, 1L))).as("mb"))
    dims.agg(
      count(lit(1)).as("n_dims"),
      sum(round(col("ma") * col("mb"), 9).cast(dec9)).cast("double").as("sab"),
      sum(round(col("ma") * col("ma"), 9).cast(dec9)).cast("double").as("saa"),
      sum(round(col("mb") * col("mb"), 9).cast(dec9)).cast("double").as("sbb"))
      .select(col("n_dims"),
        round(col("sab") / (sqrt(col("saa")) * sqrt(col("sbb"))), 6)
          .as("cos_mean_shift"),
        round(sqrt(col("saa")), 6).as("norm_mean_a"),
        round(sqrt(col("sbb")), 6).as("norm_mean_b"))
  }

  /** Scalar int8 quantization of the embedding column — the 4× memory
    * shrink that lets an ANN index at 100 TB stay in executor RAM:
    * per-dimension (min, max) over the corpus, then
    * `code = floor((v-mn)·255/(mx-mn) + 0.5)`. Two-pass, both cheap at
    * scale: the stats pass explodes but map-side-combines down to one
    * row per DIMENSION before the shuffle (64 groups, not 64×rows);
    * the quantize pass is map-only — the per-dim arrays ride in as one
    * broadcast row and a `transform` lambda does the elementwise math
    * inside codegen. Reports the first 4 codes and the per-vector
    * reconstruction error (order-independent max, engine-portable). */
  def int8Quantize(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("pos"), col("vf").cast("double").as("v"))
    val statsRow = x.groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)")
          .as("mns"),
        expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)")
          .as("mxs"))
    Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(statsRow))
      // greatest(mx-mn, 1e-12): a CONSTANT dimension (mx == mn) would
      // divide by zero → NaN codes with engine-divergent semantics; the
      // clamp maps it to code 0 / err 0 identically everywhere (the
      // oracle mirrors the same GREATEST)
      .withColumn("codes", expr(
        """transform(embedding, (vf, i) ->
          |  floor((CAST(vf AS DOUBLE) - mns[i]) * 255
          |    / greatest(mxs[i] - mns[i], 1e-12) + 0.5))"""
          .stripMargin))
      .withColumn("errs", expr(
        """transform(embedding, (vf, i) ->
          |  abs(CAST(vf AS DOUBLE) - (mns[i] +
          |    floor((CAST(vf AS DOUBLE) - mns[i]) * 255
          |      / greatest(mxs[i] - mns[i], 1e-12) + 0.5)
          |      * (mxs[i] - mns[i]) / 255)))""".stripMargin))
      .select(col("vec_id"),
        col("codes")(0).as("code0"), col("codes")(1).as("code1"),
        col("codes")(2).as("code2"), col("codes")(3).as("code3"),
        round(array_max(col("errs")), 6).as("max_abs_err"))
  }

  /** Exactness ceiling for [[deriveNProbe]]: at or below this corpus
    * size, probe-all kNN is both cheap (≤ ~n²/holdout ≈ 2²³ rounded-
    * cosine evaluations, sub-second on one executor core) and the
    * oracle-parity configuration; the small-fixture scales sit far
    * under it. Same bound the IVF k-means oracle pins (deriveK's
    * 16-cell floor holds to 8192), so one constant describes where
    * "small corpus = exact by default" ends. */
  val ProbeAllMaxVectors = 8192L

  /** Derived probe count above the ceiling: 4 of the fitted cells —
    * q127's audited configuration (1.95× at the 10× audit). With
    * [[Ivf.deriveK]] cells of ~512 mean size, 4 probes keep ~2048
    * candidates per query, two orders above the k=10 vote depth. */
  val DefaultScaleNProbe = 4

  /** Corpus-derived default probe count, the [[Ivf.deriveK]]
    * discipline applied to the query side: probe-all (exact) while the
    * corpus is small enough that exactness is free, the audited
    * sub-quadratic setting beyond. */
  def deriveNProbe(n: Long, nCentroids: Int): Int =
    if (n <= ProbeAllMaxVectors) nCentroids
    else math.min(DefaultScaleNProbe, nCentroids)

  /** kNN label propagation — the semi-supervised classifier a labeling
    * pipeline runs to extend a small labeled seed set over an unlabeled
    * corpus: each "unlabeled" vector (here `vec_id % holdout == 0`, a
    * deterministic holdout) takes the majority label of its k nearest
    * labeled neighbors by cosine. Ranking uses the q24 discipline
    * (4dp-rounded cosine + id tie-break → unique neighbor set, then
    * count-desc + label-asc tie-break → unique winner), so the result
    * is engine-portable.
    *
    * Candidates come from [[graft.operators.Ivf]] cell-restricted
    * probes (the q44 index layer): every labeled vector carries its
    * coarse-quantizer cell, every query probes its `nProbe` nearest
    * cells, and scoring is an EQUI-join on the cell id — a partitioned
    * hash join keyed on the cell, never a nested-loop over a broadcast
    * of corpus/holdout. BOTH index knobs derive from the corpus by
    * default: `kClusters <= 0` resolves via [[Ivf.semanticK]]
    * (= [[Ivf.deriveK]], the SemDeDup-family discipline — cells of
    * ~[[Ivf.DefaultTargetCellSize]] mean size, 16-cell floor), because
    * the HOLDOUT query side scales WITH the corpus: at a fixed 16
    * cells the candidate join is Σ|cell|²·nProbe/k ≈ quadratic in the
    * corpus (measured r16: the first full 100×-lake battery ground
    * >20 min and ~40 GB of shuffle spill on q117's 1.6 G candidate
    * pairs before being stopped; derived cells cut that ~25×), while
    * derived cells pin candidates per query at ~cellSize·nProbe
    * regardless of corpus size. `nProbe <= 0` resolves via
    * [[deriveNProbe]]: at or below [[ProbeAllMaxVectors]] it probes
    * ALL cells, so the
    * candidate set is provably the
    * full labeled corpus and the result is EXACTLY brute-force kNN —
    * regardless of where the fitted centroids landed — which keeps the
    * DuckDB brute-force oracle hash-green; above the ceiling it
    * resolves to [[DefaultScaleNProbe]], so a caller who never tuned
    * anything gets the sub-quadratic path once probe-all's
    * |corpus|·|holdout| scoring would dominate. With `nProbe <
    * kClusters` (q127's pinned configuration) the scored pairs shrink
    * to ~|corpus|·nProbe/kClusters, with prediction agreement vs brute
    * asserted in the spec. The vote layer is identical in all modes. */
  def knnClassify(spark: SparkSession, sfDir: String, k: Int = 10,
                  holdout: Int = 5, kClusters: Int = 0, nProbe: Int = -1,
                  iters: Int = Ann.DefaultIters): DataFrame = {
    // every driver SF sits at deriveK's 16-cell floor, so the derived
    // default is bit-identical to the old fixed 16 below the ceiling
    // (and shares the ivf_centroids_semantic layer's cache entry above)
    val kc = Ivf.semanticK(spark, sfDir, kClusters)
    val centroids = Ivf.fittedCentroids(spark, sfDir, kc, iters)
    // default derives from corpus size ([[deriveNProbe]], the
    // [[Ivf.deriveK]] discipline): probe-all below the exactness
    // ceiling — the fitted cell count, so both a non-default kClusters
    // and a corpus smaller than kClusters keep the documented
    // probe-all-is-exact contract — and the audited sub-quadratic
    // nProbe above it, without the caller having to opt in at scale
    val probes =
      if (nProbe <= 0)
        deriveNProbe(Tables.countOf(spark, sfDir, "embeddings"), centroids.length)
      else math.min(nProbe, centroids.length)
    val e = Ann.normed(spread(Tables.embeddings(spark, sfDir)), "label")
    val labeled = e.filter(col("vec_id") % holdout =!= 0)
      .withColumn("cell", Ivf.assignExpr(centroids)(col("embedding")))
    val q = Ann.probed(e.filter(col("vec_id") % holdout === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("label").as("true_label")), centroids, probes)
    // holdout and labeled side both scale with the corpus: a keyed
    // cell equi-join, not the broadcast candidate join
    val neighbors = Ann.topK(labeled.join(q,
        col("cell") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", cosine), k, desc("cos_sim"))
    val votes = neighbors.groupBy(col("qid"), col("true_label"), col("label"))
      // sim_sum, not a rounded mean: the 4dp cosines sum EXACTLY as
      // DECIMAL (a mean like 0.25425 sits on a rounding boundary where
      // engines disagree; the decimal sum has no boundary to disagree on)
      .agg(count(lit(1)).as("votes"),
        sum(col("cos_sim").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sim_sum"))
    Ann.topK(votes, 1, desc("votes"), tie = asc("label"))
      .select(col("qid").as("vec_id"), col("label").as("predicted_label"),
        col("votes"), col("sim_sum"), col("true_label"),
        (col("label") === col("true_label")).as("correct"))
  }

  /** MMR (maximal-marginal-relevance) diversity re-ranking — the
    * retrieval-side step after ANN: from a candidate pool of the
    * query's `poolSize` nearest vectors, greedily pick `k` maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈picked} sim(c,s)` so the result covers
    * the neighborhood instead of returning k near-duplicates of the
    * top hit. Architecture mirrors the IVF probe layer: the POOL
    * selection is the distributed pass (brute/IVF top-`poolSize` —
    * corpus partitioned, query broadcast), the greedy fold runs on the
    * collected pool (poolSize×d doubles — sink-sized, bounded by
    * configuration like the IVF centroid table, never corpus-sized).
    * Deterministic: 4dp-rounded cosines with id tie-breaks at both the
    * pool cut and each greedy step. Spec: first pick is the nearest
    * neighbor; the MMR set's mean pairwise similarity is below the
    * plain top-k's. */
  def mmrRerank(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                k: Int = 10, poolSize: Int = 100,
                lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    val e = Ann.normed(spread(Tables.embeddings(spark, sfDir)))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qemb"), col("nrm").as("qnrm"))
    // distributed pass: pool = top-poolSize by relevance (one corpus scan)
    val pool = e.filter(col("vec_id") =!= queryId).crossJoin(broadcast(q))
      .withColumn("rel", cosine)
      .orderBy(desc("rel"), asc("vec_id")).limit(poolSize)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("rel"))
      .collect()
    // sink-sized greedy fold over the bounded pool
    val ids = pool.map(_.getAs[Long]("vec_id"))
    val vecs = pool.map(_.getAs[Seq[Float]]("embedding").toArray)
    val nrms = pool.map(_.getAs[Double]("nrm"))
    val rels = pool.map(_.getAs[Double]("rel"))
    def cos(i: Int, j: Int): Double = {
      var d = 0.0
      val a = vecs(i); val b = vecs(j)
      var x = 0
      while (x < a.length) { d += a(x).toDouble * b(x).toDouble; x += 1 }
      BigDecimal(d / (nrms(i) * nrms(j)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val remaining = scala.collection.mutable.LinkedHashSet(pool.indices: _*)
    while (picked.length < math.min(k, pool.length)) {
      val best = remaining.map { c =>
        val div = if (picked.isEmpty) 0.0 else picked.map(s => cos(c, s)).max
        // 9dp, NOT 4dp: the inputs are 4dp-rounded, so λ-scaled scores
        // differ by multiples of λ·1e-4 — a 4dp re-round would alias
        // distinct relevances and hand the tie-break the wrong vector
        val score = BigDecimal(lambda * rels(c) - (1 - lambda) * div)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (-score, ids(c), c)
      }.min
      picked += best._3
      remaining -= best._3
    }
    picked.toSeq.zipWithIndex
      .map { case (c, r) => (queryId, (r + 1).toLong, ids(c), rels(c)) }
      .toDF("qid", "rank", "vec_id", "rel")
  }

  /** Broadcast ceiling for the decontamination eval side: above this
    * many eval vectors the broadcast (≤ ~8192 × 64 floats ≈ 2 MiB at
    * the testdata dim; ~32 MiB at dim 1024) stops being "free to every
    * executor", and the exact pass's pair-work |corpus|·|eval| stops
    * being corpus-linear-with-small-constant. Same discipline as
    * [[ProbeAllMaxVectors]]: one constant marks where "small side =
    * exact broadcast by default" ends — beyond it the caller must
    * shard the eval set and union the per-shard argmaxes, or route
    * through the IVF index ([[knnClassify]]'s cell-restricted path). */
  val DecontamMaxEvalVectors = 8192L

  /** Embedding-space decontamination against an EXPLICIT eval frame —
    * the entry point a real pipeline calls with its benchmark/eval
    * holdout (a frame the corpus never saw). Flags every corpus vector
    * whose cosine to ANY eval vector reaches `tau`: the semantic
    * complement of the n-gram containment checks (q79/q83) —
    * paraphrased eval leakage that shares no 8-gram still lands near
    * its source in embedding space. Both frames carry
    * `(vec_id, embedding array<float>)`.
    *
    * Plan: broadcast the eval side, one pass over the corpus — the q24
    * shape with an argmax instead of a top-k window: the per-row
    * fan-out (|eval| comparisons) collapses map-side under the partial
    * max, so the only shuffle carries one row per corpus vector. No
    * approximation: decontamination is a recall-critical gate, and the
    * bounded small side makes exactness affordable at any corpus
    * scale. The plan is correct ONLY while the eval side is small, so
    * the size is enforced, not assumed: an eval frame above
    * [[DecontamMaxEvalVectors]] is refused up front (the
    * [[ProbeAllMaxVectors]] discipline) rather than silently handed to
    * a multi-GB broadcast. */
  def embeddingDecontamFrom(corpus: DataFrame, evalDf: DataFrame,
                            tau: Double = 0.6): DataFrame = {
    val nEval = evalDf.count()
    require(nEval <= DecontamMaxEvalVectors,
      s"decontamination eval side has $nEval vectors, above the broadcast " +
        s"ceiling DecontamMaxEvalVectors=$DecontamMaxEvalVectors: the exact " +
        "broadcast-argmax plan would ship an unbounded small side to every " +
        "executor. Shard the eval set and union per-shard results, or use " +
        "the IVF cell-restricted path.")
    val c = corpus
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val eval = evalDf
      .select(col("vec_id").as("eid"), col("embedding").as("eemb"),
        l2norm(col("embedding")).as("enrm"))
    c.join(broadcast(eval))
      .withColumn("cos_eval", round(
        dot(col("embedding"), col("eemb")) / (col("nrm") * col("enrm")), 4))
      .groupBy(col("vec_id"))
      .agg(max(col("cos_eval")).as("max_eval_cos"),
        max_by(col("eid"), struct(col("cos_eval"), -col("eid")))
          .as("nearest_eval_id"))
      .select(col("vec_id"), col("nearest_eval_id"), col("max_eval_cos"),
        (col("max_eval_cos") >= tau).as("contaminated"))
  }

  /** The sharding escape hatch [[embeddingDecontamFrom]]'s guard names:
    * an eval set ABOVE the broadcast ceiling is split into
    * ⌈|eval|/shardSize⌉ deterministic hash-shards, each run through the
    * same exact broadcast-argmax pass, and the per-shard argmaxes
    * re-reduced per corpus vector. Exactness is preserved — max over a
    * partition of the eval set IS the global max, and the nearest-id
    * tie-break (max cos, then lowest eid) re-applies identically at the
    * reduce — while each broadcast stays ≤ shardSize vectors. Cost is
    * one corpus pass per shard: linear in |eval|·|corpus| like the
    * single-pass form, just paged; for eval sets so large that
    * nShards·|corpus| passes dominate, route through the IVF index
    * instead ([[knnClassify]]'s cell-restricted discipline). */
  def embeddingDecontamShardedFrom(corpus: DataFrame, evalDf: DataFrame,
                                   tau: Double = 0.6,
                                   shardSize: Long = DecontamMaxEvalVectors)
      : DataFrame = {
    require(shardSize >= 1 && shardSize <= DecontamMaxEvalVectors,
      s"shardSize must be in [1, $DecontamMaxEvalVectors], got $shardSize")
    val nEval = evalDf.count()
    val nShards = math.max(1L, (nEval + shardSize - 1) / shardSize).toInt
    val c = corpus
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val perShard = (0 until nShards).map { s =>
      val shard = evalDf
        .filter(pmod(xxhash64(col("vec_id")), lit(nShards.toLong)) === s)
        .select(col("vec_id").as("eid"), col("embedding").as("eemb"),
          l2norm(col("embedding")).as("enrm"))
      c.join(broadcast(shard))
        .withColumn("cos_eval", round(
          dot(col("embedding"), col("eemb")) / (col("nrm") * col("enrm")), 4))
        .groupBy(col("vec_id"))
        .agg(max(col("cos_eval")).as("max_eval_cos"),
          max_by(col("eid"), struct(col("cos_eval"), -col("eid")))
            .as("nearest_eval_id"))
    }
    perShard.reduce(_ unionByName _)
      .groupBy(col("vec_id"))
      .agg(max(col("max_eval_cos")).as("max_eval_cos"),
        max_by(col("nearest_eval_id"),
          struct(col("max_eval_cos"), -col("nearest_eval_id")))
          .as("nearest_eval_id"))
      .select(col("vec_id"), col("nearest_eval_id"), col("max_eval_cos"),
        (col("max_eval_cos") >= tau).as("contaminated"))
  }

  /** q142 fixture adapter for [[embeddingDecontamFrom]]: with no
    * external benchmark shipped in the testdata, the deterministic
    * `vec_id % 50 == 0` slice of the embeddings table stands in for
    * the eval holdout (2% of the fixture corpus — bounded here by the
    * fixture, while the real entry point's bound is enforced by the
    * [[DecontamMaxEvalVectors]] guard). The derivation lives ONLY in
    * this adapter; production callers pass their actual holdout to
    * [[embeddingDecontamFrom]]. */
  def embeddingDecontam(spark: SparkSession, sfDir: String,
                        tau: Double = 0.6): DataFrame = {
    val e = spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"))
    embeddingDecontamFrom(
      e.filter(col("vec_id") % 50 =!= 0),
      e.filter(col("vec_id") % 50 === 0), tau)
  }

  /** The MATERIALIZED q142 verdict frame — one row per corpus vector,
    * computed once per (session, sfDir, tau) and re-entered as a
    * checkpointed frame. FIVE consumers read the identical verdicts
    * (q142 itself, q146's semantic gate, q155's report, the q172/q175
    * funnel columns); before this layer each re-paid the
    * corpus × eval broadcast-argmax pass AND the eval-side count
    * action. The `lm_scores` discipline applied to the semantic
    * decontamination gate. */
  def materializedEmbeddingDecontam(spark: SparkSession, sfDir: String,
                                    tau: Double = 0.6): DataFrame =
    embDecontamCache.getOrCompute(spark, (sfDir, tau)) {
      embeddingDecontam(spark, sfDir, tau).localCheckpoint()
    }

  private val embDecontamCache =
    new graft.SessionCache[(String, Double), DataFrame](
      onEvict = graft.SessionCache.unpersistCheckpoint)

  /** SRP-LSH top-k: bucket on the ENGINE-PORTABLE sign-random-projection
    * signature ([[graft.functions.PortableSrpSig]] — integer-arithmetic
    * hyperplane weights), so a DuckDB oracle rebuilds the buckets and
    * hence the exact bucket-restricted result set; [[srpBucket]]
    * (xxhash-weighted) remains for callers that don't need an external
    * oracle. Same plan either way: one map-side signature pass, a
    * bucket equi-join against the broadcast query side ([[Ann]]'s
    * candidate join), per-query top-k tail. Approximate (recall < 1):
    * no pair of non-colliding vectors is ever scored. */
  def lshTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 5,
              nPlanes: Int = 8): DataFrame = {
    val e = Ann.normed(spread(Tables.embeddings(spark, sfDir)))
      .withColumn("bucket", graft.functions.srpSigPortable(col("embedding"), nPlanes))
    val q = Ann.queryFrame(e, nQueries,
      "embedding" -> "qemb", "nrm" -> "qnrm", "bucket" -> "qbucket")
    Ann.ranked(Ann.candidates(e, q, col("bucket") === col("qbucket"))
      .withColumn("cos_sim", cosine), "cos_sim", k)
  }
}
