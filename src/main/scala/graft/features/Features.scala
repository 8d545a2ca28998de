package graft.features

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's feature-engineering surface (SURVEY.md §2.8 F12-F15),
  * as DataFrame transforms: one-hot with a FIXED category list (schema
  * stability — the reference reindex-aligns for the same reason,
  * `preprocessor.py:104-109`), min-max scaling with broadcast fitted
  * stats (`preprocessor.py:58-61`), TF-IDF → truncated-SVD text
  * embeddings (`preprocessor.py:88-104`), context-vector assembly
  * (`eda_recommender.py:100-101`).
  *
  * Scale notes: fitted stats (min/max, doc-freqs, projection matrix) are
  * tiny fitted artifacts — computed in one aggregate pass, then
  * broadcast; the transform side is pure per-row column arithmetic. The
  * SVD factorization runs on the VOCAB-sized gram matrix (V×V, bounded
  * by the dictionary, not the corpus), so the driver-side step does not
  * grow with data size — the corpus-sized passes stay distributed.
  */
object Features {

  /** F12: one-hot over a fixed category list. */
  def oneHot(c: Column, values: Seq[String], prefix: String): Seq[Column] =
    values.map(v => when(c === v, 1).otherwise(0).cast("long")
      .as(s"${prefix}_${v.toLowerCase.replaceAll("[^a-z0-9]+", "_")}"))

  /** F13: min-max scale using a broadcast 1-row stats frame (the fitted
    * artifact; reused at inference exactly like the reference persists
    * its scaler, `preprocessor.py:155-169`). */
  def minMaxScale(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stats = df.agg(
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))).head,
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))).tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    cols.foldLeft(joined) { (acc, c) =>
      // Degenerate fit (constant column): scale to 0.0 instead of the
      // null that x/0 would yield — sklearn's MinMaxScaler makes the
      // same choice for zero-range features.
      acc.withColumn(s"${c}_scaled",
        when(col(s"${c}_max") === col(s"${c}_min"), lit(0.0))
          .otherwise(round((col(c) - col(s"${c}_min")) /
            (col(s"${c}_max") - col(s"${c}_min")), 6)))
    }.drop(cols.flatMap(c => Seq(s"${c}_min", s"${c}_max")): _*)
  }

  /** Per-GROUP z-score standardization — the third member of the
    * scaling family (one-hot F12, min-max F13): each customer's balance
    * standardized against its own segment's distribution. Moments come
    * from INTEGER-CENTS power sums (Σc, Σc², n — the
    * [[graft.operators.Analytics.hourlyAnomalies]] discipline), so mean
    * and variance are exact integer arithmetic cast to double
    * identically on any engine and partitioning — a float `stddev`
    * would inherit partial-aggregation order. Shape: one
    * map-side-combined aggregation to segment rows, broadcast back,
    * map-only scoring. */
  def segmentZScores(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = round(col("c_acctbal") * 100, 0).cast("long")
    val base = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        col("c_acctbal"), cents.as("c"))
    val stats = base.groupBy(col("segment")).agg(
      sum(col("c").cast(DecimalType(38, 0))).cast("double").as("sn"),
      sum((col("c") * col("c")).cast(DecimalType(38, 0))).cast("double").as("sn2"),
      count(lit(1)).as("cnt"))
    base.join(broadcast(stats), "segment")
      .withColumn("mean", col("sn") / col("cnt"))
      // cnt == 1 → no variance estimate → null z (the q102 guard)
      .withColumn("variance",
        when(col("cnt") > 1,
          greatest((col("sn2") - col("sn") * col("sn") / col("cnt")) /
            (col("cnt") - 1), lit(1e-12))))
      .select(col("c_custkey"), col("segment"), col("c_acctbal"),
        round((col("c") - col("mean")) / sqrt(col("variance")), 4).as("z"))
  }

  /** The reference's user-feature frame (`preprocessor.py:23-67`) mapped
    * onto `customer`: one-hot market segment + min-max-scaled account
    * balance. Fully SQL-expressible → oracle-checked. */
  def customerFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val oneHots = oneHot(col("c_mktsegment"), segments, "seg")
    minMaxScale(Tables.customer(spark, sfDir), Seq("c_acctbal"))
      .select(col("c_custkey").as("user_id") +: oneHots :+
        col("c_acctbal_scaled").as("acctbal_scaled"): _*)
  }

  /** F3: time-context features (`bandit_simulator.py:24-47`). */
  def timeContext(spark: SparkSession, sfDir: String): DataFrame = {
    val h = hour(col("ts"))
    val dayName = date_format(col("ts"), "EEEE")
    Tables.events(spark, sfDir).select(
      col("event_id"),
      when(h.between(6, 11), 1).otherwise(0).cast("long").as("is_morning"),
      when(h.between(12, 17), 1).otherwise(0).cast("long").as("is_afternoon"),
      when(h < 6 || h >= 18, 1).otherwise(0).cast("long").as("is_evening"),
      when(dayName.isin("Saturday", "Sunday"), 1).otherwise(0).cast("long").as("is_weekend"),
      when(dayName.isin("Saturday", "Sunday"), 0).otherwise(1).cast("long").as("is_weekday"))
  }

  // --- F14: TF-IDF → truncated SVD text embeddings ---

  /** Raw per-(doc, term) occurrence counts — the ONE tokenize pass the
    * whole term-statistics family shares: the TF-IDF layer derives
    * `tfidf` from it, the BM25 probes (q149/q158/q161) filter their
    * query terms out of it instead of re-exploding the corpus, and the
    * heavy-hitter verification (q91/q100) takes exact counts from it.
    * Doc length and corpus totals derive from it EXACTLY — `dl = Σ tf`
    * equals `size(split(text, " "))` for every non-null text (split
    * returns ≥ 1 element, empty string included), and the fixture/lake
    * contract has no null text — so no downstream consumer pays a
    * second explode over the token stream. */
  def termFreqs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** [[termFreqs]] checkpointed once per (session, sfDir) — the
    * inverted-index build every term-statistics consumer probes
    * (narrow (doc_id, term, tf) rows, text never retained). */
  def materializedTermFreqs(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "term_freqs", sfDir)(termFreqs(spark, sfDir))

  /** Per-(doc, term) TF-IDF with sklearn-style smooth idf
    * (`ln((1+N)/(1+df)) + 1`), which is what the reference's TextWiser
    * TfIdf embedding wraps. Distributed shape: the shared
    * [[materializedTermFreqs]] pass → join the (vocab-sized) doc-freq
    * table, itself one aggregation over the same layer (`df` = rows
    * per term in the tf frame ≡ the former `tokens.distinct()` count,
    * since the tf frame is already one row per (doc, term)). */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = materializedTermFreqs(spark, sfDir)
    val nDocs = Tables.countOf(spark, sfDir, "documents")
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf", log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0)
    tf.join(broadcast(df_), "term")
      .select(col("doc_id"), col("term"),
        round(col("tf") * col("idf"), 6).as("tfidf"))
  }

  /** The MATERIALIZED TF-IDF postings layer: [[tfidf]] computed once
    * per (session, sfDir) and re-entered as a checkpointed frame — the
    * q34/q35/q77 pipelines all read the same postings. (Previously each
    * reader carried an ad-hoc `.cache()`, which pinned the corpus-sized
    * frame for the session lifetime outside the [[graft.Layers]]
    * eviction discipline and deduplicated across call sites only via
    * Spark's plan-equality cache match — one silent plan divergence
    * away from a doubled resident copy.) The layer is LRU-bounded and
    * releases its executor blocks on eviction. */
  def materializedTfidf(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "tfidf_postings", sfDir)(tfidf(spark, sfDir))

  /** Top-scoring term per document (deterministic tie-break) — the
    * oracle-checkable face of the TF-IDF pipeline. */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(desc("tfidf"), asc("term"))
    materializedTfidf(spark, sfDir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rnk"))
  }

  /** Dense TF-IDF vector per doc over a BOUNDED (sorted) vocabulary:
    * the `maxVocab` highest-document-frequency terms (ties → term asc),
    * selected with a distributed top-k (TakeOrdered — never a global
    * sort materialization) so the driver vocabulary collect is
    * bounded BY CONSTRUCTION (2048 terms) at any corpus
    * size — out-of-vocabulary tail terms simply contribute no
    * coordinates, the standard truncated-vocabulary TF-IDF semantics.
    * (The synthetic corpus vocabulary is far below the cap, so
    * the cap is invisible at test scale.) The open-vocabulary scale
    * twin remains [[textEmbeddingHashed]] (q77), which needs no
    * vocabulary at all. */
  private def tfidfVectors(spark: SparkSession, sfDir: String): (DataFrame, Int) = {
    val scores = materializedTfidf(spark, sfDir)
    val vocab = scores.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("term")).limit(2048)
      .select("term").collect().map(_.getString(0)).sorted
    val v = vocab.length
    // vocab index as a broadcast dimension join, then the native
    // scatter expression assembles the dense vector — no Scala UDF
    // anywhere in the pipeline. The join is LEFT and the in-vocab pairs
    // are collected as structs: a document whose every term is
    // out-of-vocabulary (possible once the cap binds at real corpus
    // scale) must still emit its zero vector — an inner join would
    // silently drop it, and independent collect_lists over a left join
    // would misalign indices with values when nulls drop.
    import spark.implicits._
    val vocabIdx = vocab.zipWithIndex.toSeq.toDF("term", "vocab_idx")
    val vecs = scores.join(broadcast(vocabIdx), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(collect_list(when(col("vocab_idx").isNotNull,
        struct(col("vocab_idx").as("i"), col("tfidf").as("t")))).as("pairs"))
      .select(col("doc_id"),
        graft.functions.scatterDense(
          expr("transform(pairs, p -> p.i)"),
          expr("transform(pairs, p -> p.t)"), v).as("vec"))
    (vecs, v)
  }

  /** F14: truncated-SVD embedding, k dims, via DISTRIBUTED randomized
    * subspace iteration (Halko, Martinsson & Tropp 2011) — the V×V
    * gram matrix is never materialized, on the executors OR the
    * driver. Each pass applies `A = GᵀG` to a V×l block (l = k + 6
    * oversampling) as one map-side-combined aggregation over the
    * document vectors; the only driver-sized object in the whole
    * pipeline is that V×l iterate — the same V×k shape the final
    * projection broadcast already requires — so vocabulary growth
    * costs the driver O(V·k), never O(V²). Right-singular-vector
    * signs are canonicalized (first nonzero coordinate positive) so
    * the embedding is deterministic across runs. */
  def textEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val (vecs, v) = tfidfVectors(spark, sfDir)
    svdProject(spark, vecs, v, EmbeddingDims)
  }

  /** The SVD embeddings' dimension (both vector spaces). */
  val EmbeddingDims = 10

  /** Shared truncated-SVD projection: randomized subspace iteration on
    * the `vec` column (dimension `v`), Rayleigh–Ritz on the driver
    * (l×l, config-bounded), broadcast the V×k projection back. Works
    * for the vocab-indexed AND the feature-hashed vector spaces — `v`
    * is vocab size for one, the fixed hash dimension for the other.
    *
    * Scale shape per pass: executors fold `Z = Σ_docs x·(xᵀQ)` into a
    * V×l partition accumulator (map-side combine over the corpus —
    * the corpus never moves), treeReduce ships V×l partials. Three
    * A-applications (⇒ G⁶ in singular-value terms) plus one
    * Rayleigh–Ritz pass; spectra of TF-IDF grams decay fast, so the
    * dominant subspace converges well inside that. The l×l projected
    * eigenproblem reuses the Jacobi solver ([[graft.ml.LinAlg.symEigDesc]])
    * at block size, where it is trivially cheap. */
  private[features] def svdProject(spark: SparkSession, vecs: DataFrame, v: Int,
                                   k: Int): DataFrame = {
    val proj = svdBasis(spark, vecs, v, k)
    // native projection expression: the V×k matrix rides into codegen
    // as a reference object, the per-row fold is one static JVM call
    vecs.select(col("doc_id"),
      graft.functions.matVecProject(col("vec"), proj, v, k).as("embedding"))
  }

  /** The fitted V×k projection basis behind [[svdProject]] (row-major,
    * column j = j-th sign-canonicalized Ritz vector) — exposed so the
    * envelope queries (q35/q77) can assert the basis contract
    * (orthonormal columns, zero columns only for rank deficiency)
    * driver-side without re-fitting. */
  private[features] def svdBasis(spark: SparkSession, vecs: DataFrame, v: Int,
                                 k: Int): Array[Double] = {
    import spark.implicits._
    val l = math.min(k + 6, v) // oversampled block width
    val rows = vecs.select(col("vec")).as[Array[Double]].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // One distributed pass: Z = A·Q = Σ_x x (xᵀ Q), Q and Z both V×l
    // row-major. Per-partition V×l accumulator, fixed fold order
    // inside a partition; the block rides to executors in the task
    // closure (V·l doubles, k-bounded).
    def applyGram(qMat: Array[Double]): Array[Double] =
      rows.mapPartitions { it =>
        val acc = new Array[Double](v * l)
        val s = new Array[Double](l)
        it.foreach { x =>
          java.util.Arrays.fill(s, 0.0)
          var i = 0
          while (i < v) {
            val xi = x(i)
            if (xi != 0.0) {
              var j = 0
              while (j < l) { s(j) += xi * qMat(i * l + j); j += 1 }
            }
            i += 1
          }
          i = 0
          while (i < v) {
            val xi = x(i)
            if (xi != 0.0) {
              var j = 0
              while (j < l) { acc(i * l + j) += xi * s(j); j += 1 }
            }
            i += 1
          }
        }
        Iterator.single(acc)
      }.treeReduce { (a, b) =>
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      }

    // Modified Gram–Schmidt over the l columns of a V×l block; a
    // rank-deficient column zeroes out (its Ritz value lands at ~0 and
    // the corresponding embedding coordinate is 0 — harmless).
    def orthonormalize(m: Array[Double]): Array[Double] = {
      val q = m.clone()
      var j = 0
      while (j < l) {
        var p = 0
        while (p < j) {
          var dot = 0.0
          var i = 0
          while (i < v) { dot += q(i * l + j) * q(i * l + p); i += 1 }
          i = 0
          while (i < v) { q(i * l + j) -= dot * q(i * l + p); i += 1 }
          p += 1
        }
        var nrm = 0.0
        var i = 0
        while (i < v) { nrm += q(i * l + j) * q(i * l + j); i += 1 }
        nrm = math.sqrt(nrm)
        if (nrm > 1e-12) { i = 0; while (i < v) { q(i * l + j) /= nrm; i += 1 } }
        else { i = 0; while (i < v) { q(i * l + j) = 0.0; i += 1 } }
        j += 1
      }
      q
    }

    // Seeded deterministic start block — same Ω every run.
    val rng = new java.util.SplittableRandom(0x5eed5eedL)
    var q = orthonormalize(Array.fill(v * l)(rng.nextDouble() * 2.0 - 1.0))
    var z: Array[Double] = null
    var pass = 0
    while (pass < 3) { z = applyGram(q); q = orthonormalize(z); pass += 1 }
    z = applyGram(q) // final A·Q for the Rayleigh–Ritz projection
    rows.unpersist(blocking = false)

    // B = Qᵀ(A·Q), l×l symmetric — eigen-factor at block size on the
    // driver; Ritz vectors U = Q·W approximate the top right singular
    // vectors, eigenvalue-descending by symEigDesc's contract.
    val b = new Array[Double](l * l)
    var p = 0
    while (p < l) {
      var j = 0
      while (j < l) {
        var dot = 0.0
        var i = 0
        while (i < v) { dot += q(i * l + p) * z(i * l + j); i += 1 }
        b(p * l + j) = dot
        j += 1
      }
      p += 1
    }
    val w = graft.ml.LinAlg.symEigDesc(b, l)._2
    val proj = new Array[Double](v * k) // column j = j-th right singular vector
    var j = 0
    while (j < math.min(k, l)) {
      val u = new Array[Double](v) // U[:, j] = Q · W[:, j]
      var i = 0
      while (i < v) {
        var dot = 0.0
        p = 0
        while (p < l) { dot += q(i * l + p) * w(p * l + j); p += 1 }
        u(i) = dot
        i += 1
      }
      // canonical sign: first nonzero component positive
      i = 0
      var sign = 0.0
      while (i < v && sign == 0.0) {
        if (math.abs(u(i)) > 1e-12) sign = math.signum(u(i))
        i += 1
      }
      if (sign == 0.0) sign = 1.0
      i = 0
      while (i < v) { proj(i * k + j) = u(i) * sign; i += 1 }
      j += 1
    }
    proj
  }

  /** Flat query surface for the embedding (first 4 dims as columns). */
  def textEmbeddingQuery(spark: SparkSession, sfDir: String): DataFrame =
    textEmbedding(spark, sfDir).select(
      col("doc_id"),
      element_at(col("embedding"), 1).as("e0"),
      element_at(col("embedding"), 2).as("e1"),
      element_at(col("embedding"), 3).as("e2"),
      element_at(col("embedding"), 4).as("e3"))

  /** The fixed dimension of the feature-hashed TF-IDF space. */
  val HashDim = 256

  /** F14, OPEN-VOCABULARY form: feature-hashed TF-IDF vectors of fixed
    * dimension [[HashDim]] — `bucket = pmod(xxhash64(term), dim)` with a ±1
    * sign hash so colliding terms cancel in expectation (the standard
    * hashing-trick construction). No driver-side vocabulary exists at
    * any point: where [[tfidfVectors]] collects the distinct-term list
    * (fine for this closed synthetic corpus, unbounded on a real one —
    * the self-acknowledged limit of the dense path), this pipeline's
    * only driver-sized object is the dim×dim gram matrix, fixed by
    * configuration. Per-bucket sums run in DECIMAL(28,6) (tfidf is
    * already rounded to 6 dp) so the hashed vectors are exact and
    * partitioning-independent. */
  private[graft] def tfidfHashedVectors(spark: SparkSession, sfDir: String): DataFrame = {
    val scores = materializedTfidf(spark, sfDir)
    val bucket = pmod(xxhash64(col("term")), lit(HashDim)).cast("int")
    val sign = when(pmod(xxhash64(col("term"), lit(1)), lit(2)) === 0, 1.0)
      .otherwise(-1.0)
    scores
      .withColumn("bucket", bucket)
      .withColumn("sv", (col("tfidf") * sign)
        .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sv")).cast("double").as("v"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("bucket")).as("buckets"), collect_list(col("v")).as("vals"))
      .select(col("doc_id"),
        graft.functions.scatterDense(col("buckets"), col("vals"), HashDim).as("vec"))
  }

  /** [[textEmbedding]] over the feature-hashed space: the same SVD
    * projection ([[svdProject]]), but the gram matrix is dim×dim by
    * configuration instead of V×V by corpus — the variant that survives
    * an unbounded vocabulary. Near-dup preservation is spec-asserted
    * (identical texts ⇒ identical embeddings; high-Jaccard pairs stay
    * high-cosine vs the random-pair background). */
  def textEmbeddingHashed(spark: SparkSession, sfDir: String): DataFrame =
    svdProject(spark, tfidfHashedVectors(spark, sfDir), HashDim, EmbeddingDims)

  // --- Envelope (checked) query surfaces for the SVD embeddings ---
  //
  // The embedding VALUES are solver-bound (the fitted subspace is only
  // defined up to the iteration's convergence tolerance, and no external
  // SQL engine can replay an SVD), so q35/q77 spent eleven rounds as
  // rows-only checks. The envelope promotion applies the q84/q114
  // pattern: the query output becomes the oracle-checkable CONTRACT of
  // the pipeline — per-doc exact input-side values DuckDB recomputes
  // bit-for-bit, plus boolean flags asserting the projection guarantees
  // (finiteness, contraction, basis orthonormality, captured energy).
  // A broken solver, a scrambled scatter, or a misaligned projection
  // flips a flag and hash-mismatches the round it happens; the raw
  // embedding surface stays spec-covered (determinism + near-dup
  // preservation in FeaturesSpec).

  /** Max deviation of the fitted basis from "orthonormal or zero"
    * columns: off-diagonal |PᵢᵀPⱼ| and diagonal |‖Pⱼ‖²−1| (a zeroed
    * rank-deficient column contributes |0| / |0−0|). Driver-side on the
    * V×k basis — k²·V work, corpus-independent. */
  private[features] def basisResidual(proj: Array[Double], v: Int, k: Int): Double = {
    var worst = 0.0
    var a = 0
    while (a < k) {
      var b = a
      while (b < k) {
        var dot = 0.0
        var i = 0
        while (i < v) { dot += proj(i * k + a) * proj(i * k + b); i += 1 }
        val dev =
          if (a != b) math.abs(dot)
          else if (dot < 0.25) math.abs(dot) // zeroed column: ‖Pⱼ‖² ≈ 0
          else math.abs(dot - 1.0)
        if (dev > worst) worst = dev
        b += 1
      }
      a += 1
    }
    worst
  }

  /** The lazy per-doc projection plan the envelope checkpoints —
    * exposed separately so the plan audit can assert on the BUILD
    * pipeline (native `mat_vec_project`, zero UDFs), which the
    * query-facing frame reads as a `LogicalRDD` face. */
  private[graft] def envelopeProjection(vecs: DataFrame, proj: Array[Double],
                                        v: Int, k: Int): DataFrame =
    vecs.select(col("doc_id"),
      graft.functions.matVecProject(col("vec"), proj, v, k).as("emb"),
      expr("aggregate(vec, 0D, (a, x) -> a + x * x)").as("vec_n2"))
      .withColumn("emb_n2", expr("aggregate(emb, 0D, (a, e) -> a + e * e)"))
      .withColumn("finite", expr(
        "forall(emb, e -> e IS NOT NULL AND NOT isnan(e) AND abs(e) < 'Infinity')"))
      // P has (near-)orthonormal columns ⇒ ‖Px‖ ≤ ‖x‖; the slack covers
      // the asserted basis tolerance plus fold rounding
      .withColumn("contractive",
        col("emb_n2") <= col("vec_n2") * (1.0 + 1e-6) + 1e-9)

  /** Shared envelope build: per-doc exact TF-IDF energy (decimal —
    * DuckDB replays it bit-for-bit) + the projection contract flags.
    * `vecs` is the projected input space (vocab-indexed or hashed);
    * contraction is asserted against ITS per-doc energy, capture as the
    * decimal-summed global ratio (partitioning-independent by
    * construction — double sums across docs would inherit partial-agg
    * order). */
  private def embeddingEnvelope(spark: SparkSession, sfDir: String,
                                vecs: DataFrame, v: Int, k: Int,
                                captureFloor: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val proj = svdBasis(spark, vecs, v, k)
    // residual measured ~5e-15 across the three SFs for both spaces;
    // the 1e-8 bound is the contract, not the observation
    val orthoOk = basisResidual(proj, v, k) <= 1e-8

    // checkpointed: the capture aggregate below is an ACTION on this
    // frame, and the final per-doc select reads it again — without the
    // materialization the whole vector pipeline + projection would run
    // twice. The frame is tiny (one row per doc: two norms + the k-dim
    // embedding).
    val scored = envelopeProjection(vecs, proj, v, k).localCheckpoint()

    // Captured energy Σ‖Px‖²/Σ‖x‖² — both sums in fixed-scale decimal so
    // the ratio (and the flag) is exact under any partitioning.
    val cap = scored.agg(
      sum(round(col("emb_n2"), 9).cast(DecimalType(38, 9))).as("se"),
      sum(round(col("vec_n2"), 9).cast(DecimalType(38, 9))).as("sv"))
      .select((col("se") / col("sv")).cast("double")).head().getDouble(0)
    val captureOk = cap >= captureFloor

    // Exact-checked column: per-doc TF-IDF energy over the FULL term
    // frame (not the vocab-capped vector), which is what DuckDB
    // recomputes — 6dp·6dp products are exact 12dp decimals, summed in
    // decimal, so the value is engine- and partitioning-exact. (The
    // contraction flag above deliberately uses the vector-space energy;
    // the frame energy only upper-bounds it once the vocab cap binds.)
    val frameN2 = materializedTfidf(spark, sfDir)
      .groupBy("doc_id")
      .agg(round(sum(round(col("tfidf") * col("tfidf"), 12)
        .cast(DecimalType(38, 12))).cast("double"), 6).as("tfidf_norm2"))

    scored.join(frameN2, "doc_id").select(
      col("doc_id"),
      col("tfidf_norm2"),
      lit(k.toLong).as("n_dims"),
      col("finite"),
      col("contractive"),
      lit(orthoOk).as("proj_orthonormal"),
      lit(captureOk).as("capture_ok"))
  }

  /** q35's checked form: the dense-vocabulary SVD embedding's envelope.
    * Capture floor 0.50 — measured 0.795/0.815/0.821 (sf0.1/0.01/0.001)
    * with k=10, so the floor has a wide margin while still refuting a
    * junk subspace (a random rank-10 basis over this corpus captures
    * ~k/V ≈ 0.32 of the energy at best). */
  def textEmbeddingCheckedQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val (vecs, v) = tfidfVectors(spark, sfDir)
    embeddingEnvelope(spark, sfDir, vecs, v, EmbeddingDims, captureFloor = 0.50)
  }

  /** q77's checked form: the feature-hashed SVD embedding's envelope
    * (capture measured 0.813–0.837 across the three SFs; same 0.50
    * floor — a random rank-10 basis in the 256-dim hashed space
    * captures ~0.04). */
  def textEmbeddingHashedCheckedQuery(spark: SparkSession, sfDir: String): DataFrame =
    embeddingEnvelope(spark, sfDir, tfidfHashedVectors(spark, sfDir),
      HashDim, EmbeddingDims, captureFloor = 0.50)

  /** F15: context assembly — fixed-order feature vector from the joined
    * feature frames (user one-hots + time context), the exact shape the
    * reference builds per request (`eda_recommender.py:100-101`). */
  def contextVectors(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"), col("ts"))
    val users = customerFeatures(spark, sfDir)
    val time = timeContext(spark, sfDir)
    ev.join(users, ev("user_id") === users("user_id"), "left")
      .join(time, "event_id")
      .select(col("event_id"),
        array(
          coalesce(col("seg_automobile"), lit(0L)).cast("double"),
          coalesce(col("seg_building"), lit(0L)).cast("double"),
          coalesce(col("seg_furniture"), lit(0L)).cast("double"),
          coalesce(col("seg_household"), lit(0L)).cast("double"),
          coalesce(col("seg_machinery"), lit(0L)).cast("double"),
          coalesce(col("acctbal_scaled"), lit(0.0)),
          col("is_morning").cast("double"),
          col("is_afternoon").cast("double"),
          col("is_evening").cast("double"),
          col("is_weekend").cast("double")).as("context_vector"))
  }
}
