package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** The one vector-search path every nearest-neighbour family runs
  * (brute force, SRP-LSH, IVF, PQ, residual PQ, SQ8, binary sign
  * codes): prune candidates with an index, score the survivors, keep
  * each query's top k, and price the pruning as recall against the
  * exact baseline. Each step exists once, here; a family is its codec —
  * the `codes` column it encodes and the score expression it ranks by.
  *
  *  - [[fit]]: Lloyd iterations over m subspaces × k codes (IVF is
  *    m = 1, PQ m = 8), DECIMAL(28,12) per-(cell, dim) means;
  *  - [[withCodes]]: per-subspace native argmin assignment;
  *  - [[encodedLayer]]: the build-once checkpointed index table;
  *  - [[queryFrame]] / [[probed]]: the bounded query batch and its
  *    per-(query, probed cell) rows;
  *  - [[candidates]] → [[topK]]: the broadcast candidate join and the
  *    per-query rank tail (score, then vec_id);
  *  - [[recall]]: |ann ∩ brute| / |brute| per query.
  */
object Ann {

  /** `books(s)(code)(dim)`: m subspace codebooks of k codes each. */
  type Books = Array[Array[Array[Double]]]

  /** Lloyd iterations every fitted quantizer runs (IVF cells, PQ and
    * residual-PQ codebooks): TF-IDF-ish fixture spectra converge fast,
    * and every added iteration doubles the oracles' unrolled CTE chain. */
  val DefaultIters = 2

  /** The serving batch of every ANN query and recall gate: the
    * [[NQueries]] lowest vec_ids, each asking for its [[TopK]] nearest
    * neighbours. */
  val NQueries = 10
  val TopK = 5

  /** Cells of the fixed-k IVF fit (the `ivf_centroids` layer at k = 16)
    * that the probing, profiling and IVF-PQ/SQ8 families share. */
  val Cells = 16

  /** The `(vec_id, embedding)` corpus every fit and encode reads,
    * spread over the session's cores ([[Similarity.spread]]). */
  private[operators] def corpus(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"))

  /** `df` narrowed to `(vec_id, extra…, embedding, nrm)` — the cosine
    * scorers' input shape. */
  private[operators] def normed(df: DataFrame, extra: String*): DataFrame =
    df.select((col("vec_id") +: extra.map(col)) ++
      Seq(col("embedding"), Similarity.l2norm(col("embedding")).as("nrm")): _*)

  /** THE Lloyd fit over an arbitrary `(vec_id, embedding)` frame —
    * `m` subspaces of `d/m` dims, `k` codes each; IVF is m = 1, where
    * `slice(embedding, 1, d)` is the whole vector. Deterministic init
    * from the k lowest vec_ids (a corpus smaller than k yields one code
    * per vector — callers size off the FITTED length). All m subspaces
    * update in ONE distributed pass per iteration: assignment is the
    * codegen'd argmin ([[withCodes]]), and the update a single
    * (subspace, code, dim)-keyed aggregation of DECIMAL(28,12) sums over
    * the float values (lossless for ≤ 9-significant-digit floats)
    * divided by the count — associative-stable, so the fitted books are
    * IDENTICAL under any partitioning and the oracles replay the fit in
    * SQL. A code no vector chose keeps its previous centroid. */
  private[graft] def fit(vecs: DataFrame, m: Int, k: Int, iters: Int): Books = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val e = vecs.select(col("vec_id"), col("embedding")).cache()
    val init = e.orderBy("vec_id").limit(k)
      .select("embedding").as[Array[Float]].collect()
    require(init.nonEmpty, "cannot fit a quantizer on an empty embeddings frame")
    val d = init.head.length
    require(d % m == 0, s"subspace count $m must divide dimension $d")
    val sub = d / m
    var books: Books = Array.tabulate(m) { s =>
      init.map(v => v.slice(s * sub, (s + 1) * sub).map(_.toDouble))
    }
    for (_ <- 0 until iters) {
      // global dim → (s, code) via the assignment array
      val cells = withCodes(e, books)
        .select(col("codes"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("s", (col("dim") / sub).cast("int"))
        .withColumn("code", element_at(col("codes"), col("s") + 1))
        .groupBy("s", "code", "dim")
        .agg((sum(col("v").cast(DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("m"))
        .as[(Int, Int, Int, Double)].collect()
      val next = books.map(_.map(_.clone()))
      cells.foreach { case (s, code, dim, mean) => next(s)(code)(dim - s * sub) = mean }
      books = next
    }
    e.unpersist()
    books
  }

  /** A fitted model, kept in the store under the layer `name` and the
    * key (sfDir, k, iters): one name per model family, k in the key, so
    * the fixed-k IVF fit and the corpus-derived-k fit share
    * `ivf_centroids`. */
  private[operators] def fitted(spark: SparkSession, name: String, sfDir: String,
                                k: Int, iters: Int)(fit: => Books): Books =
    graft.Layers.value(spark, name, (sfDir, k, iters))(fit)

  /** Per-row code assignment: one argmin per subspace over the sliced
    * `embedding` (squared-L2, ties → lowest code: the oracle's
    * `min(struct_pack(d, cl))`), collected into `codes: array<int>`. */
  private[graft] def withCodes(df: DataFrame, books: Books): DataFrame = {
    val sub = books.head.head.length
    df.withColumn("codes", array(books.indices.map(s =>
      Ivf.assignExpr(books(s))(slice(col("embedding"), s * sub + 1, sub))): _*))
  }

  /** THE build-once encoded index layer: one pass over the corpus that
    * assigns each vector its coarse cell (`kClusters > 0`: the session
    * IVF fit at that k) and hands the frame to the codec's `encode`,
    * which adds `codes`; the `(vec_id, [cluster,] codes)` result is
    * checkpointed per (session, layer `name`, sfDir, kClusters), so serving
    * pays probes only — FAISS builds its code table once too. `spread`
    * keeps each codec's input partitioning (and with it the layer's
    * exchange count). */
  private[operators] def encodedLayer(spark: SparkSession, sfDir: String, name: String,
                                      kClusters: Int = 0, spread: Boolean = true)(
      encode: DataFrame => DataFrame): DataFrame =
    graft.Layers.frame(spark, name, (sfDir, kClusters)) {
      val e =
        if (spread) corpus(spark, sfDir)
        else Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      val cells = if (kClusters <= 0) e else e.withColumn("cluster", Ivf.assignExpr(
        Ivf.fittedCentroids(spark, sfDir, kClusters, DefaultIters))(col("embedding")))
      val keep = if (kClusters <= 0) Seq("vec_id", "codes") else Seq("vec_id", "cluster", "codes")
      encode(cells).select(keep.map(col): _*)
    }

  /** The bounded serving batch: the `nQueries` lowest vec_ids of `e`,
    * `vec_id` renamed to `qid` and each `(from, to)` column to its query
    * name. */
  private[operators] def queryFrame(e: DataFrame, nQueries: Int,
                                    cols: (String, String)*): DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid") +: cols.map { case (f, t) => col(f).as(t) }: _*)

  /** One row per (query, probed cell): the query's `nProbe` nearest
    * cells by the codegen'd argmin over `qemb`, in `probe`. */
  private[operators] def probed(q: DataFrame, centroids: Array[Array[Double]],
                                nProbe: Int): DataFrame =
    q.withColumn("probe", explode(Ivf.nearestClusters(centroids, nProbe)(col("qemb"))))

  /** Candidate pairs: the corpus side streams, the bounded query side
    * broadcasts, `on` prunes (bucket or cell equality), and a query is
    * never its own neighbour. A cell-pruned corpus row sits in exactly
    * one cell, so it matches at most one probe row per query. */
  private[operators] def candidates(corpus: DataFrame, q: DataFrame,
                                    on: Column = lit(true)): DataFrame =
    corpus.join(broadcast(q), on && col("vec_id") =!= col("qid"))

  /** THE per-query rank tail: `row_number` within each `keys` group
    * ordered by `order`, then `tie` (vec_id ascending by default), as
    * a long `rank`, keeping rank ≤ k. Scores are 4dp-rounded upstream,
    * so the tie-break makes the selected row set unique. */
  private[operators] def topK(scored: DataFrame, k: Int, order: Column,
                              keys: Seq[String] = Seq("qid"),
                              tie: Column = asc("vec_id")): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order, tie)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[topK]] by descending `score`, as the serving surface
    * `(qid, nbr_id, rank, score)`. */
  private[operators] def ranked(scored: DataFrame, score: String, k: Int): DataFrame =
    topK(scored, k, desc(score))
      .select(col("qid"), col("vec_id").as("nbr_id"), col("rank"), col(score))

  /** THE recall arithmetic: one row per (`grid`…, qid), |ann ∩ brute|
    * divided by the query's ACTUAL brute-list size — never the `topk`
    * parameter: on a corpus with fewer than topk+1 vectors both lists
    * shorten, and a topk denominator would under-report a perfect match
    * as < 1. The left join keeps a query whose ANN list misses the
    * brute set entirely, at recall 0. */
  private[operators] def recall(ann: DataFrame, bruteTopK: DataFrame,
                                grid: String*): DataFrame = {
    val brute = bruteTopK.select(col("qid"), col("nbr_id"), lit(1L).as("hit"))
    // ≤ nQueries rows — a broadcast-sized denominator frame
    val bruteK = brute.groupBy(col("qid")).agg(count(lit(1)).as("brute_k"))
    val keys = (grid :+ "qid").map(col)
    ann.select(keys :+ col("nbr_id"): _*)
      .join(brute, Seq("qid", "nbr_id"), "left")
      .groupBy(keys: _*)
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .join(broadcast(bruteK), Seq("qid"))
      .select(keys :+
        round(col("hits").cast("double") / col("brute_k"), 4).as("recall"): _*)
  }
}
