package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Lexical retrieval over the corpus — BM25 (Robertson & Zaragoza
  * 2009, "The Probabilistic Relevance Framework"), the scoring the
  * reference stack delegates to its search engine and every curation
  * pipeline uses for targeted corpus probes ("find the docs about X"
  * before a removal or upweight decision).
  */
object Retrieval {

  /** BM25 free parameters — the standard defaults. */
  val K1 = 1.2
  val B = 0.75

  /** q149's fixed probe — terms present in the synthetic vocabulary so
    * the ranking exercises real tf/df spread. */
  val QueryTerms: Seq[String] = Seq("spark", "merge", "window")

  /** BM25 top-k: score = Σ_t ln(1 + (N − df + ½)/(df + ½)) ·
    * tf(k₁+1)/(tf + k₁(1 − b + b·dl/avgdl)) over the query terms.
    *
    * Scale shape: the query probes the session's inverted index — the
    * shared [[graft.features.Features.materializedTermFreqs]] layer —
    * so only postings of the |q| query terms leave the (narrow,
    * text-free) index scan; the corpus is never re-tokenized per
    * query. The df table is |q| rows and the corpus totals one row,
    * both broadcast; doc length joins tf on doc_id (narrow,
    * payload-free, itself a one-agg derivation of the same index —
    * [[docLengths]]). The final top-k is `orderBy.limit` — Spark's
    * distributed take-ordered, one k-row reduction per partition, NO
    * global window (ranks are assigned after the k-row cut). Per-term
    * scores round to 9dp-decimal before the per-doc sum
    * (order-independent fold). */
  def bm25TopK(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val tf = graft.features.Features.materializedTermFreqs(spark, sfDir)
      .filter(col("term").isin(QueryTerms: _*))
      .select(col("doc_id"), col("term").as("t"), col("tf"))
    bm25Ranked(docLengths(spark, sfDir), tf, k, excludeDocId = None)
  }

  /** Per-document token count from the term-frequency index: `Σ tf`
    * per doc — exactly `size(split(text, " "))` for every non-null
    * text (see [[graft.features.Features.termFreqs]]), without a
    * second pass over the raw text column. */
  private def docLengths(spark: SparkSession, sfDir: String): DataFrame =
    graft.features.Features.materializedTermFreqs(spark, sfDir)
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  /** The BM25 scoring core shared by the literal-probe (q149) and
    * query-by-document (q161) entry points: `tf` arrives pre-filtered
    * to the query's terms — postings of |q| terms, never the corpus
    * token stream — and everything downstream is the q149 plan
    * verbatim (broadcast df table, one-row totals broadcast,
    * 9dp-decimal term scores, distributed take-ordered cut, rank
    * window over the k survivors). `excludeDocId` drops the query
    * document from the RANKING only — corpus statistics (dl, avgdl,
    * df) keep the full corpus, the standard more-like-this contract. */
  private def bm25Ranked(dl: DataFrame, tf: DataFrame, k: Int,
                         excludeDocId: Option[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = dl.agg(sum(col("dl")).cast("double").as("sum_dl"),
      count(lit(1)).as("n_docs"))
    val dft = tf.groupBy(col("t")).agg(count(lit(1)).as("dft"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5)))
    val tfNorm = col("tf") * (lit(K1) + 1.0) /
      (col("tf") + lit(K1) * (lit(1.0) - lit(B) +
        lit(B) * (col("dl").cast("double") / (col("sum_dl") / col("n_docs")))))
    val ranked = tf
      .join(dl, "doc_id")
      .join(broadcast(dft), "t")
      .crossJoin(broadcast(tot))
      .withColumn("term_score", round(idf * tfNorm, 9).cast(DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        round(sum(col("term_score")).cast("double"), 6).as("score"))
    val scored = excludeDocId match {
      case Some(q) => ranked.filter(col("doc_id") =!= q)
      case None => ranked
    }
    // rank assigned AFTER the distributed k-row cut — the window runs
    // over k rows, not the corpus
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
  }

  /** q161's fixed probe document. */
  val MltQueryDoc: Long = 0L

  /** q161: more-like-this — query-by-document BM25 (the Lucene/ES
    * `more_like_this` contract): the query's term set is DERIVED from
    * the probe document (its 3 top TF-IDF terms, the shared q34
    * postings layer, 6dp round + term tie-break), then scored with the
    * exact q149 BM25 core against the full corpus minus the probe doc.
    *
    * Scale shape: term selection reads the materialized TF-IDF layer
    * filtered to ONE doc_id (partition-prunable on a real lake) and
    * take-orders m rows; the m-row term frame drives a broadcast
    * semi-filter on the term-frequency index — same postings bound as q149
    * with the literal probe, so corpus cost is independent of how the
    * terms were chosen. */
  def moreLikeThis(spark: SparkSession, sfDir: String): DataFrame = {
    val qterms = graft.features.Features.materializedTfidf(spark, sfDir)
      .filter(col("doc_id") === MltQueryDoc)
      .orderBy(col("tfidf").desc, col("term").asc).limit(3)
      .select(col("term").as("t"))
    val tf = graft.features.Features.materializedTermFreqs(spark, sfDir)
      .join(broadcast(qterms), col("term") === col("t"))
      .select(col("doc_id"), col("t"), col("tf"))
    bm25Ranked(docLengths(spark, sfDir), tf, 10, excludeDocId = Some(MltQueryDoc))
  }

  /** RRF smoothing constant — the k=60 of Cormack et al. 2009. */
  val RrfK = 60

  /** Reciprocal-rank fusion of two ranked lists (Cormack, Clarke &
    * Buettcher 2009): score(d) = Σ_lists 1/(k + rank_list(d)), absent
    * ranks contribute 0. Pure k-row-frame algebra — a full-outer join
    * of two ≤kEach-row inputs, then one take-ordered cut — so the cost
    * lives entirely in the upstream retrieval stages. */
  def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)), 6))
    fused.orderBy(col("rrf_score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf_score"), col("rank"))
  }

  /** q158: hybrid retrieval — the BM25 lexical list (fixed 3-term
    * probe) fused with the dense semantic list (exact cosine for query
    * vector 0, the doc_id = vec_id fixture pairing) by reciprocal-rank
    * fusion, the standard hybrid-search shape every modern retrieval
    * stack ships (lexical + vector + RRF). Each side contributes its
    * top 20; fusion itself is k-row algebra ([[rrfFuse]]), so the
    * operator's scale profile is exactly max(q149, q24) — and on a
    * real deployment the semantic side swaps to any of the bounded ANN
    * stages (IVF q44, ADC q135, Hamming q159) without touching the
    * fusion. */
  def hybridTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val kEach = 20
    val lex = bm25TopK(spark, sfDir, k = kEach)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val sem = Similarity.bruteForceTopK(spark, sfDir, nQueries = 1, k = kEach)
      .select(col("nbr_id").as("doc_id"), col("rank").as("sem_rank"))
    rrfFuse(lex, sem, 10)
  }

  /** q154's fixed probe phrase. */
  val Phrase: Seq[String] = Seq("spark", "window")

  /** Exact-phrase search via positional postings — the operator a
    * search engine layers under quoted queries, and a curation
    * pipeline uses to locate a literal string (a leaked prompt, a
    * boilerplate sentence) across the corpus: per matching document,
    * the occurrence count and the first match position (1-based).
    *
    * Scale shape: the tokenize pass keeps positions ONLY for the
    * phrase's terms (the isin filter runs inside the posting
    * projection), so the shuffle carries |phrase| narrow posting
    * streams, never the corpus token stream. Adjacency is a
    * (doc_id, pos) equi-join per subsequent term — each join keyed,
    * each side pre-filtered to one term's postings; the final count
    * is one doc-keyed aggregation. At |phrase| = m that is m−1
    * narrow joins, the inverted-index plan, never a per-document
    * scan-and-regex. */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "t")))
      .filter(col("t").isin(Phrase: _*))
      // 1-based positions, matching the oracle's range(1, len+1) walk
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("t"))
    val first = tok.filter(col("t") === Phrase.head)
      .select(col("doc_id"), col("pos"))
    val matches = Phrase.zipWithIndex.tail.foldLeft(first) {
      case (cur, (w, i)) =>
        cur.join(
          tok.filter(col("t") === w)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matches.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
  }
}
