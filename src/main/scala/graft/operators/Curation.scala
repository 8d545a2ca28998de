package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The end-to-end nightly curation query (q145): the single query a
  * training-data pipeline runs to materialize "tonight's training set"
  * — every stage an existing, individually-oracle-checked operator,
  * composed through the session's materialized layers so each layer is
  * built once and read once:
  *
  *   1. substring-level dedup strip (q134, `dup_spans` layer): cut
  *      corpus-duplicated ≥8-token spans out of every document
  *      (Lee et al. 2022) — boilerplate removal BEFORE quality
  *      scoring, so templated headers can't buy a document its
  *      stopword quota;
  *   2. quality + language gate (the q27/q28 composite of q62) over
  *      the CLEANED text — [[TextOps.qualityGate]] +
  *      [[TextOps.englishArgmax]], one projection, no second corpus
  *      scan;
  *   3. near-dup canonical keep (q61 semantics, `dedup_clusters`
  *      layer): survivors are their own cluster representative;
  *   4. semantic dedup keep (q129, the session IVF layer at the
  *      corpus-derived k): drop embedding-space near-copies within
  *      each cell, min-id dominance;
  *   5. mixture-weighted sampling (q97): per-language keep rates from
  *      the sqrt-smoothed token budget, decided by the deterministic
  *      doc-id hash.
  *
  * Scale shape: stages 2 and 5's predicates are map-side; every join
  * is a doc-keyed equi-join against a frame no larger than the corpus
  * (labels, semantic survivors, the 5-row broadcast rate table); the
  * only corpus-shaped shuffles are the ones the component operators
  * already pay (the span table's gram pass, the cluster labels, the
  * within-cell dominance join) — each paid ONCE via its session layer
  * regardless of how many consumers the session runs.
  *
  * Output: one row per kept document — the training set with its
  * cleaned text, semantic cell (for downstream balanced sampling),
  * and per-doc accounting of what the strip removed.
  */
object Curation {

  /** Stages 1+2 of the chain — substring strip (dup_spans layer) with
    * the quality + English gate bound to the CLEANED text. Shared by
    * [[trainingSet]] and the q172 funnel so the gate population has
    * exactly one definition.
    *
    * MATERIALIZED once per (session, sfDir): FIVE chains read this
    * frame (q145, q146, q153, q172, q175), and before the checkpoint
    * each re-paid the span strip's per-doc array filter plus the
    * quality/language scoring over the full text column. The
    * checkpoint holds the gate survivors with their cleaned text —
    * exactly the "cleaned corpus" artifact a real pipeline writes
    * between its strip and curation stages. */
  private def gatedCleaned(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "gated_clean_docs", sfDir)(gatedCleanedUncached(spark, sfDir))

  /** Package-visible layer warmer (Bench builds the cache entry the
    * chains probe, so the strip+gate cost is layer-accounted). */
  private[graft] def materializedGated(spark: SparkSession,
                                       sfDir: String): DataFrame =
    gatedCleaned(spark, sfDir)

  private def gatedCleanedUncached(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.stripDupSpans(spark, sfDir)
      .select(col("doc_id"), col("n_removed"),
        col("clean_text").as("text"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_stop", TextOps.stopHits)
      .withColumn("score_en", TextOps.markerHits(TextOps.EnMarkers))
      .withColumn("score_es", TextOps.markerHits(TextOps.EsMarkers))
      .withColumn("score_de", TextOps.markerHits(TextOps.DeMarkers))
      .withColumn("score_fr", TextOps.markerHits(TextOps.FrMarkers))
      .filter(TextOps.qualityGate && TextOps.englishArgmax)
      .select(col("doc_id"), col("n_tokens").as("n_tokens_clean"),
        col("n_removed"), col("text").as("clean_text"))

  def trainingSet(spark: SparkSession, sfDir: String): DataFrame = {
    // 1+2. strip (dup_spans layer) + quality/English gate on what would
    // actually be trained on
    val gated = gatedCleaned(spark, sfDir)
    // 3. canonical near-dup representative (dedup_clusters layer)
    val canonical = Dedup.materializedClusters(spark, sfDir)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))
    // 4. semantic survivors (materialized layer, fixture doc_id =
    // vec_id pairing)
    val semantic = Ivf.materializedSemanticKeep(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("cell"))
    // 5. mixture-sampled membership (rates broadcast inside the op)
    val sampled = TextOps.mixtureSample(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    gated
      .join(canonical, Seq("doc_id"))
      .join(semantic, Seq("doc_id"))
      .join(sampled, Seq("doc_id"))
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("cell"),
        col("n_tokens_clean"), col("n_removed"), col("clean_text"))
  }

  /** q146: [[trainingSet]] with BOTH decontamination gates applied —
    * the eval-set-protected variant a lab actually ships from. Two
    * independent leakage channels close:
    *
    *   - lexical: any document sharing an 8-gram shingle with the
    *     held-out eval slice is dropped ([[TextOps.decontamination]],
    *     q79 — verbatim and near-verbatim copies), and the eval
    *     documents themselves leave the pool;
    *   - semantic: any document whose embedding lands within cosine
    *     `0.6` of an eval vector is dropped
    *     ([[Similarity.embeddingDecontam]], q142 — paraphrased leakage
    *     that shares no 8-gram but sits next to its source in
    *     embedding space), and the eval vectors' own documents leave
    *     the pool (the q142 corpus already excludes them, so the
    *     doc-keyed inner join enforces it).
    *
    * Scale shape on top of q145's: the lexical gate is the q79
    * broadcast semi-join (eval grams are small by construction; the
    * corpus stream is already exploded once for the `dup_spans` layer,
    * and the anti-join here keys on doc_id against a
    * contamination-density-bounded hit list), the semantic gate is
    * q142's map-side partial-max fan-out — one row per corpus vector
    * reaches the final doc-keyed joins. Survivors carry
    * `max_eval_cos` so downstream audits can re-check the margin. */
  def trainingSetDecontaminated(spark: SparkSession, sfDir: String): DataFrame = {
    val ngramHits = TextOps.materializedDecontamHits(spark, sfDir)
      .select(col("doc_id"))
    val semanticVerdicts = Similarity.materializedEmbeddingDecontam(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("max_eval_cos"),
        col("contaminated"))
    trainingSet(spark, sfDir)
      .filter(col("doc_id") >= TextOps.EvalDocs)
      .join(ngramHits, Seq("doc_id"), "left_anti")
      .join(semanticVerdicts, Seq("doc_id"))
      .filter(!col("contaminated"))
      .select(col("doc_id"), col("lang"), col("source"), col("cell"),
        col("n_tokens_clean"), col("n_removed"), col("max_eval_cos"),
        col("clean_text"))
  }

  /** q153: [[trainingSet]] hardened with the round-13 model-quality
    * gates — the "curation v2" a pipeline upgrades to once it has an
    * LM and rule thresholds it trusts:
    *
    *   - the Gopher composite ([[TextOps.gopherPass]], q147's exact
    *     rules) applied to the CLEANED text — an INLINE map-side
    *     predicate on the chain, not a self-join back to a second
    *     q147 scan, so the span-strip subtree still executes once;
    *   - CCNet perplexity bucketing ([[TextOps.perplexityBuckets]],
    *     q150): documents in their source's `tail` third by LM score
    *     leave the pool; survivors carry their bucket.
    *
    * Scale shape on top of q145's: the Gopher gate is pure projection
    * arithmetic on a column already in flight; the bucket gate is one
    * doc-keyed equi-join against q150's output (whose own shape is
    * layer-fed and window-free). Nothing new shuffles the corpus. */
  def trainingSetV2(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = TextOps.materializedPplBuckets(spark, sfDir)
      .filter(col("ppl_bucket") =!= "tail")
      .select(col("doc_id"), col("ppl_bucket"))
    trainingSet(spark, sfDir)
      .filter(TextOps.gopherPass(col("clean_text")))
      .join(buckets, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("cell"),
        col("n_tokens_clean"), col("n_removed"), col("ppl_bucket"),
        col("clean_text"))
  }

  /** q155: the per-source contamination report card — for every
    * source, how much of its eligible pool each decontamination gate
    * (q79 lexical shingles, q142 embedding cosine) would remove, and
    * how much survives both. The audit a lab publishes alongside a
    * release: per-domain leakage rates, not just the scrubbed set.
    * The pool is exactly q146's eligible population (non-eval docs
    * with a semantic verdict), so the report's `n_clean` accounts for
    * precisely the documents the decontaminated set draws from.
    *
    * Scale shape: both gate frames arrive doc-keyed and bounded (the
    * q79 hit list by contamination density, the q142 verdicts one row
    * per corpus vector); the report is then one (source) aggregation
    * with map-side combine — sources-bounded output. */
  def contaminationReport(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = TextOps.materializedDecontamHits(spark, sfDir)
      .select(col("doc_id"), lit(1L).as("lex"))
    val sem = Similarity.materializedEmbeddingDecontam(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("contaminated"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .filter(col("doc_id") >= TextOps.EvalDocs)
      .join(lex, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pool"),
        sum(coalesce(col("lex"), lit(0L))).as("n_lexical"),
        sum(col("contaminated").cast("long")).as("n_semantic"),
        sum((coalesce(col("lex"), lit(0L)) === 0 && !col("contaminated"))
          .cast("long")).as("n_clean"))
      .select(col("source"), col("n_pool"), col("n_lexical"),
        col("n_semantic"), col("n_clean"),
        round(col("n_lexical").cast("double") / col("n_pool"), 6)
          .as("lex_rate"),
        round(col("n_semantic").cast("double") / col("n_pool"), 6)
          .as("sem_rate"))
  }

  /** q172: the per-source curation FUNNEL — the lineage block a
    * datasheet (q171) publishes next to its volume stats: how many of
    * each source's documents survive each stage of the decontaminated
    * curation chain (q146), in chain order —
    *
    *   `n_docs` → `n_gated` (strip + quality/English gate) →
    *   `n_canonical` (near-dup representative keep) → `n_semantic`
    *   (embedding-space dedup) → `n_sampled` (mixture membership =
    *   q145's rows) → `n_final` (both decontamination gates = q146's
    *   rows) — plus the end-to-end `keep_rate`.
    *
    * This explains WHY a source's volume dropped, which the card alone
    * can't: a source bleeding at `n_gated` has a boilerplate/quality
    * problem, one bleeding at `n_canonical`/`n_semantic` is syndicating
    * content, one bleeding at `n_final` is leaking eval data.
    *
    * Composition only: every stage membership is the EXISTING session
    * layer/operator output (the gate population via [[gatedCleaned]] —
    * one definition with q145), left-joined doc-keyed onto the document
    * table and folded into cumulative flags, so the funnel's last two
    * columns are per-source row counts of q145/q146 BY CONSTRUCTION.
    * Scale shape: six doc-keyed equi-joins against frames the chain
    * already materializes, one sources-bounded aggregate — no new
    * corpus-shaped shuffle beyond what q146 itself pays. */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val gated = gatedCleaned(spark, sfDir)
      .select(col("doc_id"), lit(true).as("in_gate"))
    val canon = Dedup.materializedClusters(spark, sfDir)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), lit(true).as("in_canon"))
    val semantic = Ivf.materializedSemanticKeep(spark, sfDir)
      .select(col("vec_id").as("doc_id"), lit(true).as("in_sem"))
    val sampled = TextOps.mixtureSample(spark, sfDir)
      .select(col("doc_id"), lit(true).as("in_mix"))
    val lexHit = TextOps.materializedDecontamHits(spark, sfDir)
      .select(col("doc_id"), lit(true).as("lex_hit"))
    val semVerdict = Similarity.materializedEmbeddingDecontam(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("contaminated"))
    docs
      .join(gated, Seq("doc_id"), "left")
      .join(canon, Seq("doc_id"), "left")
      .join(semantic, Seq("doc_id"), "left")
      .join(sampled, Seq("doc_id"), "left")
      .join(lexHit, Seq("doc_id"), "left")
      .join(semVerdict, Seq("doc_id"), "left")
      // cumulative in chain order; the final stage replays q146's
      // membership exactly: non-eval, no lexical hit, a semantic verdict
      // present (eval vectors have none — the q146 inner join) and clean
      .withColumn("s1", coalesce(col("in_gate"), lit(false)))
      .withColumn("s2", col("s1") && coalesce(col("in_canon"), lit(false)))
      .withColumn("s3", col("s2") && coalesce(col("in_sem"), lit(false)))
      .withColumn("s4", col("s3") && coalesce(col("in_mix"), lit(false)))
      .withColumn("s5", col("s4") && col("doc_id") >= TextOps.EvalDocs &&
        !coalesce(col("lex_hit"), lit(false)) &&
        coalesce(!col("contaminated"), lit(false)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("s1").cast("long")).as("n_gated"),
        sum(col("s2").cast("long")).as("n_canonical"),
        sum(col("s3").cast("long")).as("n_semantic"),
        sum(col("s4").cast("long")).as("n_sampled"),
        sum(col("s5").cast("long")).as("n_final"))
      .select(col("source"), col("n_docs"), col("n_gated"),
        col("n_canonical"), col("n_semantic"), col("n_sampled"),
        col("n_final"),
        round(col("n_final").cast("double") / col("n_docs"), 6)
          .as("keep_rate"))
  }

  /** q175: the datasheet a corpus release actually publishes — the
    * per-source CARD stats (q171: volume, duplication exposure, quality
    * pass rate, language mix) and the curation FUNNEL (q172: survivor
    * counts through every stage of the decontaminated chain) in ONE
    * frame, so "what is this source" and "why did its volume drop" read
    * off the same row. Composition only: both sides are the existing
    * definitions joined on the sources-bounded key — the card's numbers
    * ARE q171's and the funnel's ARE q172's by construction (their
    * per-source doc counts agree, so the funnel's copy drops).
    * Scale shape: a join of two sources-bounded aggregates — free. */
  def datasheetV3(spark: SparkSession, sfDir: String): DataFrame =
    datasetCard(spark, sfDir).join(
      curationFunnel(spark, sfDir).drop("n_docs"),
      Seq("source"))

  /** q171: the per-source DATASHEET card (Gebru et al. 2021's
    * "datasheets for datasets", the summary block) — the numbers a
    * corpus release publishes per source: volume (docs, tokens,
    * chars), the exact-duplication exposure (within-source dup rows
    * AND rows whose text duplicates anywhere in the corpus — syndicated
    * content shows up in the second, not the first), the q27
    * quality-gate pass rate, and the English share from the corpus's
    * language labels (detection is q28's job; the card reports the
    * labeled mix).
    *
    * Scale shape: every metric is a map-side expression over the
    * document row except the duplication columns — within-source dups
    * come from `count(DISTINCT text)` inside the grouped aggregate
    * (two-phase expand keyed on (source, text)), cross-corpus dups
    * from one text-keyed group count joined back (the q19 exact-dedup
    * shuffle). Sources-bounded output; exact integer counts and single
    * divisions, so it hash-checks on any engine. */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    // duplication keys on the sha2 DIGEST, never the raw text (the q19
    // exact-dedup / q118 source-profile discipline): the dup-count
    // shuffle and the doc-keyed join back carry 64 hex chars per row
    // instead of the document payload, and the wide text column is
    // dropped before the per-source aggregate — counts are identical
    // (distinct digests = distinct texts modulo birthday-bounded SHA-256
    // collisions, the engine-wide premise)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("lang"),
        sha2(col("text"), 256).as("th"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        TextOps.stopHits.as("n_stop"))
      .withColumn("passes", TextOps.qualityGate)
      .withColumn("is_en", col("lang") === "en")
    val textCounts = docs.groupBy(col("th"))
      .agg(count(lit(1)).as("tc"))
    docs.join(textCounts, Seq("th"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        (count(lit(1)) - countDistinct(col("th"))).as("n_exact_dups"),
        sum(when(col("tc") > 1, 1L).otherwise(0L)).as("n_dup_rows"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_passed"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_en"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_exact_dups"), col("n_dup_rows"),
        round(col("n_passed").cast("double") / col("n_docs"), 6)
          .as("pass_rate"),
        round(col("n_en").cast("double") / col("n_docs"), 6).as("en_share"),
        round(col("n_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_tokens"))
  }
}
