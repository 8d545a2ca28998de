package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language-ID heuristic, document fingerprinting. All pure
  * column expressions over the `documents` table — embarrassingly
  * parallel, no shuffle at all (each is a map-only plan).
  */
object TextOps {

  /** The eval benchmark every decontamination gate checks against: the
    * documents with `doc_id` below this (a stand-in for an external
    * eval suite). */
  val EvalDocs = 5

  /** The q27 quality gate's stop list — ONE definition, shared with the
    * streaming ingest monitor so the two gates cannot drift. */
  private[graft] val StopWords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is")

  /** Stop-word hit count over the raw `text` column — the `n_stop`
    * metric every gate consumer derives the same way. */
  private[graft] def stopHits: Column = markerHits(StopWords)

  /** q27 composite gate thresholds + the gate itself, over the
    * pre-computed metric columns (`n_tokens`, `n_chars`, `n_stop`) —
    * the SINGLE definition of "passes quality" (C4-style), consumed by
    * [[qualityScore]] (q27), [[corpusFilter]] (q62) and the streaming
    * ingest monitor (q140's `docMetrics`) so the batch gate and the
    * monitor gate cannot silently drift. The DuckDB oracles necessarily
    * restate the thresholds in SQL; this is the one place they live in
    * engine code. */
  private[graft] val MinQualityTokens = 10
  private[graft] val MinQualityChars = 50
  private[graft] def qualityGate: Column =
    col("n_tokens") >= MinQualityTokens &&
      col("n_chars") >= MinQualityChars && col("n_stop") > 0

  /** Language marker lists + the hit-count column — shared by
    * [[langId]] (q28), [[corpusFilter]] (q62) and the curation
    * composition (q145) so the language heuristic has one
    * definition. */
  private[graft] val EnMarkers = Seq("the", "a", "and", "of", "is")
  private[graft] val EsMarkers = Seq("el", "la", "los", "de", "es")
  private[graft] val DeMarkers = Seq("der", "die", "das", "und", "ist")
  private[graft] val FrMarkers = Seq("le", "la", "les", "de", "est")
  private[graft] def markerHits(words: Seq[String]): Column =
    size(filter(split(col("text"), " "), _.isin(words: _*)))

  /** The q28 argmax's English branch as a predicate over the four
    * pre-computed `score_*` columns — shared by [[corpusFilter]] and
    * the curation composition. */
  private[graft] def englishArgmax: Column =
    col("score_en") >= col("score_es") && col("score_en") >= col("score_de") &&
      col("score_en") >= col("score_fr") && col("score_en") > 0

  private def toks: Column = split(col("text"), " ")

  /** Token statistics: whitespace tokens, a regex word tokenizer, a
    * BPE-ish length/4 estimate, and distinct-token count. */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens_ws"),
      regexp_count(col("text"), lit("[a-z0-9]+")).cast("long").as("n_tokens_re"),
      expr("(n_chars + 3) div 4").as("n_tokens_bpe_est"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"))

  /** Quality scoring: length, mean token length, stopword ratio,
    * type-token ratio — the standard cheap filters
    * (C4/Gopher-style heuristics, expressed as one projection). */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop", stopHits)
      .select(
        col("doc_id"),
        col("n_chars"),
        col("n_tokens"),
        round((col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"), 4)
          .as("mean_token_len"),
        round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stopword_ratio"),
        round(size(array_distinct(toks)).cast("double") / col("n_tokens"), 4).as("type_token_ratio"),
        qualityGate.as("passes_quality"))
  }

  /** Language-ID heuristic: marker-token hit counts per language,
    * argmax with a deterministic tie order. (The synthetic corpus is
    * English-ish regardless of its `lang` column — the operator reports
    * its own classification plus agreement with the label.) */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("score_en", markerHits(EnMarkers).cast("long"))
      .withColumn("score_es", markerHits(EsMarkers))
      .withColumn("score_de", markerHits(DeMarkers))
      .withColumn("score_fr", markerHits(FrMarkers))
      .withColumn("lang_pred",
        when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de") &&
          col("score_en") >= col("score_fr") && col("score_en") > 0, "en")
          .when(col("score_es") >= col("score_de") && col("score_es") >= col("score_fr") &&
            col("score_es") > 0, "es")
          .when(col("score_de") >= col("score_fr") && col("score_de") > 0, "de")
          .when(col("score_fr") > 0, "fr")
          .otherwise("unknown"))
      .select(col("doc_id"), col("lang").as("lang_label"), col("lang_pred"),
        col("score_en"), (col("lang_pred") === col("lang")).as("agrees"))
  }

  /** The composed corpus filter — the end-to-end shape of a training-
    * data cleaning pass: keep documents that (a) pass the quality gate,
    * (b) classify as English, and (c) are the canonical representative
    * of their near-dup cluster. Takes the cluster-label frame as INPUT
    * — in a real pipeline the dedup labels are materialized once and
    * every consumer reads them; re-running the shingle join + label
    * propagation inside the filter (the round-5 shape) doubled the
    * dedup cost.
    *
    * The quality and language predicates all derive from the SAME
    * tokenization, so they are computed in one select over one
    * documents scan (round 11 — previously this composed the q27 and
    * q28 query surfaces and joined them on doc_id: a second corpus
    * scan plus a corpus-keyed join shuffle, the 10× audit's worst
    * ratio). Semantics are identical to
    * `qualityScore ⋈ langId ⋈ clusters`; the q62 oracle pins that.
    * The only remaining shuffle is the label join. */
  def corpusFilter(spark: SparkSession, sfDir: String,
                   clusters: DataFrame): DataFrame = {
    val keep = Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop", stopHits)
      .withColumn("score_en", markerHits(EnMarkers))
      .withColumn("score_es", markerHits(EsMarkers))
      .withColumn("score_de", markerHits(DeMarkers))
      .withColumn("score_fr", markerHits(FrMarkers))
      // passes_quality (the shared q27 gate) && lang_pred == "en"
      // (q28 argmax): the en branch of the when-chain, inlined
      .filter(
        qualityGate && englishArgmax)
      .select(col("doc_id"), col("n_tokens"))
    keep.join(clusters, "doc_id")
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("n_tokens"))
  }

  /** [[corpusFilter]] over the session's materialized label layer
    * ([[Dedup.materializedClusters]]) — the query-surface form. */
  def corpusFilter(spark: SparkSession, sfDir: String): DataFrame =
    corpusFilter(spark, sfDir, Dedup.materializedClusters(spark, sfDir))

  /** Context-window chunking: split each document into 64-token
    * chunks (the pre-tokenization pass of sequence preparation). Pure
    * map-side fan-out — tokenize once, slice per chunk, `posexplode`;
    * each chunk carries a portable rolling fingerprint so the oracle
    * verifies CONTENT, not just shape. */
  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val chunkTokens = 64
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 1) // sequence(0,-1) would run DESCENDING
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), ceil(size(col("t")) / lit(BigDecimal(chunkTokens).setScale(1))).cast("int") - 1),
        i => concat_ws(" ", slice(col("t"), i * chunkTokens + 1, lit(chunkTokens))))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_no"),
        size(split(col("col"), " ")).cast("long").as("n_chunk_tokens"),
        graft.functions.polyHash64(col("col")).as("chunk_fp"))
  }

  /** Greedy in-order sequence packing: assign documents to 512-token
    * bins per language shard — `bin = floor(cumulative tokens before
    * this doc / 512)`, one window pass per shard. The keyed
    * partitioning is the point: packing state never crosses shards, so
    * the operator scales by adding shards, not by sorting the corpus
    * globally. */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      // null text would diverge from the oracle: Spark size(split(null))
      // is null under current defaults (spark.sql.legacy.sizeOfNull=false,
      // the default since 3.0; -1 only under the legacy flag) while SQL
      // engines also yield NULL — but null-vs-null comparison semantics
      // differ across engines, so the portable guard is to exclude nulls
      // identically on both sides
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), size(toks).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("(cum - n_tokens) div 512").as("bin_no"))
  }

  /** Repetition / diversity quality signals — the Gopher-family filters
    * that catch degenerate generations and boilerplate: fraction of the
    * doc covered by its most frequent unigram and bigram, and the hapax
    * ratio (tokens occurring exactly once). All ratios are single
    * divisions of integer counts (exact under any partitioning, so the
    * result hash-matches an external engine). Shape: explode → two
    * map-side-combined per-doc aggregations — shuffle keyed on doc_id,
    * no global state. */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
    val uni = docs.select(col("doc_id"), explode(col("t")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_uni"), sum(col("c")).as("n_uni"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
    val bi = docs.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i]))")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_bi"), sum(col("c")).as("n_bi"))
    uni.join(bi, "doc_id").select(
      col("doc_id"),
      round(col("max_uni").cast("double") / col("n_uni"), 6).as("top_unigram_frac"),
      round(col("max_bi").cast("double") / col("n_bi"), 6).as("top_bigram_frac"),
      round(col("hapax").cast("double") / col("n_uni"), 6).as("hapax_frac"))
  }

  /** Benchmark DECONTAMINATION — the eval-set overlap check every
    * training corpus needs: flag corpus documents sharing any word
    * n-gram with a (small) benchmark set, with the shared-gram count as
    * evidence. Here the "benchmark" is the first [[EvalDocs]] documents.
    * Shape: the benchmark's
    * distinct grams BROADCAST against the exploded corpus grams — a
    * corpus-scale semi-join keyed on the gram, never a pair join; at
    * 100 TB the corpus side streams map-only through the broadcast
    * filter. Shingles are per-doc distinct ([[Dedup.shingled]]), so
    * `count(*)` after the join IS the distinct shared-gram count. */
  def decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Dedup.materializedShingled(spark, sfDir)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
    val evalGrams = grams.filter(col("doc_id") < EvalDocs)
      .select(col("g")).distinct()
    grams.filter(col("doc_id") >= EvalDocs)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** The MATERIALIZED q79 hit list — contamination-density-bounded
    * (doc_id, n_shared_grams), computed once per
    * (session, sfDir). Five consumers read the identical
    * list (q79 itself, q146's lexical anti-join, q155's report, the
    * q172/q175 funnel columns); before this layer each re-paid the full
    * corpus shingle explode + eval-gram join. */
  def materializedDecontamHits(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "decontam_hits", sfDir)(decontamination(spark, sfDir))

  /** Corpus token accounting per language — the budget report a packing
    * / mixture-weighting step starts from: document count, whitespace
    * and BPE-estimate token totals, and each language's share of the
    * corpus token mass. Integer sums + one final division (exact under
    * any partitioning); one map-side-combined aggregation plus a 1-row
    * broadcast for the total. */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val perLang = Tables.documents(spark, sfDir)
      .select(col("lang"), size(toks).cast("long").as("t"),
        expr("(n_chars + 3) div 4").as("b"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens_ws"),
        sum(col("b")).as("n_tokens_bpe_est"))
    perLang.crossJoin(broadcast(
        perLang.agg(sum(col("n_tokens_ws")).as("total_ws"))))
      .select(col("lang"), col("n_docs"), col("n_tokens_ws"),
        col("n_tokens_bpe_est"),
        round(col("n_tokens_ws").cast("double") / col("total_ws"), 6).as("token_share"))
  }

  /** Temperature-smoothed language MIXTURE WEIGHTS over the token
    * budget — the multilingual-training resampling step: raw language
    * shares are smoothed with exponent α (here α = 1/2, computed as
    * `sqrt` — an IEEE correctly-rounded primitive, so the oracle
    * reproduces it bit-for-bit, unlike a general `pow`), renormalized,
    * and reported with the oversample factor each language needs. The
    * corpus-sized work is [[tokenBudget]]'s one aggregation; everything
    * after runs on the language-bounded table. */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val tb = tokenBudget(spark, sfDir)
      .select(col("lang"), col("token_share"), sqrt(col("token_share")).as("w_raw"))
    tb.crossJoin(broadcast(tb.agg(sum(col("w_raw")).as("w_sum"))))
      .select(col("lang"), col("token_share"),
        round(col("w_raw") / col("w_sum"), 6).as("weight"),
        round(col("w_raw") / col("w_sum") / col("token_share"), 6).as("oversample"))
  }

  /** Mixture-weighted corpus sampling — the execution of
    * [[mixtureWeights]]' plan: each language keeps documents at rate
    * `min(1, oversample)` (under-represented languages keep all,
    * over-represented ones thin), decided by the same deterministic
    * Knuth-hash uniform as [[Analytics.splitAssign]] so the sample is a
    * pure function of doc ids. Map-only over documents after a 5-row
    * broadcast of the weights. */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Analytics.arithHash(col("doc_id")) / lit(1048576.0)
    val rates = materializedMixtureRates(spark, sfDir)
    Tables.documents(spark, sfDir)
      .join(broadcast(rates), "lang")
      .withColumn("u", u)
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("lang"), round(col("u"), 6).as("u"),
        col("rate"))
  }

  /** The per-language keep-rate table [[mixtureSample]] decides by —
    * languages-bounded (5 rows), but its derivation pays
    * [[tokenBudget]]'s full document aggregation, and SIX consumers
    * run the sampler (q97 itself plus every curation chain/funnel).
    * Computed once per (session, sfDir); the checkpoint is the 5-row
    * broadcast side, so consumers pay only their own map-side filter. */
  private[graft] def materializedMixtureRates(spark: SparkSession,
                                              sfDir: String): DataFrame =
    graft.Layers.frame(spark, "mixture_rates", sfDir) {
      mixtureWeights(spark, sfDir)
        .select(col("lang"), least(lit(1.0), col("oversample")).as("rate"))
    }

  /** Per-document mean unigram surprisal — the cheap stand-in for
    * perplexity filtering (CCNet-style): score each token by
    * -log2 of its CORPUS frequency, average per document. High scores
    * flag documents full of rare tokens (gibberish/noise), low scores
    * flag templated text. Same engine-portable discipline as
    * [[tokenEntropy]]: 9dp-rounded decimal terms so the sum is
    * order-independent. The token join is keyed on the term (vocab-
    * bounded); everything after is one doc-keyed aggregation. */
  def unigramSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // (doc, term, tf) from the shared index — the former per-OCCURRENCE
    // join (tokenize + explode + occurrence-level vocab join) collapses
    // to (doc, term) grain: a doc's occurrences of a term share one
    // surprisal, so Σ_occurrences s ≡ Σ_terms tf·s (exact decimal
    // arithmetic both ways) and the token count is Σ tf
    val tf = graft.features.Features.materializedTermFreqs(spark, sfDir)
    val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val n = ctf.agg(sum(col("ctf")).as("n_corpus"))
    tf.join(ctf, "term").crossJoin(broadcast(n))
      .withColumn("s",
        round(-log2(col("ctf").cast("double") / col("n_corpus")), 9)
          .cast(DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("s") * col("tf")).cast("double") / sum(col("tf")), 4)
          .as("mean_surprisal"))
  }

  /** The MATERIALIZED q98 surprisal frame — one narrow row per doc,
    * computed once per (session, sfDir): q98 and q164's percentile
    * blend read the identical scores; before this each re-paid the
    * tokenize + vocab join pass. */
  def materializedSurprisal(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "surprisal_scores", sfDir)(unigramSurprisal(spark, sfDir))

  /** The containment threshold of q83. */
  val ContainmentThreshold = 0.8

  /** CONTAINMENT (asymmetric Jaccard) near-dup join: `|A∩B| / |A|` —
    * the direction-sensitive overlap that catches a document EMBEDDED
    * in a longer one, which symmetric Jaccard dilutes below threshold.
    * Runs the set-similarity join ([[Dedup.similarPairsOver]]: DF-capped
    * candidates, upper-bound prefilter, exact verify) over self pairs;
    * boilerplate-heavy short docs are containment's target case, so the
    * hot-shingle cap matters MORE here, not less. Its bound is
    * `cmax / min(|A|, |B|)`, the larger of the two directed containments,
    * and each verified pair emits BOTH directed containments — no second
    * pair pass. */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    directedContainment(Dedup.similarPairs(spark, sfDir, _ < _, containmentBound,
      ContainmentThreshold))

  /** [[containmentPairs]] over an arbitrary `(doc_id, shingles)` frame at
    * cap `maxDf` — spec-visible so the DF-cap + direction-aware prefilter
    * are testable on planted boilerplate corpora. */
  private[graft] def containmentPairsFrom(sh: DataFrame, maxDf: Long): DataFrame =
    directedContainment(Dedup.similarPairsFrom(sh, maxDf, _ < _, containmentBound,
      ContainmentThreshold))

  /** The prefilter bound: the larger directed containment at `cmax`. */
  private val containmentBound: (Column, Column, Column) => Column =
    (cmax, na, nb) => cmax.cast("double") / least(na, nb)

  /** Verified pairs `(doc_i, doc_j, c, ni, nj)` as both directed
    * containments, 4dp, kept at [[ContainmentThreshold]]. */
  private def directedContainment(pairs: DataFrame): DataFrame =
    pairs
      .selectExpr(
        "stack(2, doc_i, doc_j, round(CAST(c AS DOUBLE) / ni, 4), " +
          "doc_j, doc_i, round(CAST(c AS DOUBLE) / nj, 4)) " +
          "AS (src_doc, dst_doc, containment)")
      .filter(col("containment") >= ContainmentThreshold)

  /** Email-address pattern shared by count + replace (Java regex and
    * RE2 agree on this subset — no backrefs, no lookaround). */
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** Long digit runs (ids, phone-ish numbers); 1-2 digit counts are
    * ordinary prose and stay. */
  val LongNumPat = "[0-9]{3,}"

  /** Normalized, PII-redacted text: lowercase → email masking → long
    * digit-run masking → whitespace collapse → trim. Column-level so it
    * applies to any text column (tested on planted PII in the spec). */
  def redactedText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), EmailPat, "<EMAIL>"),
        LongNumPat, "<NUM>"),
      "\\s+", " "))

  /** PII redaction + normalization pass over the corpus — the scrub
    * step every training-data pipeline runs before tokenization. Pure
    * per-row projection: map-only, no shuffle, codegen'd regexes. */
  def redactPii(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      redactedText(col("text")).as("clean_text"),
      size(regexp_extract_all(col("text"), lit(EmailPat), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(LongNumPat), lit(0)))
        .cast("long").as("n_long_nums"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))

  /** The MATERIALIZED q94 entropy frame — one narrow row per doc,
    * computed once per (session, sfDir): q94 and q164's percentile
    * blend read the identical scores. */
  def materializedEntropy(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "entropy_scores", sfDir)(tokenEntropy(spark, sfDir))

  /** Per-document token entropy — the information-density quality
    * signal (low entropy ⇒ repetitive/templated text, high ⇒ diverse).
    * Each -p·log2(p) term is rounded to 9dp and summed as DECIMAL, so
    * the aggregate is order-independent and engine-portable (a raw
    * double sum would vary with partial-aggregation order). Shape:
    * explode → one groupBy (doc, token) → one groupBy doc; both
    * shuffles are on doc-prefixed keys. */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // (doc, term, tf) IS the per-doc count frame this operator used to
    // rebuild with its own tokenize pass — read the shared index
    val counts = graft.features.Features.materializedTermFreqs(spark, sfDir)
      .select(col("doc_id"), col("term").as("t"), col("tf").as("cnt"))
    val n = Window.partitionBy(col("doc_id"))
    counts
      .withColumn("n", sum(col("cnt")).over(n))
      .withColumn("p", col("cnt").cast("double") / col("n"))
      .withColumn("term",
        round(-col("p") * log2(col("p")), 9).cast(DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(sum(col("term")).cast("double"), 6).as("entropy"))
  }

  /** BPE pair statistics — step 1 of byte-pair-encoding tokenizer
    * training: the frequency of every adjacent character pair across
    * the corpus, weighted by word occurrence. The scale trick is the
    * classic BPE one: aggregate to the DISTINCT-WORD frequency table
    * first (map-side combined; vocabulary-bounded, not corpus-bounded)
    * and explode pairs over distinct words only — a 100 TB corpus with
    * a 10 M-word vocabulary fans out 10 M × avg-len pair rows, not
    * corpus-tokens × len. Top 20 via TakeOrderedAndProject with a pair
    * tie-break. The merge LOOP (apply top pair, recount) is the
    * sequential part of tokenizer training and belongs to a driver
    * harness; the heavy statistic it iterates is this operator. */
  def bpePairCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("freq"))
      .orderBy(desc("freq"), asc("pair")).limit(20)

  /** Merges of the BPE queries (q131/q132/q160) and the `bpe_merges` layer. */
  val BpeMerges = 10

  /** BPE vocabulary learning — the merge LOOP [[bpePairCounts]]'s
    * docstring defers to a driver harness: [[BpeMerges]] iterations of
    * (count weighted adjacent pairs over the word-frequency table) →
    * (argmax with freq-desc, pair-asc tie-break) → (apply the merge
    * to every word). The classic tokenizer-training shape (Sennrich et
    * al. 2016): all heavy work is VOCABULARY-bounded — one corpus-wide
    * distributed word count, then the merge loop runs in memory over
    * one row per DISTINCT word with its corpus frequency
    * ([[learnedMerges]], [[bpeFitLocal]]). The merge step has BPE's
    * greedy left-to-right semantics ("a a a a a" + pair (a,a) →
    * "aa aa a"). Rows-only (an iterated argmax chain needs aggregates
    * inside recursion, which SQL engines reject); spec-verified
    * against an independent token-array driver BPE on planted words
    * and the real fixture. */
  def bpeLearn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    learnedMerges(spark, sfDir)
      .toSeq.toDF("rank", "left", "right", "merged", "freq")
  }

  /** Vocabulary ceiling for the in-memory merge fit: the
    * distinct-word frequency table is collected to the driver and the
    * merge loop runs locally ([[bpeFitLocal]]) — the industry-standard
    * tokenizer-training shape (Sennrich's learn_bpe, HF tokenizers,
    * SentencePiece all fit in memory over a distributed word count),
    * giving a CONSTANT Spark-job count at any merge count. 2M words ×
    * ~short strings is a few hundred MB of driver heap; a corpus whose
    * vocabulary exceeds the ceiling is refused. */
  val BpeMaxLocalVocab: Int = 2 * 1024 * 1024

  /** The learned merge table as a MATERIALIZED LAYER — one fit per
    * (session, sfDir), shared by [[bpeLearn]] (the query
    * surface) and [[bpeApply]] (the tokenizer), same discipline as the
    * IVF centroid fit. The value is merges×5 driver scalars. The fit
    * itself: one distributed word-count pass, one collect of the
    * [[BpeMaxLocalVocab]]-bounded vocabulary, then the in-memory loop
    * ([[bpeFitLocal]]) — a job count independent of the merge count. */
  def learnedMerges(spark: SparkSession,
                    sfDir: String): Array[(Long, String, String, String, Long)] =
    graft.Layers.value(spark, "bpe_merges", sfDir) {
      import spark.implicits._
      val wordFreq = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      // the limit caps the collect at ceiling+1 rows, so an
      // over-ceiling vocabulary never comes whole onto the driver
      val local = wordFreq.limit(BpeMaxLocalVocab + 1)
        .as[(String, Long)].collect()
      require(local.length <= BpeMaxLocalVocab,
        s"BPE vocabulary exceeds the in-memory fit ceiling of $BpeMaxLocalVocab distinct words")
      bpeFitLocal(local, BpeMerges).toArray
    }

  /** Exact in-memory BPE fit over a collected word-frequency table:
    * the merge loop of Sennrich et al. 2016 (`learn_bpe.py`, which is
    * itself in-memory) with the standard incremental bookkeeping — a
    * lazy-deletion priority queue over pair counts plus a pair→words
    * index, so each merge touches only the words containing its pair
    * instead of recounting the table. Greedy left-to-right
    * application, (freq desc, left asc, right asc) tie-break
    * (spec-verified against the independent token-array reference at
    * merges >= 100). */
  private[graft] def bpeFitLocal(freqs: Seq[(String, Long)],
                                 merges: Int): Seq[(Long, String, String, String, Long)] = {
    import scala.collection.mutable
    val words = freqs.iterator
      .map { case (w, n) => (mutable.ArrayBuffer(w.toCharArray.map(_.toString): _*), n) }
      .toArray
    val counts = mutable.HashMap.empty[(String, String), Long]
    val wordsOf = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // max-freq first; ties pop lexically-smallest (left, right) — the
    // sequential argmax order
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val f = java.lang.Long.compare(a._1, b._1)
        if (f != 0) f
        else {
          val l = b._2.compareTo(a._2)
          if (l != 0) l else b._3.compareTo(a._3)
        }
      }
    }
    val pq = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def indexWord(i: Int, sign: Long): Unit = {
      val (ts, n) = words(i)
      var j = 0
      while (j + 1 < ts.length) {
        val p = (ts(j), ts(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * n
        if (c <= 0L) { counts.remove(p); wordsOf.get(p).foreach(_ -= i) }
        else {
          counts(p) = c
          if (sign > 0) wordsOf.getOrElseUpdate(p, mutable.Set.empty) += i
        }
        j += 1
      }
      // one queue entry per touched pair per pass (not per occurrence)
      if (sign > 0) {
        j = 0
        val seen = mutable.Set.empty[(String, String)]
        while (j + 1 < ts.length) {
          val p = (ts(j), ts(j + 1))
          if (seen.add(p)) pq.enqueue((counts(p), p._1, p._2))
          j += 1
        }
      }
    }
    words.indices.foreach(indexWord(_, 1L))
    // decreased pairs also need fresh queue entries after a merge
    def refresh(p: (String, String)): Unit =
      counts.get(p).foreach(c => pq.enqueue((c, p._1, p._2)))
    val out = mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    while (out.length < merges && pq.nonEmpty) {
      val (f, w1, w2) = pq.dequeue()
      if (counts.get((w1, w2)).contains(f)) {
        out += ((out.length + 1L, w1, w2, w1 + w2, f))
        val merged = w1 + w2
        val affected = wordsOf.getOrElse((w1, w2), mutable.Set.empty).toArray
        affected.foreach { i =>
          val (ts, n) = words(i)
          val touched = mutable.Set.empty[(String, String)]
          var j = 0
          while (j + 1 < ts.length) { touched += ((ts(j), ts(j + 1))); j += 1 }
          indexWord(i, -1L)
          // greedy left-to-right apply
          val nw = mutable.ArrayBuffer.empty[String]
          j = 0
          while (j < ts.length) {
            if (j + 1 < ts.length && ts(j) == w1 && ts(j + 1) == w2) {
              nw += merged; j += 2
            } else { nw += ts(j); j += 1 }
          }
          words(i) = (nw, n)
          indexWord(i, 1L)
          touched.foreach(refresh)
        }
      }
    }
    out.toSeq
  }

  /** Tokenizer APPLICATION under the [[bpeLearn]]-learned vocabulary —
    * the per-document accounting a pipeline runs after training a
    * tokenizer: apply the learned merges to every word, count the
    * resulting subword tokens per document, and report the
    * compression vs raw characters. The merge chain applies to the
    * DISTINCT-WORD table (vocabulary-bounded regex work, the same
    * per-word representation bpeLearn trained on); documents then
    * join word → token-count, so the corpus-bounded side carries one
    * small int per word occurrence, never re-running regex per
    * occurrence. Rows-only (depends on the learned merge chain);
    * spec asserts exact agreement with a driver-side apply plus the
    * compression invariant n_subwords ≤ n_chars. */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val learned = learnedMerges(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    var vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2).distinct()
      .withColumn("toks",
        concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" ")))
    // words are stored space-joined and padded (" h e l l o "); each
    // merge is a regexp_replace with non-consuming space lookarounds,
    // the reference's `(?<!\S)l r(?!\S)` re.sub: matches consume only
    // the pair text, so identical-token runs split the way a greedy
    // left-to-right scan does ("a a a a a" + (a,a) → "aa aa a").
    // Tokens are regex-quoted, so corpus punctuation injects no syntax.
    learned.foreach { case (_, w1, w2, _, _) =>
      val pat = "(?<= )" + java.util.regex.Pattern.quote(w1) + " " +
        java.util.regex.Pattern.quote(w2) + "(?= )"
      vocab = vocab.withColumn("toks",
        regexp_replace(col("toks"), pat, java.util.regex.Matcher.quoteReplacement(w1 + w2)))
    }
    val wordTokens = vocab.select(col("word"),
      size(split(trim(col("toks")), " ")).cast("long").as("n_subwords"))
    docs.select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("word"))
      // single-char words bypass the vocab (they are their own token)
      .join(broadcast(wordTokens), Seq("word"), "left")
      .withColumn("n_tok", coalesce(col("n_subwords"),
        when(length(col("word")) > 0, 1L).otherwise(0L)))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(when(length(col("word")) > 0, 1)).as("n_words"),
        sum(col("n_tok")).as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_chars"), 4)
          .as("subwords_per_char"))
  }

  /** q160: tokenizer fertility per language (Rust et al. 2021, "How
    * Good is Your Tokenizer?") — subwords per whitespace word
    * (fertility) and characters per subword, rolled up per `lang` over
    * the SAME learned-BPE application as q132. The metric every
    * multilingual pipeline reads before fixing a token budget: a
    * language with fertility 2× pays 2× the compute per word.
    *
    * Scale shape: one narrow join of the q132 per-doc counts against
    * (doc_id, lang, n_chars), then a map-side-combined groupBy on a
    * languages-bounded key. Integer sums are exact under any
    * partitioning; only the final two ratios round. */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = bpeApply(spark, sfDir)
      .select(col("doc_id"), col("n_words"), col("n_subwords"))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    perDoc.join(docs, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 4)
          .as("fertility"),
        round(col("sum_chars").cast("double") / col("n_subwords"), 4)
          .as("chars_per_subword"))
  }

  /** CCNet-style language-model quality scoring: train a bigram LM
    * with stupid backoff (Brants et al. 2007 — `S(w2|w1) =
    * c(w1w2)/c(w1)` when the bigram was seen, else `0.4·(c(w2)+1)/
    * (N+1)` add-one-smoothed unigram backoff) on the deterministic
    * train partition (`doc_id % 10 < 8` — engine-portable, no RNG),
    * then score EVERY document by its mean bigram log-score. Low
    * scorers are boilerplate/gibberish relative to the corpus
    * distribution; held-out docs (doc_id % 10 ≥ 8) genuinely exercise
    * the backoff path since their bigrams may be unseen in train.
    *
    * Scale shape: the count tables are VOCABULARY-bounded (unigrams,
    * observed bigrams), not corpus-bounded — two counting aggregations
    * with map-side combine. The per-key log-terms are precomputed IN
    * those small tables (see [[LmModel]]), so the corpus-sized bigram
    * stream makes exactly two keyed joins — (w1,w2) against the seen
    * table, w2 against the backoff table — each pulling in one narrow
    * 9dp decimal column; the w1-unigram join the naive formula implies
    * runs at vocab×vocab scale inside the model build instead. Per-term
    * log-scores round to 9dp DECIMAL before summation
    * (order-independent fold, the [[sourceProfile]] entropy
    * discipline), so the per-doc mean is partitioning-independent and
    * the DuckDB oracle reproduces it exactly. The trained model is a
    * session layer ([[materializedLmModel]]): the two train-corpus
    * counting passes run once per (session, lake), the same
    * build-once discipline as `bpe_merges` and `quality_lr_weights`. */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame =
    materializedLmScores(spark, sfDir)

  /** Per-document LM score layer (`lm_scores`): the corpus scoring
    * pass over [[materializedLmModel]] (two keyed joins + one doc
    * aggregation), checkpointed once per (session, lake). One narrow
    * row per document — the standard materialization a pipeline keeps
    * next to its corpus. Before this layer, every consumer (q130's
    * report, q139's cell ranking, q150's bucketing — which reads the
    * scores TWICE, once for thresholds and once to bucket, and q153
    * through it) re-ran the corpus bigram pass per reference. */
  def materializedLmScores(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "lm_scores", sfDir) {
      lmScoreWith(Tables.documents(spark, sfDir),
        materializedLmModel(spark, sfDir))
    }

  /** [[lmScore]] over an explicit corpus frame (`doc_id`, `text`) —
    * the planted-corpus entry point the spec drives with degenerate
    * documents (empty text, single token) that the sf fixtures may
    * never contain. Unmaterialized (no checkpoint, nothing cached):
    * spec corpora are tiny and transient. */
  def lmScoreFrom(docs: DataFrame): DataFrame =
    lmScoreWith(docs, lmModelFrom(docs))

  /** Stupid-backoff bigram LM reduced to its two vocabulary-bounded
    * scoring tables: `seen(w1, w2, seen_term)` carries
    * `round(log(c(w1w2)/c(w1)), 9)` for every bigram OBSERVED in
    * train, `back(w2, back_term)` carries the add-one-smoothed backoff
    * `round(log(0.4·(c(w2)+1)/(N+1)), 9)` for every train unigram;
    * a w2 absent even from `back` scores the constant unseen-unigram
    * backoff (c(w2)=0), folded as a literal at scoring time. */
  private[operators] final case class LmModel(
      seen: DataFrame, back: DataFrame, nTrain: Long)

  private def lmTrainOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 < 8)

  private def lmUnigrams(train: DataFrame): DataFrame =
    train.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))

  // total train tokens = sum of the unigram counts (one aggregation
  // over the already-built cu instead of a second corpus tokenize+count)
  private def lmTokenTotal(cu: DataFrame): Long = {
    val r = cu.agg(sum(col("cu"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  // Guard size>=2 before the transform: for a single-token doc
  // sequence(1, 0) descends to [1, 0] and element_at(arr, 0) throws.
  // Mirrors the oracle's WHERE len(t) >= 2 (and tokenPairs, which
  // guards the same way).
  private def lmBigrams(docs: DataFrame): DataFrame =
    docs.filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, " +
          "element_at(t, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  private def lmSeen(train: DataFrame, cu: DataFrame): DataFrame =
    lmBigrams(train)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      // inner join is exact: a train bigram's w1 is by construction a
      // train token, so every cb key has a cu row
      .join(cu.withColumnRenamed("w", "w1").withColumnRenamed("cu", "cu1"),
        Seq("w1"))
      .select(col("w1"), col("w2"),
        round(log(col("cb").cast("double") / col("cu1")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9))
          .as("seen_term"))

  private def lmBack(cu: DataFrame, nTrain: Long): DataFrame =
    cu.select(col("w").as("w2"),
      round(log(lit(0.4) * (col("cu") + 1).cast("double") / (nTrain + 1.0)), 9)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9))
        .as("back_term"))

  private[operators] def lmModelFrom(docs: DataFrame): LmModel = {
    val train = lmTrainOf(docs)
    val cu = lmUnigrams(train)
    val nTrain = lmTokenTotal(cu)
    LmModel(lmSeen(train, cu), lmBack(cu, nTrain), nTrain)
  }

  /** Build-once LM model layer per (session, lake): the unigram table
    * is checkpointed first so the token-total action, the backoff
    * table and the seen-table join all read one materialization of the
    * train tokenize pass; the two scoring tables are then checkpointed
    * themselves and the intermediate released. */
  def materializedLmModel(spark: SparkSession, sfDir: String): LmModel =
    graft.Layers.value(spark, "lm_model", sfDir) {
      val train = lmTrainOf(Tables.documents(spark, sfDir))
      val cu = lmUnigrams(train).localCheckpoint()
      val nTrain = lmTokenTotal(cu)
      val m = LmModel(lmSeen(train, cu).localCheckpoint(),
        lmBack(cu, nTrain).localCheckpoint(), nTrain)
      graft.Layers.release(cu)
      m
    }

  private def lmScoreWith(docs: DataFrame, m: LmModel): DataFrame =
    lmBigrams(docs)
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      .join(m.seen, Seq("w1", "w2"), "left")
      .join(m.back, Seq("w2"), "left")
      // seen_term null ⟺ the bigram was unseen in train (the cb/cu1
      // null test of the naive formula); back_term null ⟺ w2 unseen
      // even as a unigram → constant-folded c(w2)=0 backoff (0.4·1 is
      // exact in IEEE754, so the literal matches the oracle's
      // 0.4·(COALESCE(cu,0)+1) bit-for-bit)
      .withColumn("term", coalesce(col("seen_term"), col("back_term"),
        round(log(lit(0.4) / (m.nTrain + 1.0)), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        // decimal sum → double FIRST, then divide: decimal-division
        // scale rules differ between engines, double division doesn't
        round(sum(col("term")).cast("double") / count(lit(1)), 6).as("lm_score"))

  /** Per-source corpus report card — the domain-level curation stats a
    * web-corpus pipeline computes before reweighting or dropping a
    * source: document count, exact-duplicate burden, mean length, the
    * dominant language, and the Shannon entropy of the source's
    * language mix (a high-entropy source is a mixed crawl, a
    * zero-entropy one is monolingual). Shape: one (source, lang)
    * counting aggregation (map-side combined) plus one source-level
    * aggregation whose distinct-count runs over `sha2(text)` rather
    * than the raw document bodies — the shuffle carries 64-hex-char
    * keys, never document text, so the pass stays narrow at corpus
    * scale (same count as distinct raw text modulo SHA-256 collisions;
    * the oracle counts distinct text directly). Entropy terms are
    * 9dp-rounded DECIMAL before summation (order-independent fold,
    * engine-portable). Both aggregated frames are sources-bounded, so
    * the final join is trivially broadcastable. */
  def sourceProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val src = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_unique"),
        round(avg(col("n_chars")), 2).as("mean_chars"))
    val bySrc = Window.partitionBy(col("source"))
    val langs = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(bySrc).cast("double"))
      .withColumn("term",
        round(-col("p") * log(col("p")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .withColumn("lrank",
        row_number().over(bySrc.orderBy(desc("n"), asc("lang"))))
    val mix = langs.groupBy(col("source"))
      .agg(round(sum(col("term")).cast("double"), 6).as("lang_entropy"),
        max(when(col("lrank") === 1, col("lang"))).as("top_lang"))
    src.join(mix, "source")
      .select(col("source"), col("n_docs"),
        (col("n_docs") - col("n_unique")).as("n_exact_dups"),
        col("mean_chars"), col("top_lang"), col("lang_entropy"))
  }

  /** Document fingerprinting, oracle-checked: the 64-bit FNV-1a
    * rolling hash over the raw text (a native Catalyst expression with
    * codegen, [[graft.functions.Fnv1a64]]) and xxhash64 for comparison.
    * Their values are engine-specific, but the structural contract a fingerprint exists
    * for is exact — it must induce the same duplicate partition as the
    * text itself (equality-preserving by construction, collision-free
    * on the corpus). Per document, emit the text-duplicate count and a
    * flag per hash that its fingerprint-duplicate count matches;
    * DuckDB recomputes the text-dup counts and asserts both flags
    * TRUE, so a broken or colliding fingerprint hash-mismatches. The
    * comparisons group on sha2(text) so the extra shuffles carry
    * digests, not documents. */
  def fingerprintsChecked(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(
      col("doc_id"), sha2(col("text"), 256).as("th"),
      graft.functions.fnv1a64(col("text")).as("f"),
      xxhash64(col("text")).as("x"))
    def dupCount(key: String, as: String) =
      d.groupBy(col(key)).agg(count(lit(1)).as(as))
    d.join(dupCount("th", "n_text"), "th")
      .join(dupCount("f", "n_f"), "f")
      .join(dupCount("x", "n_x"), "x")
      .select(col("doc_id"), col("n_text").as("n_text_dups"),
        (col("n_f") === col("n_text")).as("fnv_respects_dups"),
        (col("n_x") === col("n_text")).as("xxh_respects_dups"))
  }

  /** q147 Gopher-rule thresholds (Rae et al. 2021, arXiv:2112.11446,
    * table A1, rescaled to the fixture's 10–99-word documents; the
    * word-length and stop-word rules keep the paper's values). One
    * definition so the flags, the composite verdict and the spec all
    * gate identically. */
  private[graft] val GopherMinWords = 20
  private[graft] val GopherMaxWords = 100000
  private[graft] val GopherMinWordLen = 3.0
  private[graft] val GopherMaxWordLen = 10.0
  private[graft] val GopherMinStopHits = 2
  private[graft] val GopherMinTtr = 0.35
  private[graft] val GopherMaxTopFrac = 0.14

  /** The five Gopher rule metrics over an arbitrary text column —
    * every consumer (the q147 report, the q153 curation gate) derives
    * the rules from these same expressions, so the report and the
    * inline gate cannot drift. `n_chars` is computed as
    * `length(text)` (the fixture's `n_chars` column equals it by
    * construction, verified at every SF). */
  private[operators] final case class GopherMetrics(
      nWords: Column, meanWlen: Column, nStop: Column,
      ttr: Column, topFrac: Column) {
    def okWords: Column =
      nWords >= GopherMinWords && nWords <= GopherMaxWords
    def okWlen: Column =
      meanWlen >= GopherMinWordLen && meanWlen <= GopherMaxWordLen
    def okStop: Column = nStop >= GopherMinStopHits
    def okTtr: Column = ttr >= GopherMinTtr
    def okRep: Column = topFrac <= GopherMaxTopFrac
    def passes: Column = okWords && okWlen && okStop && okTtr && okRep
  }

  private[operators] def gopherMetrics(text: Column): GopherMetrics = {
    val t = split(text, " ")
    val nWords = size(t)
    val stopArr = array(StopWords.map(lit): _*)
    GopherMetrics(
      nWords = nWords,
      meanWlen = (length(text) - (nWords - lit(1))).cast("double") / nWords,
      nStop = size(filter(t, x => array_contains(stopArr, x))),
      ttr = size(array_distinct(t)).cast("double") / nWords,
      topFrac = array_max(transform(array_distinct(t),
        w => size(filter(t, x => x === w)))).cast("double") / nWords)
  }

  /** The composite Gopher verdict as a single predicate over a text
    * column — the inline form composition queries (q153) gate with. */
  private[graft] def gopherPass(text: Column): Column =
    gopherMetrics(text).passes

  /** Gopher-style repetition-and-shape quality rules (Rae et al. 2021
    * §A1.1, the subset meaningful on a corpus without line structure
    * or symbols): word-count bounds, mean-word-length bounds, ≥2
    * stop-word hits, type-token-ratio floor, and a most-frequent-word
    * fraction ceiling (the word-level twin of the paper's duplicate
    * line fraction). Emits every metric, the per-rule flag, and the
    * composite verdict — curation pipelines tune rules individually,
    * so the flags are first-class output, not just a WHERE.
    *
    * Scale shape: map-only, zero shuffle — every metric is a
    * per-document array fold. The top-word count is
    * O(distinct·n_words) per document, bounded by the document itself,
    * never the corpus. Rule comparisons run on the UNROUNDED doubles
    * (both engines compute the identical IEEE expression from the same
    * integers); the emitted metrics round to 6dp for the hash. */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val m = gopherMetrics(col("text"))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"), m.nWords.cast("long").as("n_words"),
        round(m.meanWlen, 6).as("mean_wlen"),
        m.nStop.cast("long").as("n_stop"),
        round(m.ttr, 6).as("ttr"),
        round(m.topFrac, 6).as("top_frac"),
        m.okWords.as("ok_words"),
        m.okWlen.as("ok_wlen"),
        m.okStop.as("ok_stop"),
        m.okTtr.as("ok_ttr"),
        m.okRep.as("ok_rep"),
        m.passes.as("passes_gopher"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): per source, split documents into head /
    * middle / tail thirds by LM quality score ([[lmScore]], the
    * shared `lm_model` layer) and keep head+middle. Bucket boundaries
    * are SCORE-VALUE thresholds, not per-document ranks: for each
    * distinct 6dp score `s`, `cum(s)` = docs scoring ≥ s, and the
    * bucket is head while `cum ≤ ⌈n/3⌉`, middle while `cum ≤ ⌈2n/3⌉`
    * — all docs sharing a score land in one bucket, so the split is
    * deterministic with no per-document tie-break and replays exactly
    * in the oracle.
    *
    * Scale shape: documents NEVER enter a window. The only window
    * runs over the per-(source, score) frequency frame, whose size is
    * bounded by the 6dp score grid — lm_score lives in
    * [ln(0.4/(N+1)), 0], so distinct values per source are capped by
    * range·10⁶ independent of corpus size (CCNet itself thresholds on
    * a sampled histogram for the same reason). Docs then bucket by a
    * (source, score) equi-join against that bounded threshold table
    * — broadcastable at any corpus scale. */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = lmScore(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
        "doc_id")
    val freq = scored.groupBy(col("source"), col("lm_score"))
      .agg(count(lit(1)).as("c"))
    val bySrc = Window.partitionBy(col("source"))
    val cumW = bySrc.orderBy(col("lm_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = freq
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n_src", sum(col("c")).over(bySrc))
      .select(col("source"), col("lm_score"),
        when(col("cum") <= expr("(n_src + 2) div 3"), lit("head"))
          .when(col("cum") <= expr("(2 * n_src + 2) div 3"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
    scored.join(broadcast(buckets), Seq("source", "lm_score"))
      .select(col("doc_id"), col("source"), col("lm_score"),
        col("ppl_bucket"), (col("ppl_bucket") =!= "tail").as("keep"))
  }

  /** The MATERIALIZED q150 bucket frame — one narrow row per scorable
    * document, computed once per (session, sfDir). Two consumers read
    * it (q150 itself and q153's tail-drop gate); before this each
    * re-paid the per-source threshold windows and the doc join. */
  def materializedPplBuckets(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "ppl_buckets", sfDir)(perplexityBuckets(spark, sfDir))

  /** Strictly-before counts over a (value, c) frequency frame in the
    * given order, WITHOUT a single-partition window: the q108
    * range-partitioned prefix scan — range-repartition on the value,
    * per-partition count sums collected (nParts rows, config-bounded),
    * offsets broadcast back, cumsum within partitions. Returns
    * (value, cnt_before) where cnt_before = Σ counts of values
    * strictly earlier in the order — exactly `rank() − 1` of any row
    * holding that value in the corpus-level ordering. */
  private def cntBefore(freq: DataFrame, valueCol: String,
                        ascending: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = if (ascending) col(valueCol).asc else col(valueCol).desc
    val ranged = graft.operators.PrefixScan.withLongOffsets(
      freq, Seq(ord), col("c"))
    val w = Window.partitionBy(col("pid")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.select(col(valueCol),
      (col("off") + sum(col("c")).over(w) - col("c")).as("cnt_before"))
  }

  /** q164: ensemble quality ranking — the rank-average ("Borda") blend
    * of three independent continuous quality signals the engine
    * already computes: the bigram LM score (q130, higher = better),
    * mean unigram surprisal (q98, lower = better — rare-token noise),
    * and token entropy (q94, higher = better — low entropy flags
    * templated/repetitive text). Single-signal filters inherit that
    * signal's blind spots; production pipelines blend classifier
    * ranks for exactly this reason, and the rank domain makes wildly
    * different score scales commensurable without calibration.
    * Per-signal percentile = strictly-better-count / (n−1) (ties
    * share), blend = the integer count sum over 3(n−1) — one exact
    * integer ratio, no float accumulation — and `keep` = top half.
    *
    * Scale shape: signals come from the shared lm_scores layer plus
    * two one-pass aggregations; each percentile joins the corpus
    * against its (distinct-value, cnt_before) frame built by the
    * range-partitioned prefix scan ([[cntBefore]]) — no
    * single-partition window at ANY value-grid size (where q150's
    * per-source threshold frame could lean on the source partition
    * key, a global percentile gets the q108 treatment instead). */
  def qualityEnsemble(spark: SparkSession, sfDir: String): DataFrame = {
    val base = lmScore(spark, sfDir)
      .filter(col("n_bigrams") >= 1)
      .select(col("doc_id"), col("lm_score"))
      .join(materializedSurprisal(spark, sfDir)
        .select(col("doc_id"), col("mean_surprisal")), "doc_id")
      .join(materializedEntropy(spark, sfDir)
        .select(col("doc_id"), col("entropy")), "doc_id")
      .localCheckpoint()
    val nMinus1 = math.max(base.count() - 1, 1L)
    def freq(c: String) = base.groupBy(col(c)).agg(count(lit(1)).as("c"))
    // The three per-signal rank frames are independent prefix scans
    // (each an eager range-partition + checkpoint + offsets collect over
    // its own value grid) — build them CONCURRENTLY so the wall cost is
    // max, not sum, and each scan's straggler tail back-fills with the
    // next scan's tasks (guide §2.6; the q85 keyOverlap Future
    // discipline). Results are deterministic regardless of build order.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fLm = Future(cntBefore(freq("lm_score"), "lm_score", ascending = true)
      .withColumnRenamed("cnt_before", "r_lm"))
    val fSur = Future(cntBefore(freq("mean_surprisal"), "mean_surprisal",
      ascending = false).withColumnRenamed("cnt_before", "r_sur"))
    val fEnt = Future(cntBefore(freq("entropy"), "entropy", ascending = true)
      .withColumnRenamed("cnt_before", "r_ent"))
    val pLm = Await.result(fLm, Duration.Inf)
    val pSur = Await.result(fSur, Duration.Inf)
    val pEnt = Await.result(fEnt, Duration.Inf)
    val blend = round((col("r_lm") + col("r_sur") + col("r_ent")) /
      (lit(3.0) * nMinus1), 6)
    base.join(pLm, "lm_score").join(pSur, "mean_surprisal")
      .join(pEnt, "entropy")
      .select(col("doc_id"), col("lm_score"), col("mean_surprisal"),
        col("entropy"),
        round(col("r_lm").cast("double") / nMinus1, 6).as("p_lm"),
        round(col("r_sur").cast("double") / nMinus1, 6).as("p_surprisal"),
        round(col("r_ent").cast("double") / nMinus1, 6).as("p_entropy"),
        blend.as("blend"), (blend >= 0.5).as("keep"))
  }

  /** Exact-count stratified sampling: every (source, lang) stratum
    * keeps exactly ⌈n/4⌉ documents, chosen by the deterministic
    * Knuth-hash uniform ([[Analytics.arithHash]], offset 7 — an
    * independent stream from q97's rate sampler). The complement of
    * [[mixtureSample]]: rate-based sampling meets a budget in
    * expectation, this meets it exactly — the variant a pipeline uses
    * when the downstream token budget is a hard number.
    *
    * Scale shape: the per-stratum rank is a window over (doc_id,
    * source, lang, u) ONLY — text never enters the shuffle, and the
    * sampled ids join back to payloads downstream. Strata are
    * (source, lang) pairs; a stratum too large for one window
    * partition is exactly the case where the q97 rate sampler (whose
    * expected count concentrates at that size) replaces this. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Analytics.arithHash(col("doc_id"), offset = 7L) / lit(1048576.0)
    val w = Window.partitionBy(col("source"), col("lang"))
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("u", u)
      .withColumn("rk", row_number().over(w.orderBy(col("u"), col("doc_id"))))
      .withColumn("n_stratum", count(lit(1)).over(w))
      .withColumn("k_keep", expr("(n_stratum + 3) div 4"))
    d.filter(col("rk") <= col("k_keep"))
      .select(col("doc_id"), col("source"), col("lang"),
        round(col("u"), 6).as("u"), col("rk").cast("long").as("rk"),
        col("n_stratum"), col("k_keep"))
  }
}
