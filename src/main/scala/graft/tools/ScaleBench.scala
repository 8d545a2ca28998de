package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation: replicate the sf0.1 FACT tables K× (keys
  * shifted so every copy is disjoint — cross-copy near-dups are
  * deliberately broken by token-prefixing document text and perturbing
  * embeddings, because replicated identical rows would measure a
  * dup-explosion artifact, not scaling), keep the dimension tables
  * fixed, then time the audit set of most-expensive queries at both
  * scales. The plan audits claim per-row cost stays flat under 10×
  * growth; this main produces the one order-of-magnitude data point
  * that backs it (`BENCH_sf1.json`).
  *
  * Usage: `runMain graft.tools.ScaleBench [k]` — generates
  * `target/scale-sf1/` on first run (derived from the driver's own
  * sf0.1 parquet, never synthesized from scratch), reuses it after.
  */
object ScaleBench {

  val AuditQueries: Seq[String] = Seq(
    "q23_embedding_pairs", "q30_linucb_seed", "q31_linucb_topk",
    "q41_policy_eval_linucb", "q44_ann_ivf", "q46_cdc_changelog",
    "q60_dedup_clusters", "q61_cluster_keep", "q62_corpus_filter",
    "q67_cdc_materialize",
    // round-6 additions: model-based quality filter, incremental dedup,
    // drift monitor, kNN labeling, source profile — first-class scale
    // citizens like the rest
    "q111_quality_model", "q112_incremental_dedup", "q113_value_drift",
    "q117_knn_classify", "q118_source_profile",
    "q121_bpe_pairs", "q123_snapshot_diff",
    // round 9: the sub-quadratic kNN configuration — the 10x point that
    // backs the IVF cell equi-join swap (q117 above is the probe-all
    // exact twin, whose scored pairs grow with corpus x queries)
    "q127_knn_ivf",
    // round 10: SemDeDup with the corpus-derived k — the 10x point that
    // backs deriveK's claim that within-cell pair work stays ~n*target
    // (at 50k vectors the derived k is ~98, exercising growth past the
    // 16-cell floor the fixture scales sit on)
    "q129_semantic_keep",
    // round 12: the envelope-checked SVD embeddings — the 10x lake
    // token-prefixes 9/10 copies so the vocabulary ALSO grows 10x,
    // exercising the V-linear driver block (V x l) and the per-doc
    // energy/capture additions the checked forms introduced
    "q35_text_embedding", "q77_text_embedding_hashed",
    // round 12: substring-level dedup — the per-copy token prefixes
    // reproduce the base corpus's dup-span structure in 10 disjoint
    // shingle spaces, so the positional-gram stream, the dup-gram
    // count, and the islands merge all grow exactly 10x; the ratio
    // measures whether the gram exchange + per-doc window hold linear
    "q133_dup_spans", "q134_dup_span_strip",
    // round 12: the PQ family — the 10x point that backs the claim
    // that encode (one scan, m argmins/row) and ADC (m lookups/row)
    // stay linear per row; q137's candidate set additionally scales
    // with corpus/k at fixed nProbe
    "q135_ann_pq", "q136_pq_recall", "q137_ann_ivf_pq",
    // round 12: DSIR — the 10x lake grows the vocabulary 10x alongside
    // the corpus, but the feature space is bucket-FIXED; the ratio
    // measures the two corpus passes staying linear while the λ table
    // stays 4096-bounded
    "q138_dsir_weights",
    // round 12: cell-balanced keep — corpus-derived k means per-cell
    // window populations stay ~target-bounded at 10x; the ratio
    // measures the doc-keyed join + bounded windows staying linear
    "q139_cell_balanced_keep",
    // round 12: residual IVFADC — same linearity claim as q137 plus
    // the residual transform staying map-side
    "q141_ann_ivfadc_residual",
    // round 12: embedding decontam — eval side grows with the corpus
    // here (vec_id % 50), so the ratio bounds the fan-out staying
    // map-side-collapsed even as BOTH sides scale 10x
    "q142_embedding_decontam",
    // round 13: the raw-vs-residual recall gates — run at 10x so the
    // recall comparison that justifies residual encoding is measured
    // on a lake where the cells are actually populated, not only on
    // the 500-vector fixture
    "q143_ivf_pq_recall", "q144_ivfadc_residual_recall",
    // round 13: the composed nightly curation query — the 10x point
    // that backs the claim that the composition pays each layer once
    // and adds only doc-keyed equi-joins on top of its components
    "q145_curation_set",
    // round 13: q145 + both decontamination gates — the gates add a
    // broadcast shingle semi-join and the q142 map-side argmax; the
    // ratio bounds their overhead staying linear alongside the chain
    "q146_curation_decontam",
    // round 13: BM25 — the 10x lake grows the postings of the three
    // probe terms 10x; the ratio measures the term-filtered tf shuffle
    // + broadcast df staying linear (the take-ordered cut is k-fixed)
    "q149_bm25_topk",
    // round 13: perplexity bucketing — docs never enter a window; the
    // ratio bounds the (source, score)-grid threshold frame + the
    // bucket equi-join staying linear in the scoring pass
    "q150_ppl_buckets",
    // round 13: per-cell outliers — one assignment scan + a per-cell
    // rank window over (id, cell, cos); with the 10x lake still inside
    // the k=16 fixture pin the ratio measures the window staying
    // cell-population-bounded
    "q152_cell_outliers",
    // round 13: curation v2 — the q145 chain + the inline Gopher gate
    // + the lm_scores-layer bucket join; the ratio bounds the two new
    // gates adding only map-side + doc-keyed work on top of q145's
    "q153_curation_v2",
    // round 13: hybrid RRF — both retrieval stages grow 10x (BM25
    // postings, one-query brute cosine scan) while fusion stays k-row;
    // the ratio measures max(q149, 1-query-q24) staying linear
    "q158_hybrid_rrf",
    // round 13: binary ANN — the 16 B code scan and the packing pass
    // grow 10x, candidates stay 10x20; the ratio measures the
    // XOR+popcount scan + bounded re-rank staying linear per row
    "q159_hamming_topk",
    // round 13: fertility — rides the BPE chain (distinct-word table
    // grows with the 10x token-prefixed vocabulary) plus one narrow
    // doc-keyed join; languages-bounded rollup
    "q160_token_fertility",
    // round 13: more-like-this — term derivation reads one doc_id from
    // the tfidf layer; the scoring core's postings grow with the
    // derived terms' document frequency; same plan family as q149
    "q161_more_like_this",
    // round 13: token sharding — the prefix-scan rank shuffles
    // (doc_id, n_tokens) only; per-partition counts stay config-
    // bounded; the ratio measures the range exchange staying linear
    "q162_token_shards",
    // round 13: split leakage — both pair channels arrive bounded from
    // the near_pairs/exact layers; the ratio measures the two
    // doc-keyed split joins + splits²-bounded matrix staying linear
    "q163_split_leakage",
    // round 13: ensemble blend — three signal passes + three
    // prefix-scan percentile frames (distinct-value-bounded) + three
    // value-keyed joins; the ratio measures the whole chain staying
    // linear while the 10x vocabulary grows the surprisal/entropy
    // token passes 10x
    "q164_quality_ensemble",
    // round 13: hard negatives — the brute scan with the label filter
    // fused pre-dot; pair work grows linearly with the corpus at
    // fixed nQueries, same curve as q24's
    "q165_hard_negatives",
    // round 13: minhash estimator gate — signatures are map-side over
    // the 10x shingle space, the agreement fold is O(64) per pair on
    // the bounded near_pairs channel
    "q166_minhash_estimate",
    // round 14 (r13 verdict item 2): the lake's two slowest queries
    // join the audit set. q99: ranked-list build behind nDCG — the
    // per-policy rank windows are partitioned by (policy, round),
    // population-bounded per key; the ratio measures the scoring scan
    // staying linear. q83: direction-aware containment — DF-capped
    // shingle postings, same plan family as q20's jaccard join
    "q99_policy_ndcg", "q83_containment",
    // round 14: SQ8 — the fit is a d-bounded aggregate, encode/score
    // map-side; the ratio measures the reconstructed-dot scan staying
    // linear per corpus row (fixed nQueries), the q24 curve
    "q169_ann_sq8",
    // round 15: the curation funnel — six doc-keyed joins over frames
    // the q146 chain already materializes + a sources-bounded rollup;
    // the ratio bounds the flag-fold adding only linear work on top
    "q172_curation_funnel",
    // round 15: IVF-SQ8 — the SQ8 family's pruned scale path; the
    // ratio measures the cell-pruned reconstructed-dot scan growing
    // with |corpus|·nProbe/k instead of q169's full-corpus curve
    "q173_ann_ivf_sq8")

  private def shiftBase(df: DataFrame, key: String): Long =
    Option(df.agg(max(col(key))).head().get(0))
      .map(_.asInstanceOf[Long] + 1L).getOrElse(0L)

  /** Write the K×-replicated lake under `outDir`. Facts replicate with
    * shifted keys; dims copy through unchanged. */
  def generate(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    val copies = spark.range(k).select(col("id").as("copy"))
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dims: single copy
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(graft.Tables.read(spark, baseDir, t), t)
    }
    // orders/lineitem: shift the shared order key per copy
    val orders = graft.Tables.read(spark, baseDir, "orders")
    val oBase = shiftBase(orders, "o_orderkey")
    write(orders.crossJoin(copies)
      .withColumn("o_orderkey", col("o_orderkey") + col("copy") * oBase)
      .drop("copy"), "orders")
    val lineitem = graft.Tables.read(spark, baseDir, "lineitem")
    write(lineitem.crossJoin(copies)
      .withColumn("l_orderkey", col("l_orderkey") + col("copy") * oBase)
      .drop("copy"), "lineitem")
    // events: shift the dense arrival key
    val events = graft.Tables.read(spark, baseDir, "events")
    val eBase = shiftBase(events, "event_id")
    write(events.crossJoin(copies)
      .withColumn("event_id", col("event_id") + col("copy") * eBase)
      .drop("copy"), "events")
    // documents: shifted ids + per-copy token prefix (disjoint shingle
    // spaces — copy 0 keeps the original text so its dup structure is
    // exactly the base corpus's)
    val docs = graft.Tables.read(spark, baseDir, "documents")
    val dBase = shiftBase(docs, "doc_id")
    write(docs.crossJoin(copies)
      .withColumn("text",
        when(col("copy") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            t => concat(lit("c"), col("copy").cast("string"), t)), " ")))
      .withColumn("doc_id", col("doc_id") + col("copy") * dBase)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("copy"), "documents")
    // embeddings: shifted ids + per-copy slot-0 nudge (disjoint cosine
    // neighborhoods across copies)
    val emb = graft.Tables.read(spark, baseDir, "embeddings")
    val vBase = shiftBase(emb, "vec_id")
    write(emb.crossJoin(copies)
      .withColumn("embedding", expr(
        "transform(embedding, (v, j) -> CAST(CASE WHEN j = 0 " +
          "THEN v + copy * 0.037 ELSE v END AS FLOAT))"))
      .withColumn("vec_id", col("vec_id") + col("copy") * vBase)
      .drop("copy"), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    // optional second arg: comma-separated query subset — the 100x run
    // measures the headline pipelines, not all 49 audit queries
    val selected = graft.Bench.select(if (args.length > 1) Seq(args(1)) else AuditQueries)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // k=10 keeps the historical sf1 label (and reuses its lake); other
    // factors label by the equivalent driver scale factor when exact
    // (k=100 over sf0.1 -> sf10), else by the raw factor
    val label = if (k % 10 == 0) s"sf${k / 10}" else s"${k}x"
    val outDir = s"target/scale-$label"
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a marker written only AFTER a full successful generate pins the
    // replication factor to the data: a stale lake from a different k,
    // or a partial generate that crashed mid-way, regenerates instead
    // of silently producing a mislabeled BENCH_sf1.json
    val marker = Paths.get(s"$outDir/_SCALE_META")
    val want = s"k=$k base=$baseDir"
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker)).trim == want
    if (!fresh) {
      System.err.println(s"[scale] generating ${k}x lake under $outDir ...")
      generate(spark, baseDir, outDir, k)
      Files.write(marker, (want + "\n").getBytes)
    }
    // provenance covers the TIMED region (warmup + layers + queries),
    // not the one-off lake generation above
    val meterStart = graft.HostMeter.mark()
    // warmup both lakes (page cache, codegen)
    Seq(baseDir, outDir).foreach(graft.Bench.warm(spark, _))
    // warm the shared materialized layers for BOTH lakes, untimed —
    // same discipline as Bench: without this, whichever audit query
    // runs first at each scale carries that scale's layer builds and
    // the ratios measure attribution luck, not per-row growth (r10:
    // q62's base rode a warm dedup layer while its 10x built one,
    // reading as 18x for a linear-cost query). Layer times go into the
    // artifact (r13 verdict: separated layer times ARE the evidence
    // that the shared builds scale, not just the queries over them).
    // (each layer's own time, failures logged by the phase)
    val Seq(baseLayers, scaledLayers) =
      Seq(baseDir, outDir).map(d => graft.Bench.layerPhase(spark, d)._1.toMap)
    val layerTimes = baseLayers.keySet.intersect(scaledLayers.keySet).toSeq.sorted
      .map(n => (n, baseLayers(n), scaledLayers(n)))
    // Output cardinality at each scale (untimed .count() with its
    // pruned plan — NOT the timed noop write): makes per-row cost
    // mechanical in the artifact. A wall ratio above k on a query whose
    // output grows ~k× (q138-class: one row per corpus doc) with
    // per_row_ratio <= 1 is work-dominated-base — the base run was
    // mostly fixed cost — and needs no out-of-band adjudication.
    def rowsOf(dir: String, name: String): Long =
      graft.SparkEntry.queries(name)(spark, dir).count()
    val rows = selected.map { case (q, fn) =>
      val base = graft.Bench.time(fn(spark, baseDir))
      val scaled = graft.Bench.time(fn(spark, outDir))
      val ratio = scaled / math.max(base, 1e-9)
      val baseRows = rowsOf(baseDir, q)
      val scaledRows = rowsOf(outDir, q)
      // sec-per-row ratio; meaningful when output tracks corpus size
      // (rows growing with the lake), degenerate for fixed-k outputs
      val perRow = (scaled / math.max(scaledRows, 1L)) /
        math.max(base / math.max(baseRows, 1L), 1e-12)
      System.err.println(f"[scale] $q%-24s base $base%7.2f s/$baseRows%d  " +
        f"${k}x $scaled%7.2f s/$scaledRows%d  ratio $ratio%5.2f  per-row $perRow%5.2f")
      s""""$q":{"base_sec":$base,"scaled_sec":$scaled,"ratio":$ratio,""" +
        s""""base_rows":$baseRows,"scaled_rows":$scaledRows,"per_row_ratio":$perRow}"""
    }
    // In-artifact steal/load provenance (graft.HostMeter): ratio blips
    // under host contention needed out-of-band adjudication every round
    // this was absent; the steal-time delta makes the verdict mechanical.
    val provJson = graft.HostMeter.provenanceJson(meterStart, graft.HostMeter.mark())
    val layersJson = layerTimes.map { case (n, b, s) =>
      s""""$n":{"base_sec":$b,"scaled_sec":$s,"ratio":${s / math.max(b, 1e-9)}}"""
    }.mkString(",")
    val json = s"""{"k":$k,"base":"$baseDir",$provJson,""" +
      s""""queries":{${rows.mkString(",")}},""" +
      s""""layers":{$layersJson},""" +
      s""""note":"ratio <= $k means per-row cost did not grow; audits claim <= 2x per-row, i.e. ratio <= ${2 * k}"}"""
    println(json)
    Files.write(Paths.get(s"BENCH_$label.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
