package graft.operators

import graft.SparkSpec

/** Plan-quality regression gates: the physical-plan properties the
  * engine's 100 TB story rests on, asserted so a refactor cannot
  * silently lose them. String-level checks over `executedPlan` — coarse,
  * but they catch the failure modes that matter (a lost pushdown, a
  * dropped broadcast hint, a join degenerating to nested-loop, a UDF
  * slipping into a codegen'd path).
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The top-level `== Final Plan ==` section. A plain
    * `split("== Initial Plan ==")(0)` truncates early when a NESTED
    * AdaptiveSparkPlan (e.g. under a broadcast subtree) prints its own
    * inner markers — the top-level marker is the one at column 0. */
  private def finalSection(p: String): String = {
    val top = p.indexOf("\n+- == Initial Plan ==")
    if (top >= 0) p.substring(0, top) else p
  }

  test("dashboard join: dims broadcast, date filter pushed to the orders scan") {
    val p = plan(Relational.dashboardJoin(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), s"dimension broadcast lost:\n$p")
    // the o_orderdate lookback must reach the parquet reader, not run
    // post-scan over the full table
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"), s"lookback not pushed:\n$p")
    // column pruning: the scan must not drag the wide comment column
    // along for a projection that never uses it
    assert(!p.contains("l_comment"), s"lineitem scan reads unused columns:\n$p")
  }

  test("shipping priority: segment equality pushed to the customer scan") {
    val p = plan(Relational.shippingPriority(spark, sf()))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed:\n$p")
  }

  test("pricing summary: partial (map-side) aggregation before the shuffle") {
    val df = Relational.pricingSummary(spark, sf())
    val p = plan(df)
    // two HashAggregate levels = partial + final; a single level would
    // ship every row through the shuffle
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 2, s"no partial aggregation ($n HashAggregate nodes):\n$p")
    // codegen spans materialize in the ADAPTIVE final plan — execute,
    // then audit
    df.collect()
    val finalPlan = plan(df)
    // codegen'd operators print with the `*(id)` prefix in the final plan
    assert(finalPlan.contains("*(1) HashAggregate") || finalPlan.contains("*(2) HashAggregate"),
      s"aggregation fell out of codegen:\n$finalPlan")
  }

  test("jaccard inverted-index join: keyed equi-join, never nested-loop") {
    val p = plan(Dedup.jaccardPairs(spark, sf(), 0.5))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair join degenerated to a quadratic strategy:\n$p")
  }

  test("jaccard capped-postings subtree is exchange-reused across its references") {
    // cappedPostings (explode → df groupBy → left-semi) feeds both
    // self-join sides plus docStats with no explicit materialization —
    // the cost model relies on AQE exchange reuse to avoid recomputing
    // the df aggregation per reference. Assert the reuse actually
    // happens in the adaptive final plan.
    val df = Dedup.jaccardPairs(spark, sf(), 0.5)
    df.collect()
    val p = plan(df)
    assert(p.contains("ReusedExchange"),
      s"capped-postings exchanges recomputed per reference:\n$p")
  }

  test("dup spans: one gram pass, fused count window, no join at all") {
    // audit the BUILD plan (dupSpansFrom) — the query path reads the
    // materialized layer, whose plan is a checkpoint scan by design
    val df = Dedup.dupSpansFrom(graft.Tables.documents(spark, sf()))
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"dup-span probe degenerated to a quadratic strategy:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the gram path:\n$p")
    // the occurrence test is a count window FUSED into the gram pass —
    // the positional stream is generated once and shuffled once on g
    // (a groupBy + semi-join probe either recomputes the gram
    // projection or re-sorts the identical rows: measured 2.1× slower
    // at the 10× lake). Exactly one documents scan proves the fusion.
    assert(!p.contains("Join"), s"dup-gram test regressed to a join:\n$p")
    // count scans in the FINAL plan only — AQE's explain repeats the
    // whole tree under "== Initial Plan =="
    val finalPlan = finalSection(p)
    val scans = "Scan parquet".r.findAllIn(finalPlan).size
    assert(scans == 1, s"expected one documents scan, saw $scans:\n$p")
  }

  test("span strip: expression-level cut, span join keyed, no explode") {
    val df = Dedup.stripDupSpansFrom(graft.Tables.documents(spark, sf()))
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span join degenerated to a quadratic strategy:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the strip path:\n$p")
    // the cut is a per-doc array filter inside codegen — the only
    // Generate in the whole tree is dupSpans' own gram explode; a
    // second one would mean the strip re-exploded the corpus
    // positionally instead of filtering in place
    val finalPlan = finalSection(p)
    val generates = "Generate explode".r.findAllIn(finalPlan).size
    assert(generates == 1,
      s"expected only the gram explode, saw $generates Generates:\n$p")
  }

  test("ANN scans score through the native dot product, not a UDF") {
    for (df <- Seq(Similarity.bruteForceTopK(spark, sf()),
                   Similarity.lshTopK(spark, sf()))) {
      val p = plan(df)
      assert(p.contains("dot_f32"), s"native dot product missing:\n$p")
      assert(!p.contains("ScalaUDF"), s"UDF in the scoring path:\n$p")
    }
  }

  test("PQ ADC serving: reads the encoded layer, LUT broadcast, no UDF, no blowup") {
    // the serving plan probes the MATERIALIZED code table (checkpoint
    // scan) — the m-argmin encode must NOT re-run per query batch
    val p = plan(Pq.adcTopK(spark, sf()))
    assert(p.contains("Scan ExistingRDD"),
      s"codes should come from the materialized encoded layer:\n$p")
    assert(!p.contains("nearest_centroids"),
      s"serving plan re-runs the encode the layer already paid:\n$p")
    assert(p.contains("BroadcastExchange"), s"query LUT side not broadcast:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the encode/score path:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"corpus-side scoring should stay map-side against the broadcast LUT:\n$p")
  }

  test("PQ encode layer build: one corpus pass, codes by the native argmin") {
    // audit the BUILD plan via the shared encode helper — the layer
    // path localCheckpoints this exact frame
    val books = Pq.fittedCodebooks(spark, sf())
    val df = Ann.withCodes(
      Similarity.spread(graft.Tables.embeddings(spark, sf()))
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")),
      books)
    val p = plan(df)
    assert(p.contains("nearest_centroids"), s"native argmin encode missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the encode path:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 corpus scan, got $scans:\n$p")
  }

  test("IVF-ADC serving: reads the index layer, probe filter broadcast") {
    val p = plan(Pq.ivfAdcTopK(spark, sf()))
    assert(p.contains("Scan ExistingRDD"),
      s"cell + codes should come from the materialized index layer:\n$p")
    assert(!p.contains("nearest_centroids"),
      s"serving plan re-runs the corpus encode the layer already paid:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the path:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"probe filter should be a broadcast equi-condition:\n$p")
    // the query batch was resolved eagerly at build time and the corpus
    // comes from the checkpoint: the serving plan reads NO parquet
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"expected 0 parquet scans, got $scans:\n$p")
  }

  test("DSIR scoring: λ table broadcast, no UDF, no nested loop") {
    // the serving plan reads the gram-count LAYER (checkpoint scan) and
    // broadcasts the λ table — the text explode must NOT re-run here
    val p = plan(Dsir.importanceWeights(spark, sf()))
    assert(p.contains("Scan ExistingRDD"),
      s"gram counts should come from the materialized layer:\n$p")
    assert(!p.contains("poly_hash64"),
      s"serving plan re-runs the feature hash the layer already paid:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"λ table should broadcast:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the path:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"scoring join degenerated:\n$p")
  }

  test("DSIR gram-count layer build: one scan, hash map-side, partial combine") {
    // audit the BUILD plan via the uncached spec entry point — the
    // layer path localCheckpoints the same frame
    val df = Dsir.importanceWeightsFrom(
      graft.Tables.documents(spark, sf())
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.col("text")),
      Dsir.DefaultTarget, Dsir.DefaultBuckets)
    val p = plan(df)
    assert(p.contains("poly_hash64"), s"portable feature hash missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the path:\n$p")
    // per-(doc, bucket) collapse must partial-aggregate before its
    // shuffle — that combine is what bounds the exchange at
    // min(doc_grams, buckets) rows per document
    assert("partial_count|partial_sum".r.findAllIn(p).nonEmpty,
      s"gram collapse ships raw gram instances through the shuffle:\n$p")
  }

  test("residual IVFADC serving: reads the index layer, broadcast probe side") {
    val p = plan(Pq.ivfAdcResidualTopK(spark, sf()))
    assert(p.contains("Scan ExistingRDD"),
      s"cell + residual codes should come from the materialized layer:\n$p")
    assert(!p.contains("nearest_centroids"),
      s"serving plan re-runs the corpus encode the layer already paid:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the path:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"probe filter should be a broadcast equi-condition:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"expected 0 parquet scans, got $scans:\n$p")
  }

  test("embedding decontam: eval side broadcast, argmax folds map-side, no window") {
    val p = plan(Similarity.embeddingDecontam(spark, sf()))
    assert(p.contains("dot_f32"), s"native dot missing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"eval side should broadcast:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the path:\n$p")
    assert(!p.contains("Window"), s"argmax should be an aggregation, not a window:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"map-side partial aggregation missing:\n$p")
  }

  test("bucketed embedding pairs: shuffle keyed on band bucket, no pair blowup") {
    val p = plan(Dedup.embeddingPairsBucketed(spark, sf(), 0.4))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bucketed join degenerated:\n$p")
    // the banding index is checkpointed once and probed from BOTH
    // self-join sides — the serving plan reads the index, it does not
    // re-run the SRP encode per side
    assert(p.contains("ExistingRDD"),
      s"banding index should be a checkpointed scan:\n$p")
    // the portable signature expression lives in the index BUILD plan
    val e = graft.Tables.embeddings(spark, sf())
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val bp = plan(Dedup.srpBandKeys(e, 6, 8))
    assert(bp.contains("srp_sig_portable"), s"portable signature missing:\n$bp")
  }

  test("bloom join: catalyst might_contain probe on the fact side, pre-join") {
    val p = plan(BloomPrune.urgentRevenueByMonth(spark, sf()))
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"probe fell back to a UDF:\n$p")
    // the probe must sit BEFORE the join in the plan text (deeper =
    // later in the string for the fact branch; cheap structural check:
    // the filter appears in a Filter node, not post-aggregation)
    assert(p.indexOf("might_contain") > p.indexOf("HashAggregate"),
      s"probe not below the aggregation:\n$p")
  }

  test("group sample: hash pre-filter runs under the ranking window") {
    val p = plan(Analytics.groupSample(spark, sf()))
    // the 5% pre-filter must appear below the window (Filter before
    // Window in execution order), so ranked rows are the sliver
    val iw = p.indexOf("Window")
    val ifi = p.lastIndexOf("pmod")
    assert(iw >= 0 && ifi > iw, s"pre-filter not under the window:\n$p")
  }

  test("int8 quantize: map-only second pass (stats broadcast, no re-shuffle)") {
    val p = plan(Similarity.int8Quantize(spark, sf()))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats row not broadcast:\n$p")
    // exactly one Exchange may appear on the embeddings->stats branch;
    // the quantize branch itself must not shuffle the corpus
    val exchanges = "Exchange (hashpartitioning|rangepartitioning)".r.findAllIn(p).length
    assert(exchanges <= 1, s"quantize pass shuffles the corpus ($exchanges):\n$p")
  }

  test("mixture sample: weights broadcast, corpus side map-only") {
    val p = plan(TextOps.mixtureSample(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a 5-row dim:\n$p")
  }

  test("fuzzy name pairs: equi-join on the block key, never all-pairs") {
    val p = plan(Dedup.fuzzyNamePairs(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy match degenerated to all-pairs:\n$p")
    assert(p.contains("levenshtein"), s"edit distance missing:\n$p")
  }

  test("revenue ABC: partitioned prefix-scan, no single-partition window") {
    val df = Analytics.revenueAbc(spark, sf())
    val p = plan(df)
    // the cumulative pass is a window PARTITIONED by the range-bucket
    // id over the checkpointed per-part frame + broadcast offsets — a
    // SinglePartition exchange would mean the global ordered pass came
    // back (the round-5 shape, catalog-growth-bound)
    assert(p.contains("Window"), s"cumulative window lost:\n$p")
    assert(!p.contains("SinglePartition"),
      s"ABC collapsed to a single partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"ABC degenerated:\n$p")
  }

  test("retention triangle: distinct + two aggregations, no cartesian") {
    val p = plan(Analytics.retentionTriangle(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cohort join degenerated:\n$p")
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 4, s"expected partial+final aggregation levels, got $n:\n$p")
  }

  test("policy scoring runs through native expressions, no ScalaUDF") {
    // q41's five policies and q31's serving top-k: the scoring subtree
    // must stay inside whole-stage codegen (linucb_chol_score since r12
    // — the deterministic policies score through chol(A) solves, the
    // q41-oracle-exact path — plus lints_score / seeded draws), never
    // fall back to a per-row Scala UDF.
    // the scoring subtree is audited PRE-checkpoint (the approx-AUC
    // finisher materializes the melted frame once so its range and bin
    // passes don't re-execute the scoring — the q41 plan face is the
    // checkpointed LogicalRDD, like the envelope layers')
    val q41 = plan(graft.ml.PolicyEval.meltedLinPolicies(spark, sf()))
    assert(!q41.contains("ScalaUDF"), s"UDF in the q41 scoring path:\n$q41")
    assert(q41.contains("linucb_chol_score") && q41.contains("lints_score"),
      s"native policy expressions missing:\n$q41")
    val q41Face = plan(graft.ml.PolicyEval.evalLinUCB(spark, sf()))
    assert(!q41Face.contains("ScalaUDF"), s"UDF in the q41 AUC path:\n$q41Face")
    assert(q41Face.contains("Scan ExistingRDD"),
      s"approx AUC no longer reads the materialized melted frame " +
        s"(scoring would execute twice):\n$q41Face")
    val q31 = plan(graft.ml.LinUCB.topKQuery(spark, sf()))
    assert(!q31.contains("ScalaUDF"), s"UDF in the q31 serving path:\n$q31")
  }

  test("CDC materialize: max_by aggregation, no per-key sort window") {
    // q67 compacts the changelog with one partially-aggregated max_by
    // per PK — a Window here would mean the per-key version sort came
    // back (shuffling every version instead of one struct per key).
    val p = plan(Cdc.materializeLatest(spark, sf()))
    assert(p.contains("partial_max_by"),
      s"q67 lost its map-side-combined max_by form:\n$p")
    // exactly ONE window may appear: the changelog fixture's own lsn
    // synthesis inside versionedEnvelope (PK-partitioned); the
    // compaction itself must not add a ranking window
    val windows = "Window".r.findAllIn(p).length
    assert(windows <= 1, s"q67 compaction regressed to a ranking window:\n$p")
    assert(!p.contains("SinglePartition"), s"q67 single-partition node:\n$p")
  }

  test("late tag: prefix-scan form, no single-partition window") {
    // q14's running max distributes as bucket-local windows + broadcast
    // prefix offsets; a SinglePartition exchange feeding the Window
    // would mean the global sort came back.
    val p = plan(SupplierStats.tagLate(spark, sf()))
    assert(p.contains("Window"), s"running max lost its window form:\n$p")
    assert(!p.contains("SinglePartition"),
      s"late tag collapsed to a single partition:\n$p")
  }

  test("quality-model scoring is map-only: broadcast weights, zero exchanges") {
    // q111's training happens once at layer-build; the SCORING plan the
    // corpus actually runs must be a pure projection — any Exchange
    // here would mean the classifier re-shuffles 100 TB to apply five
    // multiplications per row.
    val p = plan(graft.ml.QualityLR.scoreDocs(spark, sf()))
    assert(!p.contains("Exchange"), s"quality scoring shuffles the corpus:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the scoring path:\n$p")
  }

  test("drift monitor: range stats broadcast, totals from the aggregated domain") {
    val p = plan(Analytics.valueDrift(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), s"per-type range not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled against a types-sized dim:\n$p")
    assert(!p.contains("SinglePartition"),
      s"drift monitor collapsed to a single partition:\n$p")
  }

  test("incremental dedup: shingle-keyed cross join + anti join, no all-pairs") {
    val p = plan(Dedup.incrementalNew(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"incremental dedup degenerated to all-pairs:\n$p")
    assert(p.contains("LeftAnti"), s"survivor anti-join missing:\n$p")
  }

  test("corpus filter reads the materialized label layer, never re-clusters") {
    // q62 consumes Dedup.materializedClusters: its plan must contain no
    // shingle pipeline at all (round 5 re-ran the whole shingle join +
    // label propagation inside the filter, doubling the dedup cost).
    val p = plan(TextOps.corpusFilter(spark, sf()))
    assert(!p.contains("word_shingles"), s"q62 re-runs the shingle join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"corpus filter degenerated:\n$p")
    // round 11: quality + language predicates fused into ONE documents
    // pass — a second scan would mean the filter regressed to composing
    // the q27 ⋈ q28 query surfaces (the 10× audit's old worst ratio)
    val docScans = "documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 1, s"q62 scans documents $docScans times (want 1):\n$p")
    val k = plan(Dedup.clusterKeep(spark, sf()))
    assert(!k.contains("word_shingles"), s"q61 re-runs the shingle join:\n$k")
  }

  test("embedding pipelines assemble/project through native expressions, no UDF") {
    // the last Scala UDFs in the engine died here: dense assembly is
    // scatter_dense, the SVD projection is mat_vec_project — both
    // codegen'd with plan-time state as reference objects
    val denseDf = graft.features.Features.textEmbeddingQuery(spark, sf())
    val dense = plan(denseDf)
    assert(!dense.contains("ScalaUDF"), s"UDF in the dense embedding path:\n$dense")
    // the expressions fuse into the aggregate's result projection in the
    // physical string — assert their presence on the analyzed plan
    val analyzed = denseDf.queryExecution.analyzed.toString
    assert(analyzed.contains("scatter_dense") && analyzed.contains("mat_vec_project"),
      s"native assembly/projection missing:\n$analyzed")
    val hashed = plan(graft.features.Features.textEmbeddingHashed(spark, sf()))
    assert(!hashed.contains("ScalaUDF"), s"UDF in the hashed embedding path:\n$hashed")
  }

  test("envelope queries: native projection, no UDF, q41's only window is policy-bounded") {
    // r12 checked forms. q35/q77 now read a MATERIALIZED envelope
    // layer (the SessionCache discipline), so their query-facing plan
    // is the checkpointed LogicalRDD face; the BUILD pipeline is
    // audited directly through Features.envelopeProjection — still
    // zero UDFs, still mat_vec_project.
    val vecs = graft.features.Features.tfidfHashedVectors(spark, sf())
    val build = graft.features.Features.envelopeProjection(
      vecs, new Array[Double](256 * 10), 256, 10)
    assert(!plan(build).contains("ScalaUDF"),
      s"UDF in the envelope build path:\n${plan(build)}")
    assert(build.queryExecution.analyzed.toString.contains("mat_vec_project"),
      s"native projection missing:\n${build.queryExecution.analyzed}")
    for (df <- Seq(graft.features.Features.textEmbeddingCheckedQuery(spark, sf()),
                   graft.features.Features.textEmbeddingHashedCheckedQuery(spark, sf()))) {
      val p = plan(df)
      assert(!p.contains("ScalaUDF"), s"UDF in the envelope path:\n$p")
      // the query face must BE the materialized layer — a full rebuild
      // plan here means the layer discipline regressed
      assert(df.queryExecution.analyzed.toString.contains("LogicalRDD"),
        s"envelope query no longer reads the materialized layer:\n${df.queryExecution.analyzed}")
    }
    // q41: the greedy-AUC broadcast window must sit ABOVE the finished
    // per-policy aggregate (5 rows — policy-cardinality-bounded), never
    // over the melted interaction frame; scoring stays native.
    val df41 = graft.ml.PolicyEval.evalLinUCBChecked(spark, sf())
    val p41 = plan(df41)
    assert(!p41.contains("ScalaUDF"), s"UDF in the policy scoring path:\n$p41")
    // native scoring lives in the PRE-checkpoint melted plan (audited
    // in the "policy scoring" test); the checked face reads the
    // materialized frame so the range and bin passes score once
    assert(p41.contains("Scan ExistingRDD"),
      s"q41 no longer reads the materialized melted frame:\n$p41")
    // exactly two windows, both cardinality-bounded BY CONSTRUCTION:
    // the greedy-AUC broadcast over the 5-row finished aggregate, and
    // the Mann-Whitney cumulative count partitioned by policy over the
    // <= 4096-bucket histogram. A third window — or the broadcast one
    // sinking below the aggregate onto the melted interaction frame —
    // is the regression this guards.
    val windows = "Window \\[".r.findAllIn(p41).length
    assert(windows == 2, s"unexpected window count $windows:\n$p41")
    // plans print sink-first: the post-aggregation broadcast window
    // appears BEFORE the aggregates in the string
    assert(p41.indexOf("Window [") < p41.indexOf("HashAggregate"),
      s"greedy window not above the finished aggregate:\n$p41")
    // the cumulative window stays policy-partitioned (bucket-bounded)
    assert(p41.contains("windowspecdefinition(policy"),
      s"cumulative window lost its policy partitioning:\n$p41")
  }

  test("decontamination: benchmark grams broadcast, corpus side map-only") {
    val p = plan(TextOps.decontamination(spark, sf()))
    assert(p.contains("BroadcastHashJoin"),
      s"eval-gram side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"decontamination degenerated:\n$p")
  }

  test("kNN classify: cell-keyed equi-join, never nested-loop, native scoring") {
    // both q117 (probe-all, exact) and q127 (4-probe, sub-quadratic)
    // must score through the IVF cell equi-join — the round-8 shape
    // (labeled ⋈ broadcast(q) on vec_id =!= qid) was a
    // BroadcastNestedLoopJoin over corpus/holdout and is the regression
    // this gate exists to prevent
    for (df <- Seq(Similarity.knnClassify(spark, sf()),
                   Similarity.knnClassify(spark, sf(), nProbe = 4))) {
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"kNN scoring degenerated to a nested loop:\n$p")
      assert(p.contains("nearest_centroids"), s"IVF probe expression missing:\n$p")
      assert(!p.contains("ScalaUDF"), s"UDF in the scoring path:\n$p")
      assert(p.contains("dot_f32"), s"native dot product missing:\n$p")
    }
  }

  test("semantic dedup: cell-keyed pair join, native expressions only") {
    val p = plan(Ivf.semanticKeep(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"within-cell pair join degenerated to a quadratic strategy:\n$p")
    assert(p.contains("nearest_centroids"), s"cell assignment expression missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in the pair-scoring path:\n$p")
  }

  test("weighted sample: per-partition top-k merge, never a global sort") {
    val p = plan(Analytics.weightedSample(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k not a TakeOrdered merge:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global range-partition sort crept in:\n$p")
  }

  test("snapshot diff: keyed aggregates + one PK join, no windows, no nested loop") {
    val p = plan(Cdc.snapshotDiff(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"diff join degenerated:\n$p")
    // both sides compact via min_by/max_by AGGREGATION — a per-key sort
    // window here would re-introduce the shape materializeLatest's
    // scaladoc argues against
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      s"window crept into the snapshot compaction:\n$p")
    assert(p.contains("min_by") && p.contains("max_by"),
      s"keyed compaction aggregates missing:\n$p")
  }

  test("source profile: distinct-count runs over sha2, never raw text") {
    val df = TextOps.sourceProfile(spark, sf())
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("sha2"), s"text hashed-distinct missing:\n$analyzed")
    val p = plan(df)
    // both aggregated frames are sources-bounded → broadcast join
    assert(p.contains("BroadcastHashJoin"), s"profile join not broadcast:\n$p")
    // partial aggregation on the counting pass
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"no partial aggregation:\n$p")
  }

  test("curation set: each session layer read once, every join keyed or tiny-broadcast") {
    val df = Curation.trainingSet(spark, sf())
    df.collect()
    val p = plan(df)
    val fp = finalSection(p)
    assert(!fp.contains("CartesianProduct"),
      s"curation chain degenerated to a cartesian:\n$p")
    assert(!fp.contains("ScalaUDF"), s"UDF in the curation path:\n$p")
    // layer-reuse contract: every chain stage is a localCheckpoint-
    // backed layer read — gated_clean_docs, dedup_clusters,
    // semantic_keep, mixture_rates — each EXACTLY one RDD scan (a
    // second scan of any means a consumer recomputed or re-read a
    // layer the composition claims to share)
    val rddScans = "Scan ExistingRDD".r.findAllIn(fp).size
    assert(rddScans == 4,
      s"expected exactly 4 layer reads (gated, clusters, semantic, " +
        s"rates), saw $rddScans:\n$p")
    // base-table budget: documents feeds ONLY the mixture membership
    // and the source join — every other stage arrives from its layer
    val scans = "Scan parquet".r.findAllIn(fp).size
    assert(scans <= 2, s"curation re-scans a base table ($scans scans):\n$p")
    // no nested-loop join anywhere: the mixture totals now live inside
    // the materialized rates layer, so even the 1-row broadcasts are
    // gone from the serving plan
    assert(!fp.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in the curation chain:\n$p")
  }

  test("decontaminated curation: gates stay broadcast/anti, no new base-scan blowup") {
    val df = Curation.trainingSetDecontaminated(spark, sf())
    df.collect()
    val p = plan(df)
    val fp = finalSection(p)
    assert(!fp.contains("CartesianProduct"),
      s"decontam gates degenerated to a cartesian:\n$p")
    assert(!fp.contains("ScalaUDF"), s"UDF in the curation path:\n$p")
    // the lexical gate must reach the plan as an ANTI join (doc-keyed,
    // against the contamination-density-bounded hit list)
    assert(fp.contains("LeftAnti"),
      s"n-gram contamination gate is not an anti-join:\n$p")
    // layer reads: q145's four (gated, clusters, semantic, rates) plus
    // the two decontamination gates (decontam_hits, embedding_decontam);
    // the optimizer may additionally inject runtime Bloom-filter
    // subqueries (SPARK-32268) that re-scan a checkpoint to build the
    // filter — cheap narrow scans, allowed up to two
    val rddScans = "Scan ExistingRDD".r.findAllIn(fp).size
    assert(rddScans >= 6 && rddScans <= 8,
      s"expected 6 layer reads (+<=2 bloom builds), saw $rddScans:\n$p")
    // base-table budget: documents feeds ONLY the mixture membership
    // and the source join (both specialized under the pushed
    // doc_id >= 5 eval filter) — every gate arrives from its layer;
    // +2 for possible bloom-build re-scans (both SMJ sides qualify)
    val scans = "Scan parquet".r.findAllIn(fp).size
    assert(scans <= 4,
      s"decontaminated curation re-scans a base table ($scans scans):\n$p")
    // and the wide text column never reaches the serving plan at all:
    // the strip/gate/shingle work that consumes text happens in the
    // layer builds — id/metadata-only joins must not drag it along
    val textScans = fp.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("text#"))
    assert(textScans == 0,
      s"a metadata-only stage reads the wide text column ($textScans):\n$p")
  }

  test("bm25: df/totals broadcast, no UDF, and no corpus-sized ranking window") {
    val df = Retrieval.bm25TopK(spark, sf())
    df.collect()
    val p = plan(df)
    val fp = finalSection(p)
    assert(!fp.contains("ScalaUDF"), s"UDF in the scoring path:\n$p")
    assert(fp.contains("BroadcastHashJoin"), s"df table not broadcast:\n$p")
    assert(!fp.contains("CartesianProduct"), s"bm25 degenerated:\n$p")
    // the k-row cut must be Spark's distributed take-ordered; the only
    // window (rank assignment) runs AFTER it, over k rows
    assert(fp.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$p")
    val iTake = fp.indexOf("TakeOrderedAndProject")
    val iWin = fp.indexOf("Window")
    assert(iWin >= 0 && iWin < iTake,
      s"rank window must sit above the k-row cut, not under it:\n$p")
  }

  test("perplexity buckets: docs join thresholds broadcast, no per-doc window") {
    val df = TextOps.perplexityBuckets(spark, sf())
    df.collect()
    val p = plan(df)
    val fp = finalSection(p)
    assert(!fp.contains("ScalaUDF"), s"UDF in the path:\n$p")
    // the bucket table (distinct scores per source) must broadcast to
    // the scored docs — a sort-merge here would shuffle the corpus for
    // a score-grid-bounded dim
    assert(fp.contains("BroadcastHashJoin"),
      s"threshold table not broadcast:\n$p")
    // windows exist only over the frequency frame, partitioned by
    // source — never unpartitioned (the single-partition corpus sort)
    assert(!fp.contains("Window [") || !fp.contains("SinglePartition"),
      s"an unpartitioned window crept in:\n$p")
  }

  test("cell outliers: centroid cosine map-side, window carries ids not embeddings") {
    val df = Ivf.cellOutliers(spark, sf())
    df.collect()
    val p = plan(df)
    val fp = finalSection(p)
    assert(!fp.contains("ScalaUDF"), s"UDF in the cosine path:\n$p")
    assert(fp.contains("BroadcastHashJoin"), s"centroid frame not broadcast:\n$p")
    assert(!fp.contains("CartesianProduct") && !fp.contains("BroadcastNestedLoop"),
      s"outlier pass degenerated:\n$p")
    // the rank exchange must be keyed on the cell, and the embedding
    // column must be projected away before it — the window sorts
    // (vec_id, cell, cos) triples only (structural check: the
    // WindowExec's child output)
    // plain collect() stops at AQE QueryStageExec leaves — descend
    // through stage plans explicitly
    def all(n: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = n +: (n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        all(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        all(q.plan)
      case other => other.children.flatMap(all)
    })
    val wins = all(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, s"per-cell ranking window lost:\n$p")
    wins.foreach { w =>
      assert(!w.child.output.exists(_.name == "embedding"),
        s"embeddings flow through the ranking window: ${w.child.output}")
    }
  }
}
