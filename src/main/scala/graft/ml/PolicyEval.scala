package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A12: the offline policy benchmark (`recsys-engine/evaluate.py:62-108`)
  * — AUC / CTR over competing policies — as Spark plans.
  *
  * AUC is the Mann-Whitney statistic with tie correction computed from
  * INTEGER rank bounds: for each positive, its tied group contributes
  * `(min_rank + max_rank)` (twice the average rank); every intermediate
  * sum is integer-valued and exact in double (< 2^53), so the statistic
  * is bit-identical under any partitioning and across engines —
  * float-summed average ranks would not be. Exact ranks need one ordered
  * pass over the distinct scores per policy ([[aucPerPolicy]]) — fine
  * when scores are discrete, degenerate when they are near-unique; the
  * scale path is [[aucPerPolicyApprox]], which buckets scores into a
  * fixed histogram so no ordered pass ever exceeds [[AucBuckets]] rows.
  */
object PolicyEval {

  /** Histogram cells per policy of the approximate AUC. */
  val AucBuckets = 4096

  /** The rank cutoff of the precision, recall and NDCG reports. */
  val RankK = 3

  /** Tie-corrected AUC of `score` against binary `label`, plus CTR, per
    * `policy`, in ONE pass: evaluating k policies costs one scan of the
    * melted (policy, score, label) frame instead of k scans of the
    * source.
    *
    * Ranks are derived from a distributed group-by on the score (one
    * shuffle), then a cumulative count over DISTINCT scores — so the
    * only ordered pass touches |distinct scores| rows, not |rows|. A
    * tie group spanning ranks [c-cnt+1, c] contributes
    * `pos · (mn + mx)` with `mn+mx = 2c - cnt + 1` — integers
    * throughout, so the statistic is exact and partitioning-independent.
    */
  def aucPerPolicy(df: DataFrame, policy: Column, score: Column,
                   label: Column): DataFrame = {
    val grouped = df.select(policy.as("policy"), score.as("s"), label.as("y"))
      .groupBy(col("policy"), col("s"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val cum = grouped.withColumn("c",
      sum(col("cnt")).over(Window.partitionBy(col("policy")).orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    finishAuc(cum)
  }

  /** Mann-Whitney finisher over ascending tie groups `(policy, cnt, pos,
    * c)` with `c` = cumulative count: each group contributes
    * `pos · (mn + mx) = pos · (2c − cnt + 1)` — integers throughout. */
  private def finishAuc(cum: DataFrame): DataFrame =
    cum.groupBy(col("policy")).agg(
      round(
        (sum(col("pos") * (lit(2) * col("c") - col("cnt") + 1)) / 2.0 -
          (sum(col("pos")) * (sum(col("pos")) + 1.0)) / 2.0) /
          (sum(col("pos")) * (sum(col("cnt")) - sum(col("pos")))), 6).as("auc"),
      round(sum(col("pos")) / sum(col("cnt")), 6).as("ctr"),
      sum(col("cnt")).as("n"))

  /** The 100 TB AUC: scores are histogrammed into [[AucBuckets]] fixed-width
    * cells between the per-policy min and max (two map-side-combined
    * aggregations — no pass ever orders more than [[AucBuckets]] rows per
    * policy, vs |distinct scores| for [[aucPerPolicy]]). Each cell is
    * treated as one Mann-Whitney tie group, i.e. pairs that land in the
    * same cell count ½ — the approximation error is bounded by the
    * in-cell pair fraction `Σ_b pos_b·neg_b / (P·N)`, which shrinks
    * linearly in the cell count for any non-atomic score distribution
    * (spec-checked ≤ 0.01 against the exact statistic at sf0.01). The
    * ordered window runs over ≤ [[AucBuckets]] rows per policy — bounded by
    * construction, independent of data size. */
  def aucPerPolicyApprox(df: DataFrame, policy: Column, score: Column,
                         label: Column): DataFrame = {
    // The histogram needs the per-policy (min, max) BEFORE it can bin,
    // so the melted frame is read twice — and without a materialization
    // both reads re-execute the upstream scoring subtree (for q41 that
    // is the full 5-policy Cholesky/Box-Muller pass over every
    // interaction, the single most expensive expression chain in the
    // bench — measured as 2 identical scoring stages in the SQL plan).
    // localCheckpoint the narrow (policy, s, y) projection once: the
    // range pass and the bin pass then both scan ~17 bytes/row instead
    // of re-scoring (guide §1.2/§5 — don't compute things twice; cut
    // the lineage where an intermediate is reused). NOTE the method is
    // therefore EAGER at plan-construction time (the checkpoint runs
    // the scoring subtree once, here).
    val base = df.select(policy.as("policy"), score.as("s"), label.as("y"))
      .localCheckpoint()
    val rng = base.groupBy(col("policy"))
      .agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    histAuc(base.join(broadcast(rng), "policy"))
  }

  /** The WIDE-input twin of [[aucPerPolicyApprox]] for callers whose
    * policies are score COLUMNS of one frame (q41's five-policy
    * benchmark): checkpoint the wide `(s_0..s_{P-1}, y)` projection —
    * 1/P-th the checkpointed rows of the pre-melted form — take every
    * policy's (min, max) in ONE global aggregation (no P·n-row
    * shuffle), and melt lazily on the bin pass. Arithmetic is
    * bit-identical to melting first: the same rounded scores feed the
    * same per-policy (lo, hi) and the same [[histAuc]] tail
    * (spec-pinned equal on a shared frame). */
  def aucPerPolicyApproxWide(df: DataFrame, scores: Seq[(String, Column)],
                             label: Column): DataFrame = {
    val sCols = scores.zipWithIndex.map { case ((_, c), i) => c.as(s"s_$i") }
    val base = df.select(sCols :+ label.as("y"): _*).localCheckpoint()
    val rangeAggs = scores.indices.flatMap(i =>
      Seq(min(col(s"s_$i")).as(s"lo_$i"), max(col(s"s_$i")).as(s"hi_$i")))
    // one row per policy: stack(P, name_0, c_0.., name_1, c_1.., ...),
    // the names as literals, never spliced into SQL text
    def melt(cols: Int => Seq[Column]): Column =
      call_function("stack", lit(scores.size) +: scores.zipWithIndex.flatMap {
        case ((n, _), i) => lit(n) +: cols(i) }: _*)
    val rng = base.agg(rangeAggs.head, rangeAggs.tail: _*)
      .select(melt(i => Seq(col(s"lo_$i"), col(s"hi_$i"))).as(Seq("policy", "lo", "hi")))
    val melted = base.select(melt(i => Seq(col(s"s_$i"))).as(Seq("policy", "s")), col("y"))
    histAuc(melted.join(broadcast(rng), "policy"))
  }

  /** Shared histogram Mann-Whitney tail over `(policy, s, y, lo, hi)`
    * rows — ONE definition of the bucket arithmetic for the melted and
    * wide AUC entry points. */
  private def histAuc(withRange: DataFrame): DataFrame = {
    val binned = withRange
      .withColumn("bkt",
        when(col("hi") <= col("lo"), lit(0)) // degenerate: all scores equal
          .otherwise(least(
            floor((col("s") - col("lo")) / (col("hi") - col("lo")) * AucBuckets),
            lit(AucBuckets - 1))).cast("int"))
      .groupBy(col("policy"), col("bkt"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val cum = binned.withColumn("c",
      sum(col("cnt")).over(Window.partitionBy(col("policy")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    finishAuc(cum)
  }

  /** The interaction log with engine-portable keys: arm = p_brand,
    * label = "was returned", plus a deterministic pseudo-random score
    * every engine can recompute (no hash builtin needed); `keys` lead
    * the columns. */
  private def interactions(spark: SparkSession, sfDir: String, keys: Column*): DataFrame =
    graft.Tables.lineitem(spark, sfDir)
      .join(broadcast(graft.Tables.part(spark, sfDir)),
        col("l_partkey") === col("p_partkey"))
      .select(keys ++ Seq(
        col("p_brand").as("arm"),
        LinUCB.clickReward.as("y"),
        pmod(col("l_orderkey") * 131 + col("l_linenumber"), lit(10007))
          .cast("double").as("rnd_score")): _*)

  /** `fb` with the popularity policy's score: its arm's mean reward, 6dp. */
  private def withPopularity(fb: DataFrame): DataFrame =
    fb.join(broadcast(fb.groupBy("arm").agg(round(avg("y"), 6).as("pop_score"))), "arm")

  /** SQL-expressible policies: popularity (arm mean reward) and the
    * pseudo-random baseline, melted into ONE pass over the joined frame
    * (both scores live on the same rows). Oracle-checked. */
  def evalSqlPolicies(spark: SparkSession, sfDir: String): DataFrame =
    aucPerPolicy(meltedSqlPolicies(spark, sfDir),
      col("policy"), col("s"), col("y"))

  /** The melted `(policy, s, y)` frame behind [[evalSqlPolicies]] —
    * package-visible so specs can run both AUC estimators over the
    * identical input. */
  private[ml] def meltedSqlPolicies(spark: SparkSession, sfDir: String): DataFrame =
    withPopularity(interactions(spark, sfDir)).selectExpr(
      "stack(2, 'popularity', pop_score, 'random', rnd_score) AS (policy, s)",
      "y")

  /** Model-based policy eval (rows-only: scoring needs A⁻¹): score each
    * interaction's own (arm, context) with the seeded models, AUC over
    * the pooled scores — the reference's full benchmark roster
    * (`evaluate.py:62-108`):
    *   - `linucb`     — exploration bonus α=0.1 (`evaluate.py:65-70`)
    *   - `lin_greedy` — α=0, pure posterior mean
    *   - `lin_eps`    — LinGreedy with ε=0.1 exploration: with
    *     probability ε the score is a seeded uniform draw (a random
    *     arm preference), else the greedy score (`evaluate.py:83-85`)
    *   - `lin_ts`     — Thompson sampling, deterministic seeded noise,
    *     ν=0.05
    *   - `clusters_ts` — arms k-means-clustered by their mean context
    *     ([[clustersTs]]); one Beta posterior per cluster, sampled per
    *     interaction via a Gaussian approximation (`evaluate.py:88-90`)
    * The AUC is the bucketed approximation ([[aucPerPolicyApprox]]) —
    * the exact-rank form would order one partition per policy over
    * near-unique scores. The oracle is relative, exactly like the
    * reference's (`evaluate.py` ranks policies; the linear policies
    * must beat random) — asserted in spec. */
  def evalLinUCB(spark: SparkSession, sfDir: String): DataFrame =
    aucPerPolicyApproxWide(scoredLinPolicies(spark, sfDir),
      LinPolicyColumns, col("reward"))

  /** q41's (policy name, score column) roster over
    * [[scoredLinPolicies]] — the one place the wide benchmark's
    * policy-to-column mapping lives. */
  private[graft] val LinPolicyColumns: Seq[(String, Column)] = Seq(
    "linucb" -> col("s_ucb"), "lin_greedy" -> col("s_greedy"),
    "lin_ts" -> col("s_ts"), "lin_eps" -> col("s_eps"),
    "clusters_ts" -> col("s_cts"))

  /** q41's checked form (the q84/q114 envelope pattern, applied to the
    * policy benchmark): `n` and `ctr` are exact for every policy, and
    * the two DETERMINISTIC policies' AUCs (`linucb`, `lin_greedy` — no
    * seeded draw anywhere in their scores) surface as `auc_det`, which
    * DuckDB replays end-to-end from lineitem: decimal-exact sufficient
    * statistics (the q30 seed replay) → per-row Cholesky scoring (one
    * forward/back solve per interaction — since r12 the ENGINE scores
    * these two policies through the identical chol(A) float chain
    * ([[graft.functions.PolicyMath.linUcbCholScorePair]]), so the replay
    * is bit-exact by construction, not merely inside the 9dp rounding
    * margin) → the SAME
    * 4096-bucket Mann-Whitney histogram as [[aucPerPolicyApprox]]. The
    * three splitmix-seeded policies (`lin_ts`, `lin_eps`,
    * `clusters_ts`) keep `auc_det` NULL — their draw chains are
    * xxhash64-bound — but carry contract flags instead:
    *   - `auc_in_01`   — the statistic is a valid probability;
    *   - `policy_contract` — the roster's ranking claim, per policy:
    *     `lin_ts` (ν=0.05) tracks the greedy posterior mean within
    *     0.05 (measured gap ≤ 2e-5 at all three SFs); `lin_eps`
    *     (ε=0.1) degrades the greedy AUC by at most 0.1 (measured
    *     ~0.04); `clusters_ts`'s cluster-coarsened posterior lands in
    *     the near-noise band [0.2, 0.8] (measured 0.501–0.523 — it
    *     must NOT rival the per-arm linear models, that's the
    *     benchmark's own finding, and a beats-coin flag would sit a
    *     hair above 0.5 with no margin).
    * A solver regression, a broken seed layer, or a scoring-path change
    * now hash-mismatches the round it happens instead of hiding behind
    * a rows-only check. */
  def evalLinUCBChecked(spark: SparkSession, sfDir: String): DataFrame = {
    val auc = evalLinUCB(spark, sfDir)
    // greedy's AUC broadcast across the 5-row result (window over the
    // tiny finished aggregate, not over the interaction frame)
    val w = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    auc
      .withColumn("auc_gd",
        max(when(col("policy") === "lin_greedy", col("auc"))).over(w))
      .select(
        col("policy"),
        when(col("policy").isin("linucb", "lin_greedy"), col("auc"))
          .as("auc_det"),
        col("ctr"), col("n"),
        (col("auc") >= 0.0 && col("auc") <= 1.0).as("auc_in_01"),
        when(col("policy") === "clusters_ts",
            col("auc") >= 0.2 && col("auc") <= 0.8)
          .when(col("policy") === "lin_eps",
            col("auc_gd") - col("auc") >= -0.01 &&
              col("auc_gd") - col("auc") <= 0.1)
          .when(col("policy") === "lin_ts",
            abs(col("auc") - col("auc_gd")) <= 0.05)
          // deterministic policies (linucb, lin_greedy): the contract
          // IS auc_det's exact hash equality — binding them to lin_ts's
          // greedy-tracking band would flag a legitimate α retune (or a
          // corpus where the UCB bonus moves AUC > 0.05 off greedy) as
          // a fake oracle regression
          .otherwise(lit(true))
          .as("policy_contract"))
  }

  /** The melted `(policy, s, y)` frame over [[scoredLinPolicies]] —
    * spec-visible so the estimator-equivalence tests can run both AUC
    * forms over the identical scores. The serving path (q41) consumes
    * the WIDE frame directly via [[aucPerPolicyApproxWide]]; the stack
    * here exists for the melted-form consumers only. */
  private[graft] def meltedLinPolicies(spark: SparkSession, sfDir: String): DataFrame =
    // melt to (policy, score) so ALL policies evaluate from one pass
    // over the scoring subtree (a per-policy union would re-run the
    // seed aggregation + scoring UDFs once per branch)
    scoredLinPolicies(spark, sfDir).selectExpr(
      "stack(5, 'linucb', s_ucb, 'lin_greedy', s_greedy, 'lin_ts', s_ts, " +
        "'lin_eps', s_eps, 'clusters_ts', s_cts) AS (policy, s)",
      "reward AS y")

  /** The WIDE per-interaction scored frame behind q41: one row per
    * interaction carrying all five policies' 9dp-rounded scores. */
  private[graft] def scoredLinPolicies(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fb = LinUCB.feedbackFromLineitem(spark, sfDir)
    // Models come from the session's materialized layer (seeded once,
    // [[LinUCB.seededModels]]) and re-enter as a local frame, so the
    // ClustersTS fit below adds no further pass over fb (it reads the
    // sufficient statistics already inside the models — [[clustersTs]]).
    val seeded = LinUCB.seededModels(spark, sfDir)
    // hoist the per-ARM factors (θ, chol(A⁻¹)) out of the per-row UDFs:
    // O(d³) work happens once per model on the broadcast side, the row
    // path only draws z and takes dot products
    // cholA = the Cholesky factor of A ITSELF (not of A⁻¹, which seeds
    // the TS draw) — scoring the deterministic policies through it
    // replays the q41 oracle's forward/back-solve float chain exactly,
    // so s_ucb/s_greedy are bit-equal across engines by construction
    // (see graft.functions.PolicyMath.linUcbCholScorePair)
    val cholA = LinUCB.seededCholA(spark, sfDir)
    val models = seeded.toSeq
      .map(m => (m.productId, m.aInv, m.b, m.d,
        LinUCB.thetaOf(m), LinAlg.choleskyLower(m.aInv, m.d),
        cholA(m.productId)))
      .toDF("productId", "aInv", "b", "d", "theta", "lchol", "chol_a")
    // Native codegen'd scoring ([[graft.functions.LinUcbCholScorePair]] /
    // [[graft.functions.LinTsScore]] / the seeded-draw expressions) —
    // the round-5 Scala UDFs cost a serde round-trip per row and broke
    // whole-stage codegen on the scoring subtree (q41 was the slowest
    // query in the bench). The deterministic policies score through
    // chol(A) solves (oracle-exact, within ~cond·ε of the aInv serving
    // path — spec-asserted both ways); the seeded policies keep the
    // serving-path arithmetic bit-for-bit.
    import graft.functions.{linucbCholScorePair, linTsScore, seededUniform => su, seededNormal => sn}
    val cts = clustersTs(spark, seeded)
    val epsSeed = xxhash64(col("productId"), col("x"), lit("eps"))
    val scored = fb.toDF()
      .join(broadcast(models), "productId")
      .join(broadcast(cts), "productId")
      // one solve yields both deterministic policies' scores
      .withColumn("s_pair",
        linucbCholScorePair(col("x"), col("b"), col("chol_a"), 0.1))
      .withColumn("s_ucb", round(element_at(col("s_pair"), 2), 9))
      .withColumn("s_greedy", round(element_at(col("s_pair"), 1), 9))
      // seed = content hash of (arm, context): deterministic across
      // runs and partitionings, unique per distinct interaction shape
      .withColumn("s_ts",
        round(linTsScore(col("x"), col("theta"), col("lchol"),
          xxhash64(col("productId"), col("x")), nu = 0.05), 9))
      // ε-greedy: the first uniform decides explore-vs-exploit; the
      // exploration branch re-seeds (xor salt) so the drawn score is
      // independent of the decision variable
      .withColumn("s_eps",
        round(when(su(epsSeed) < Epsilon,
            su(epsSeed.bitwiseXOR(lit(EpsDrawSalt))))
          .otherwise(col("s_greedy")), 9))
      .withColumn("s_cts",
        round(col("cl_mean") + col("cl_sd") *
          sn(xxhash64(col("productId"), col("x"), lit("cts"))), 9))
    scored.select(col("s_ucb"), col("s_greedy"), col("s_ts"), col("s_eps"),
      col("s_cts"), col("reward"))
  }

  /** Shared ranked-list build for the ranking metrics (q76 precision/
    * recall, q99 NDCG): per-interaction-group arms scored by the
    * popularity and hash-random policies, melted to one row per
    * (policy, group, arm).
    *
    * MATERIALIZED once per (session, sfDir) — q76 and q99 consume the
    * identical ranked frame, and before the layer each re-paid the
    * interaction join + the double per-group ranking window (the most
    * expensive stage of both queries). The checkpoint is one narrow
    * (group_id, y, policy, rn) row per ranked interaction — the
    * `lm_scores` discipline applied to the policy benchmark. */
  private[graft] def rankedScores(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "policy_ranked", sfDir)(rankedScoresUncached(spark, sfDir))

  private def rankedScoresUncached(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = withPopularity(interactions(spark, sfDir,
      col("l_orderkey").as("group_id"), col("l_linenumber").as("line_no")))
    // Rank BOTH policies off one group_id shuffle (two partition-local
    // sorts share the exchange), melting to (policy, rn) only AFTER
    // ranking — the pre-rank melt shuffled 2x the rows with the policy
    // string on every one, and was q99's whole wall at the 10x lake.
    // (group, line_no) is NOT unique in the synthetic lineitem table,
    // so y joins the tie-break: rows that still tie after it carry
    // equal y and cannot change hit counts or gains either way.
    val byGroup = Window.partitionBy(col("group_id"))
    val wPop = byGroup.orderBy(desc("pop_score"), asc("arm"), asc("line_no"), desc("y"))
    val wRnd = byGroup.orderBy(desc("rnd_score"), asc("arm"), asc("line_no"), desc("y"))
    scored
      .withColumn("rn_pop", row_number().over(wPop))
      .withColumn("rn_rnd", row_number().over(wRnd))
      .selectExpr("group_id", "y",
        "stack(2, 'popularity', rn_pop, 'random', rn_rnd) AS (policy, rn)")
  }

  /** Precision@k / Recall@k — the other half of the reference's
    * benchmark table (`evaluate.py:75-76`): each order is one
    * interaction group, its lineitems are the ranked candidates, a hit
    * is a top-k row with reward 1. Reported per policy (popularity +
    * random, the SQL-expressible pair):
    *   - `p_at_k`  = Σ hits / (k · #groups)
    *   - `r_micro` = Σ hits / Σ positives (micro-averaged recall)
    *   - `r_macro` = mean over positive groups of hits/tot
    * All aggregates are either integer-valued doubles (hit/positive
    * counts — exact under any partitioning) or fixed-scale decimals
    * (per-group recall rounded to 12 dp before the sum), so the result
    * hash-matches an external engine. The ranking window partitions by
    * (policy, group) — millions of small partitions, no global sort. */
  def rankingMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val perGroup = rankedScores(spark, sfDir)
      .groupBy(col("policy"), col("group_id"))
      .agg(sum(when(col("rn") <= RankK, col("y")).otherwise(0.0)).as("hits"),
        sum(col("y")).as("tot"))
    perGroup.groupBy(col("policy")).agg(
      round(sum(col("hits")) / (lit(RankK) * count(lit(1))), 6).as(s"p_at_$RankK"),
      round(sum(col("hits")) / sum(col("tot")), 6).as("r_micro"),
      round(
        sum(when(col("tot") > 0, round(col("hits") / col("tot"), 12)
          .cast(org.apache.spark.sql.types.DecimalType(18, 12)))).cast("double") /
          sum(when(col("tot") > 0, 1L).otherwise(0L)), 6).as("r_macro"),
      count(lit(1)).as("n_groups"))
  }

  /** NDCG@k for the same two SQL-expressible policies: binary gains, so
    * `DCG = Σ_{rank≤k, hit} 1/log2(rank+1)` and the ideal DCG depends
    * only on `min(k, #hits)`. Engine-portable fp discipline: each gain
    * term is 12dp-rounded DECIMAL before summing (order-independent),
    * and the per-group NDCG ratio is re-rounded before the cross-group
    * decimal mean — the same trick as [[rankingMetrics]]' macro recall.
    */
  def ndcgMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 12)
    val perGroup = rankedScores(spark, sfDir)
      .groupBy(col("policy"), col("group_id"))
      .agg(
        sum(when(col("rn") <= RankK,
          round(col("y") / log2(col("rn") + 1), 12).cast(dec))
          .otherwise(lit(0).cast(dec))).as("dcg"),
        sum(col("y")).as("tot"))
    // ideal DCG: constants folded at plan time, fixed 3-term order so
    // both engines produce bit-identical doubles
    val idcg = round(lit(1.0) / log2(lit(2.0)), 12) +
      when(col("tot") >= 2, round(lit(1.0) / log2(lit(3.0)), 12)).otherwise(0.0) +
      when(col("tot") >= 3, round(lit(1.0) / log2(lit(4.0)), 12)).otherwise(0.0)
    perGroup.filter(col("tot") > 0)
      .withColumn("ndcg_g",
        round(col("dcg").cast("double") / idcg, 12).cast(dec))
      .groupBy(col("policy"))
      .agg(
        round(sum(col("ndcg_g")).cast("double") / count(lit(1)), 6)
          .as("ndcg_at_3"),
        count(lit(1)).as("n_groups_judged"))
  }

  private[ml] val Epsilon = 0.1
  private val EpsDrawSalt = 0x5deece66dL

  /** ClustersTS fitted artifact: `(productId, cl_mean, cl_sd)` — the
    * reference's sixth benchmark policy (`evaluate.py:88-90`): arms are
    * k-means-clustered (4 clusters, 10 Lloyd rounds) on their mean context vector, and each cluster
    * carries one Beta(1+succ, 1+fail) reward posterior, sampled per
    * interaction through the Gaussian approximation `N(μ, σ²)` with the
    * posterior's own mean/sd (a documented divergence: mabwiser draws
    * Beta variates; the Gaussian form keeps the draw deterministic from
    * a splitmix64 seed, the engine's reproducibility discipline).
    *
    * Scale shape: the fit consumes NO corpus pass of its own — every
    * input it needs is a sufficient statistic the LinUCB seed
    * aggregation already computed. Because the context's slot 0 is the
    * bias (x₀ ≡ 1, `feedbackFromLineitem`):
    *   - row 0 of `A = I + Σxxᵀ` is `[1+n, Σx₁, …, Σx_{d−1}]` — the
    *     per-arm context SUM, so centroid = A[0,:]/n (A recovered from
    *     the stored A⁻¹ by one d×d inversion per ARM, driver-side);
    *   - `b = Σ r·x`, so slot 0 is exactly the success count Σr.
    * The whole fit is therefore driver-side over the arm-bounded model
    * table (catalog-sized, never corpus-sized), and the per-arm
    * `(cl_mean, cl_sd)` result re-enters the plan as a broadcast. */
  private[ml] def clustersTs(spark: SparkSession,
                             models: Array[LinUCB.Model]): DataFrame = {
    import spark.implicits._
    val byArm = models.sortBy(_.productId) // deterministic init + ties
    val centroids = byArm.map { m =>
      val a = LinAlg.invertRowMajor(m.aInv, m.d) // recover A = I + Σxxᵀ
      val n = math.max(m.n, 1L).toDouble
      Array.tabulate(m.d)(j => if (j == 0) (a(0) - 1.0) / n else a(j) / n)
    }
    val k = math.min(4, byArm.length)
    val assign = kMeansLocal(centroids, k, 10)
    val succ = new Array[Double](k)
    val cnt = new Array[Double](succ.length)
    byArm.indices.foreach { i =>
      succ(assign(i)) += byArm(i).b(0) // b[0] = Σ reward (bias slot)
      cnt(assign(i)) += byArm(i).n
    }
    val rows = byArm.indices.map { i =>
      val c = assign(i)
      val alpha = succ(c) + 1.0
      val beta = cnt(c) - succ(c) + 1.0
      val mean = alpha / (alpha + beta)
      val sd = math.sqrt(alpha * beta /
        ((alpha + beta) * (alpha + beta) * (alpha + beta + 1.0)))
      (byArm(i).productId, mean, sd)
    }
    rows.toDF("productId", "cl_mean", "cl_sd")
  }

  /** Driver-side Lloyd k-means over an ARM-BOUNDED point set (≤ a few
    * hundred rows — the arm catalog, never the corpus). Deterministic:
    * init = first k points in caller-sorted order; ties → lowest
    * cluster id. Returns the cluster of each input point in order. */
  private[ml] def kMeansLocal(points: Array[Array[Double]], k: Int,
                              iters: Int): Array[Int] = {
    require(points.nonEmpty && k >= 1)
    val d = points.head.length
    var centroids = points.take(k).map(_.clone())
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var dist = 0.0; var i = 0
          while (i < d) { val df = points(p)(i) - centroids(c)(i); dist += df * df; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Int](k)
      p = 0
      while (p < points.length) {
        val c = assign(p); cnts(c) += 1
        var i = 0
        while (i < d) { sums(c)(i) += points(p)(i); i += 1 }
        p += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (cnts(c) == 0) centroids(c) // empty cluster keeps its centroid
        else sums(c).map(_ / cnts(c))
      }
      it += 1
    }
    assign
  }

  /** First U(0,1] of the splitmix64 stream for `seed` — the same
    * generator discipline as [[LinUCB.scoreTSPre]]. One implementation:
    * the native expression's static helper. */
  private[ml] def seededUniform(seed: Long): Double =
    graft.functions.PolicyMath.seededUniform(seed)

  /** First standard normal (Box-Muller over splitmix64) for `seed`. */
  private[ml] def seededNormal(seed: Long): Double =
    graft.functions.PolicyMath.seededNormal(seed)
}
