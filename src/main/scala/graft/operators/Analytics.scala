package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Analytic-SQL surface past the reference's needs (SURVEY.md §2.5
  * notes the reference uses no SQL window functions): native session
  * windows, CUBE, pivot, ranking analytics, deterministic stratified
  * sampling, and corpus n-gram frequency — the shapes a training-data
  * pipeline leans on for curriculum mixing and corpus statistics.
  */
object Analytics {

  /** The engine's ONE portable uniform-hash stream: Knuth
    * multiplicative hash over a pmod-reduced key. pmod-reduce BEFORE
    * multiplying: (key mod 2^20) < 2^20 times 2654435761 < 2^32 stays
    * under 2^52 — exact in a long on Spark AND in DuckDB's BIGINT (no
    * wrap on one engine vs promote on the other); pmod keeps the
    * expression correct for negative keys. `offset` selects an
    * independent stream (applied to the key BEFORE reduction), so two
    * samplers over the same ids draw uncorrelated uniforms — the
    * independence is structural here, not a convention spread across
    * hand-copied expressions. Divide by 2^20 (`lit(1048576.0)`) for a
    * uniform in [0, 1). */
  private[operators] def arithHash(key: org.apache.spark.sql.Column,
                                   offset: Long = 0L): org.apache.spark.sql.Column = {
    val M = 1048576L
    val k = if (offset == 0L) key else key + lit(offset)
    pmod(pmod(k, lit(M)) * lit(2654435761L), lit(M))
  }

  /** Native `session_window` (gap 30 min) per user over events — the
    * declarative form of the hand-rolled sessionization in
    * [[Relational.sessionize]]; both derive the same sessions. The
    * window close is `last event + gap`, matching Spark's streaming
    * session semantics so the same plan runs under `readStream`. */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2)
          .as("session_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("session_value"))

  /** CUBE over (segment, priority): every aggregation granularity in
    * one pass — Spark expands the grouping sets and still does partial
    * aggregation map-side. */
  def revenueCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** Pivot: hour-of-day × event-type counts, wide. The pivot values are
    * a FIXED list (schema stability — same reason the reference
    * reindex-aligns its one-hots, `preprocessor.py:104-109`). */
  def hourlyTypePivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(hour(col("ts")).cast("long").as("hr"), col("event_type"))
      .groupBy(col("hr"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("hr"), col("click").as("n_click"), col("error").as("n_error"),
        col("purchase").as("n_purchase"), col("signup").as("n_signup"),
        col("view").as("n_view"))

  /** Ranking/analytic window functions over customer balances within
    * segment: rank/dense_rank/percent_rank/cume_dist on the VALUE
    * ordering (ties share ranks), ntile(4) on a fully tie-broken
    * ordering (deterministic bucket assignment). */
  def balanceAnalytics(spark: SparkSession, sfDir: String): DataFrame = {
    val byValue = Window.partitionBy(col("c_mktsegment"))
      .orderBy(desc("c_acctbal"))
    val total = Window.partitionBy(col("c_mktsegment"))
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(spark, sfDir).select(
      col("c_custkey").as("user_id"),
      col("c_mktsegment").as("segment"),
      col("c_acctbal").as("acctbal"),
      rank().over(byValue).cast("long").as("rnk"),
      dense_rank().over(byValue).cast("long").as("dense_rnk"),
      round(percent_rank().over(byValue), 6).as("pct_rank"),
      round(cume_dist().over(byValue), 6).as("cume"),
      ntile(4).over(total).cast("long").as("quartile"),
      // decimal-exact diff: balances carry 2 decimals, so the DECIMAL
      // subtraction is exact and engine-independent (no double round)
      (col("c_acctbal").cast(DecimalType(18, 2)) -
        coalesce(lag(col("c_acctbal").cast(DecimalType(18, 2)), 1).over(total),
          col("c_acctbal").cast(DecimalType(18, 2)))).cast("double")
        .as("gap_to_prev"))
  }

  /** Deterministic stratified sampling: per-language keep rates applied
    * through an arithmetic hash of the id (no RNG state — reproducible
    * on any engine, any partitioning; the same trick as the reference's
    * fixed seeds, `prepare_data.py:25`). The sampled subset is
    * engine-independent, so it oracle-checks exactly. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val u = arithHash(col("doc_id")) / lit(1048576.0)
    val rate = when(col("lang") === "en", 0.25).otherwise(0.75)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), round(u, 6).as("u"))
      .filter(u < rate)
  }

  /** Deterministic train/val/test split assignment — the partition
    * labels a training run consumes (80/10/10 by the same overflow-safe
    * arithmetic hash as [[stratifiedSample]]): every engine, every
    * partitioning, every rerun assigns each document the identical
    * split, which is what makes downstream metrics comparable across
    * reprocessings. A 100 TB corpus streams through this map-only
    * projection; the split fractions land within sampling error of the
    * configured rates by hash uniformity (spec-asserted). */
  def splitAssign(spark: SparkSession, sfDir: String,
                  trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val u = arithHash(col("doc_id")) / lit(1048576.0)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), round(u, 6).as("u"),
        splitOf(col("doc_id"), trainFrac, valFrac).as("split"))
  }

  /** The q81 split as a pure COLUMN of the key — the one definition
    * [[splitAssign]] materializes per document and consumers like
    * [[Dedup.splitLeakage]] evaluate map-side on whatever key column
    * they hold, instead of shuffling a corpus-sized assignment frame
    * through a join. */
  private[operators] def splitOf(key: org.apache.spark.sql.Column,
                                 trainFrac: Double = 0.8,
                                 valFrac: Double = 0.1): org.apache.spark.sql.Column = {
    val u = arithHash(key) / lit(1048576.0)
    when(u < trainFrac, "train")
      .when(u < trainFrac + valFrac, "val")
      .otherwise("test")
  }

  /** Deterministic per-group reservoir: the k events per type with the
    * smallest Knuth-multiplicative hash of `event_id` (ties broken by
    * id). Unlike `TABLESAMPLE`/`rand()`, re-running or re-partitioning
    * can never change the sample — the "reservoir" is a pure function
    * of the keys. The scale path is the pre-filter: only rows whose
    * hash falls in the smallest `preKeep` fraction ever reach the
    * per-group window, so the ranked data is a sliver of the fact
    * table; the spec asserts the filter is invisible to the result
    * (it keeps ≫ k rows per group at any tested sf). */
  def groupSample(spark: SparkSession, sfDir: String, k: Int = 5,
                  preKeep: Double = 0.05): DataFrame = {
    val M = 1048576L
    val h = arithHash(col("event_id"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("h"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("user_id"))
      .withColumn("h", h)
      .filter(col("h") < lit((M * preKeep).toLong))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("event_type"), col("rk").cast("long").as("rk"),
        col("event_id"), col("user_id"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * each document draws a deterministic uniform `u` from the
    * overflow-safe arithmetic hash (offset so the stream is independent
    * of [[stratifiedSample]]'s), computes the exponential-jump key
    * `−ln(u)/w` with weight `w = n_chars`, and the global bottom-k by
    * key IS the weighted sample — longer documents proportionally more
    * likely, the standard token-budget-proportional corpus draw.
    * Engine-portable: `u = (h + 0.5)/2^20` is a dyadic rational (bit-
    * identical in any IEEE engine, never 0), the key is 9dp-rounded
    * before ranking with a doc_id tie-break so the selected SET is
    * unique. Shape: map-only scoring + `TakeOrderedAndProject` (per-
    * partition top-k, k-row merge on the driver — no global sort, no
    * shuffle of the corpus). */
  def weightedSample(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame = {
    // offset 7919 = an independent stream from the split/stratify draws
    val h = arithHash(col("doc_id"), offset = 7919L)
    val u = (h.cast("double") + lit(0.5)) / lit(1048576.0)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), round(u, 6).as("u"),
        round(-log(u) / greatest(col("n_chars"), lit(1L)).cast("double"), 9)
          .as("key"))
      .orderBy(col("key"), col("doc_id"))
      .limit(k)
  }

  /** Explicit GROUPING SETS — the third member of the grouping-sets
    * family next to ROLLUP ([[Relational.revenueRollup]]) and CUBE
    * ([[revenueCube]]): only the granularities the report needs, so the
    * expanded-row multiplier is |sets| (here 3), not 2^dims. Group
    * labels surface as 'ALL' (the data never carries real NULLs in
    * these dims) to keep the output engine-portable without
    * grouping_id. */
  def revenueGroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast("double"), 2).as("revenue"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("revenue"))

  /** Value-range window frame: per-customer 30-day trailing revenue,
    * `RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW` over epoch
    * seconds. RANGE (not ROWS) is the semantics reports actually want —
    * the frame is defined by TIME distance, so ties and gaps in order
    * density don't change the answer. The partition key is the shuffle
    * key; frames never cross customers, so the operator scales by
    * customer count. Decimal-exact sum (engine-portable). */
  def movingRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-2592000L, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        // parquet NTZ timestamp → session-TZ (UTC) instant before epoch math
        unix_seconds(col("o_orderdate").cast("timestamp")).as("epoch_s"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("p"))
      .select(col("o_orderkey"), col("o_custkey"), col("epoch_s"),
        round(sum(col("p")).over(w).cast("double"), 2).as("rev_30d"))
  }

  /** Correlation + regression slope per group WITHOUT float
    * accumulation: the five sufficient statistics (n, Σx, Σy, Σx²,
    * Σxy, Σy²) are decimal-exact sums — associative, partitioning-
    * independent, identical on any engine — and the float math happens
    * once per GROUP in the final projection. The portable alternative
    * to `corr()`/`covar_samp()`, whose per-engine accumulation order
    * makes bitwise oracle comparison impossible. */
  def corrStats(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(18, 4))
    val y = col("l_extendedprice").cast(DecimalType(18, 4))
    val sums = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum((x * x).cast(DecimalType(38, 8))).cast("double").as("sxx"),
        sum((x * y).cast(DecimalType(38, 8))).cast("double").as("sxy"),
        sum((y * y).cast(DecimalType(38, 8))).cast("double").as("syy"))
    sums.select(col("flag"), col("n").cast("long").as("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qp"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope_qp"))
  }

  /** Fixed-width histogram of customer balances: bin index is pure
    * IEEE-double arithmetic (identical on every engine), the heavy op
    * is one map-side-combined groupBy. The building block behind
    * quality-score and length histograms over a corpus. */
  def acctbalHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(floor((col("c_acctbal") + 1000.0) / 500.0).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", round(col("bin") * 500.0 - 1000.0, 1))

  /** INTERSECT / EXCEPT surface: customer cohorts by order year —
    * retained (ordered in both years) vs churned (first year only).
    * Spark plans both as left-semi/anti joins over the distinct sets;
    * the two branches share the scan via the common `byYear` subplan. */
  def customerCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def inYear(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()
    val first = inYear(1995)
    val second = inYear(1996)
    first.intersect(second).select(col("o_custkey"), lit("retained").as("cohort"))
      .unionByName(first.except(second)
        .select(col("o_custkey"), lit("churned").as("cohort")))
  }

  /** Calendar-spine gap fill: every (event_type × hour) slot over the
    * observed range, zero-filled counts plus a forward-filled "last
    * active hour" — the time-series densification every downstream
    * charting/feature layer needs. The spine is generated (sequence +
    * explode), never collected; the fill is one window per type. */
  def gapFillHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val spine = bounds.select(col("event_type"),
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val ffill = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), unix_micros(col("h")).as("hour_us"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        last(when(col("cnt").isNotNull, col("h")), ignoreNulls = true)
          .over(ffill).cast("timestamp").as("last_active"))
      .select(col("event_type"), col("hour_us"), col("n"),
        unix_micros(col("last_active")).as("last_active_us"))
  }

  /** CDF-based decile binning of customer balances — the exact,
    * interpolation-free quantile bucketing: aggregate to (value, count)
    * first, cumulative-sum over the DISTINCT values, then
    * `bin = ceil(10·cum/n)` in pure integer arithmetic (so Spark and
    * any oracle agree bit-for-bit; no percentile interpolation to
    * drift). The one ordered window runs over the aggregated distinct
    * values — bounded by the value domain (price cents), NOT the row
    * count, so the single-partition window stays small at any fact
    * scale. */
  def acctbalDecileBins(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.customer(spark, sfDir)
      .groupBy(col("c_acctbal").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = vals.agg(sum(col("cnt")).as("n_total"))
    vals.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr("(cum * 10 + n_total - 1) div n_total"))
      .groupBy(col("bin"))
      .agg(sum(col("cnt")).as("n_customers"),
        min(col("v")).as("lo_bal"), max(col("v")).as("hi_bal"),
        round(sum((col("v") * col("cnt")).cast(DecimalType(18, 2)))
          .cast("double") / sum(col("cnt")), 2).as("avg_bal"))
  }

  /** Ordered conversion funnel view → click → purchase: a user counts
    * for a stage only if the stage event happens strictly AFTER their
    * entry into the previous stage (first qualifying timestamp each
    * time). Each stage is a groupBy on `user_id` — the same shuffle key
    * three times, so AQE/exchange reuse keeps it to one fact-table
    * partitioning; no window, no global sort, scale-safe. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val view = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("view_us"))
    val click = ev.filter(col("event_type") === "click")
      .join(view, "user_id")
      .filter(col("ts_us") > col("view_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("click_us"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .join(click, "user_id")
      .filter(col("ts_us") > col("click_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("purchase_us"))
    view.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
      .unionByName(click.agg(count(lit(1)).as("n_users"))
        .withColumn("stage", lit("2_click")))
      .unionByName(purchase.agg(count(lit(1)).as("n_users"))
        .withColumn("stage", lit("3_purchase")))
      .select(col("stage"), col("n_users"))
  }

  /** Event-type transition matrix (first-order Markov counts): lead
    * over (user_id, ts, event_id) pairs consecutive events per user,
    * then one groupBy on (from, to). The share denominator is a window
    * over the 5×5 AGGREGATED matrix, not the fact table — the only
    * per-row work is one keyed window, partitioned by user. */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val counts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    counts.withColumn("p_trans",
      round(col("n_trans").cast("double") /
        sum(col("n_trans")).over(Window.partitionBy(col("from_type"))), 4))
  }

  /** Cohort retention triangle: customers grouped by first-order month,
    * activity counted per months-since-cohort offset — the classic
    * retention matrix, in pure integer month arithmetic
    * (`year·12 + month`) so offsets are exact on any engine. Two
    * aggregations on the customer key plus one on the (cohort, offset)
    * pair; the fact table is read once. */
  def retentionTriangle(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + (month(col("o_orderdate")) - 1)).as("mi"))
    val cohort = o.groupBy(col("o_custkey")).agg(min(col("mi")).as("cohort_mi"))
    o.distinct()
      .join(cohort, "o_custkey")
      .groupBy(col("cohort_mi"), (col("mi") - col("cohort_mi")).as("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .select(
        expr("cohort_mi div 12").cast("long").as("cohort_year"),
        (pmod(col("cohort_mi"), lit(12)) + 1).cast("long").as("cohort_month"),
        col("month_offset").cast("long").as("month_offset"),
        col("n_active"))
  }

  /** Per-user event-type trigram mining (behavioral patterns): two
    * leads over the per-user order, one groupBy over the 5³ trigram
    * space — the same single keyed window as [[transitionMatrix]],
    * pattern length notwithstanding. */
  def eventTrigrams(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("t1"), asc("t2"), asc("t3"))
      .limit(k)
  }

  /** ABC / Pareto classification of parts by revenue: cumulative
    * revenue share in descending order → A (first 80%), B (to 95%),
    * C (tail). Both the running and the grand total accumulate as
    * DECIMAL, so the shares — and therefore the class boundaries — are
    * exact and engine-identical, immune to fp summation order (decimal
    * addition is associative, which is also what makes the distributed
    * prefix-scan below value-identical to a global ordered pass).
    *
    * SCALE SHAPE: the round-5 form ran ONE ordered window over the
    * aggregated per-part rows — domain-bounded but still growing with
    * the catalog. This form distributes the cumulative sum as a prefix
    * scan (the same trick as [[SupplierStats.tagLate]]):
    *   1. range-partition the per-part frame by the output order
    *      (rev desc, part asc) and PIN the layout with one
    *      localCheckpoint — the frame is catalog-sized, never
    *      fact-sized, and pinning makes the two passes see identical
    *      partition ids despite range-sampling nondeterminism;
    *   2. per-partition decimal totals → driver (numPartitions values),
    *      exclusive-prefix-summed with BigDecimal (exact);
    *   3. cumulative = broadcast offset + partition-local ordered
    *      window — every sort is bounded by catalog/numPartitions rows,
    *      no SinglePartition exchange anywhere (plan-audited). */
  def revenueAbc(spark: SparkSession, sfDir: String): DataFrame = {
    // construction runs eager jobs (per-partition totals + the pinned
    // checkpoint), so the finished frame is memoized per (sfDir,
    // partition count) — repeat callers reuse one checkpoint instead of
    // re-materializing the pipeline each time
    val nParts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    abcCache.getOrCompute(spark, (sfDir, nParts)) {
      buildRevenueAbc(spark, sfDir, nParts)
    }
  }

  private val abcCache = new graft.SessionCache[(String, Int), DataFrame](
    onEvict = graft.SessionCache.unpersistCheckpoint)

  private def buildRevenueAbc(spark: SparkSession, sfDir: String,
                              nParts: Int): DataFrame = {
    import graft.functions.ExactNum._
    import org.apache.spark.sql.types.DecimalType
    // round to cents with ROUND in DECIMAL space: double-then-round
    // diverges between engines at .xx5 boundaries, and a decimal
    // scale-down CAST truncates in DuckDB while Spark rounds — only
    // the explicit decimal ROUND agrees everywhere
    val pr = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("part_id"))
      .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
        .as("rev_d"))
    val (ranged, total) = graft.operators.PrefixScan.withDecimalOffsets(
      pr, Seq(desc("rev_d"), asc("part_id")), col("rev_d"), scale = 2)
    val dec = DecimalType(38, 2)
    val w = Window.partitionBy(col("pid"))
      .orderBy(desc("rev_d"), asc("part_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn("cum", col("off") + sum(col("rev_d").cast(dec)).over(w))
      .withColumn("cum_share",
        round(col("cum").cast("double") / lit(total).cast("double"), 6))
      .select(col("part_id"), col("rev_d").cast("double").as("revenue"),
        col("cum_share"),
        when(col("cum_share") <= 0.80, "A")
          .when(col("cum_share") <= 0.95, "B")
          .otherwise("C").as("abc_class"))
  }

  /** Per-group argmax/argmin WITHOUT a window: `max(struct(ord, key))`
    * is a single-value aggregation state (constant memory per group,
    * partial-merges map-side), unlike row_number which sorts every
    * group — the scale path for top-1-per-group at 100 TB. The struct
    * ordering is lexicographic (balance, then custkey), so ties are
    * deterministic. */
  def segmentExtremes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        max(struct(col("c_acctbal"), col("c_custkey"))).as("mx"),
        min(struct(col("c_acctbal"), col("c_custkey"))).as("mn"),
        count(lit(1)).as("n_customers"))
      .select(col("segment"),
        col("mx.c_acctbal").as("top_bal"), col("mx.c_custkey").as("top_cust"),
        col("mn.c_acctbal").as("low_bal"), col("mn.c_custkey").as("low_cust"),
        col("n_customers"))

  /** Numeric column profiling — the data-quality report a 100 TB load
    * runs before anything else: null count, exact distinct, min/max per
    * column, one output row per column. One aggregation pass computes
    * every column's stats; the melt to long form happens on the 1-row
    * result, so the table is scanned exactly once. */
  def profileCustomerNumeric(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("c_custkey", "c_nationkey", "c_acctbal")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max"))
    }
    val wide = Tables.customer(spark, sfDir).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max").mkString(", ")
    wide.selectExpr(
      s"stack(${cols.length}, $stacked) " +
        "AS (column_name, n_nulls, n_distinct, min_val, max_val)")
  }

  /** UNPIVOT/melt — the inverse of [[hourlyTypePivot]]: wide per-entity
    * columns to long (entity, feature, value) rows, the layout feature
    * stores and ML trainers ingest. Spark's native `unpivot` keeps it
    * map-only (one generator row per cell, no shuffle). */
  def customerFeatureMelt(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        col("c_acctbal").as("acctbal"),
        when(col("c_mktsegment") === "AUTOMOBILE", 1.0).otherwise(0.0)
          .as("seg_auto"),
        col("c_nationkey").cast("double").as("nation_key"))
      .unpivot(Array(col("c_custkey")),
        Array(col("acctbal"), col("seg_auto"), col("nation_key")),
        "feature", "value")

  /** Hourly volume anomaly flags per event type: z-score of each hour's
    * count against the type's own distribution, |z| > 3 flagged. The
    * mean/variance come from INTEGER power sums (Σn, Σn², count) so the
    * moments are exact and engine-portable — a naive `stddev` would
    * inherit each engine's partial-aggregation order. Two aggregations
    * (hour counts, then 5-row type stats broadcast back); no window. */
  def hourlyAnomalies(spark: SparkSession, sfDir: String): DataFrame = {
    val hc = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
    val stats = hc.groupBy(col("event_type"))
      .agg(sum(col("n")).as("sn"), sum(col("n") * col("n")).as("sn2"),
        count(lit(1)).as("cnt"))
    hc.join(broadcast(stats), "event_type")
      .withColumn("mean", col("sn").cast("double") / col("cnt"))
      // cnt == 1 would divide 0/0 → NaN, and Spark's NaN ordering makes
      // abs(NaN) > 3 TRUE while other engines' division-by-zero differs —
      // a type with a single hour bucket has no variance estimate, so z
      // is null there (mirrored in the oracle's CASE WHEN cnt > 1)
      .withColumn("variance",
        when(col("cnt") > 1,
          greatest((col("sn2").cast("double") -
            col("sn").cast("double") * col("sn") / col("cnt")) /
            (col("cnt") - 1), lit(1e-12))))
      .select(col("event_type"), unix_micros(col("h")).as("hour_us"),
        col("n"),
        round((col("n") - col("mean")) / sqrt(col("variance")), 4).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 3.0)
  }

  /** Distribution-drift monitor (PSI) between two time-split
    * populations of each event type — the data-quality check a
    * snapshot/crawl pipeline runs before accepting a new batch:
    * morning (hour < 12) vs afternoon event values binned into 10
    * fixed-width cells over the TYPE's own [min, max], then
    * `PSI = Σ (pA − pB)·ln(pA/pB)` with ε-clamped shares. Engine-
    * portable fp discipline: bin assignment is the int8-quantize
    * formula (clamped denominator), each PSI term is 9dp-rounded
    * DECIMAL before the sum (order-independent), shares are exact
    * integer-count divisions. All drift arithmetic (bin formula, PSI
    * term, alert threshold) is [[graft.functions.Drift]] — shared with
    * the streaming monitor [[graft.streaming.DriftStream]] so the two
    * cannot diverge. Shape: one min/max aggregation broadcast
    * back, one (type, side, bin) counting aggregation, one type-level
    * fold — all map-side-combined, no window, no per-row state. */
  def valueDrift(spark: SparkSession, sfDir: String,
                 bins: Int = graft.functions.Drift.Bins,
                 eps: Double = graft.functions.Drift.Eps): DataFrame = {
    import graft.functions.Drift
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        when(hour(col("ts")) < 12, "a").otherwise("b").as("side"))
    val rng = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val binned = ev.join(broadcast(rng), "event_type")
      .withColumn("bin", Drift.binOf(col("value"), col("lo"), col("hi"), bins))
      .groupBy(col("event_type"), col("side"), col("bin"))
      .agg(count(lit(1)).as("n"))
    // per-type totals come from a WINDOW over the already-aggregated
    // (type, bin) frame — types×bins rows, partitioned by type — so the
    // events scan + range join + counting aggregation run exactly once
    // (a second groupBy off `binned` would re-execute that subtree)
    val byType = Window.partitionBy(col("event_type"))
    val shares = binned
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("side") === "a", col("n")).otherwise(0L)).as("na"),
        sum(when(col("side") === "b", col("n")).otherwise(0L)).as("nb"))
      .withColumn("ta", sum(col("na")).over(byType))
      .withColumn("tb", sum(col("nb")).over(byType))
      .withColumn("pa", greatest(col("na").cast("double") / col("ta"), lit(eps)))
      .withColumn("pb", greatest(col("nb").cast("double") / col("tb"), lit(eps)))
    shares
      .withColumn("term", Drift.psiTerm(col("pa"), col("pb")))
      .groupBy(col("event_type"))
      .agg(round(sum(col("term")).cast("double"), 6).as("psi"),
        max(col("ta")).as("n_a"), max(col("tb")).as("n_b"))
      .withColumn("drifted", col("psi") > Drift.Threshold)
  }

  /** Corpus bigram frequency, top 20 (count desc, bigram asc): the
    * explode → groupBy shape whose shuffle carries (bigram, partial
    * count) — map-side combine keeps it narrow at corpus scale. */
  /** The ONE adjacent-token pair fan-out, shared by [[topBigrams]] and
    * [[bigramPmi]]: tokenize ONCE per row (the lambda would otherwise
    * re-split per reference — Catalyst does not CSE inside higher-order
    * functions), guard `size >= 2` (sequence(1, 0) would run DESCENDING
    * in Spark, not empty), skip null text the way SQL SUM/unnest do. */
  private def tokenPairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))

  def topBigrams(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    tokenPairs(spark, sfDir)
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(k)

  /** Collocation mining via pointwise mutual information — the step
    * past raw bigram counts ([[topBigrams]]): score each bigram by
    * `ln(p(ab) / (p(a)·p(b)))` so genuinely-associated pairs rank
    * above pairs that co-occur merely because both words are common.
    * Shape: one unigram and one bigram counting aggregation (both
    * map-side combined, vocabulary-bounded outputs), the unigram table
    * broadcast twice into the bigram frame, totals as a 1-row
    * broadcast. The PMI expression keeps ONE division/association
    * order, mirrored exactly in the oracle, and ranks on the 6dp-
    * rounded score with a bigram tie-break. `minCount` suppresses the
    * unstable low-frequency tail (classic collocation practice). */
  def bigramPmi(spark: SparkSession, sfDir: String, k: Int = 20,
                minCount: Int = 5): DataFrame = {
    // Unigram counts derive EXACTLY from the session's shared
    // term-frequency index (`cw = Σ tf` over the term's postings — the
    // q91/q100 discipline): the query's former private tokenize +
    // checkpoint pass is dropped, leaving the bigram adjacency scan as
    // the only corpus pass (term_freqs loses token order, so bigrams
    // cannot ride the index). Vocabulary-bounded aggregations over the
    // checkpointed narrow layer, never the text column.
    val tfl = graft.features.Features.materializedTermFreqs(spark, sfDir)
    val uni = tfl.groupBy(col("term").as("w")).agg(sum(col("tf")).as("cw"))
    // n_tokens folds off the same index; n_bigrams = n_tokens − docs
    // (split yields ≥ 1 token per non-null row, so per-doc bigrams =
    // tokens − 1). The docs are counted off the index too, so a
    // null-text document, which has no tokens, is not subtracted.
    val totals = tfl.agg(sum(col("tf")).as("n_tokens"), countDistinct(col("doc_id")).as("n_docs"))
      .select(col("n_tokens"), (col("n_tokens") - col("n_docs")).as("n_bigrams"))
    val bi = tokenPairs(spark, sfDir)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    bi.join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("cw", "ca")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("cw", "cb")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("cab").cast("double") / col("n_bigrams")) /
          ((col("ca").cast("double") / col("n_tokens")) *
            (col("cb").cast("double") / col("n_tokens")))), 6))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("cab"), col("ca"), col("cb"), col("pmi"))
      .orderBy(desc("pmi"), asc("bigram"))
      .limit(k)
  }

  /** Categorical mutual information — the feature-selection statistic
    * between two categorical columns (here market segment × nation over
    * customers): per-cell terms `p(x,y)·ln(p(x,y)/(p(x)·p(y)))` whose
    * sum is MI(X;Y) ≥ 0. Everything past the one counting aggregation
    * runs on the PINNED cells frame (|X|·|Y| rows — catalog-bounded):
    * marginals as partitioned windows over it, the grand total as a
    * broadcast cross join, so the customer table is scanned exactly
    * once. Terms are 9dp-rounded with one shared division order,
    * mirrored in the oracle; the spec asserts the sum is non-negative
    * and equals a naive recompute. */
  def featureMi(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment").as("segment"),
        col("c_nationkey").as("nation_key"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val total = cells.agg(sum(col("n")).as("nt"))
    cells
      .withColumn("nx", sum(col("n")).over(Window.partitionBy(col("segment"))))
      .withColumn("ny", sum(col("n")).over(Window.partitionBy(col("nation_key"))))
      .crossJoin(broadcast(total))
      .withColumn("mi_term", round(
        (col("n").cast("double") / col("nt")) * log(
          (col("n").cast("double") / col("nt")) /
            ((col("nx").cast("double") / col("nt")) *
              (col("ny").cast("double") / col("nt")))), 9))
      .select(col("segment"), col("nation_key"), col("n"), col("mi_term"))
  }

  /** Benford first-digit audit — the classic fabricated-data check over
    * a monetary column: observed first-significant-digit shares of
    * order totals against the Benford expectation `log10(1 + 1/d)`.
    * The digit comes from integer cents via STRING truncation (exact
    * in every engine; a log10-based magnitude would wobble at powers
    * of ten). One 9-group aggregation, map-side combined; shares are
    * integer-count divisions rounded at 6dp. */
  def benfordDigits(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    // 9-row frame pinned so the grand-total fold doesn't re-scan
    // orders; the total then rides a broadcast cross join (the oracle's
    // CROSS JOIN t shape) instead of an unpartitioned window
    val g = Tables.orders(spark, sfDir)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    g.crossJoin(broadcast(g.agg(sum(col("n")).as("total"))))
      .withColumn("obs_share",
        round(col("n").cast("double") / col("total"), 6))
      .withColumn("benford_share",
        round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 6))
      .withColumn("abs_dev", round(abs(col("obs_share") - col("benford_share")), 6))
      .select(col("digit"), col("n"), col("obs_share"),
        col("benford_share"), col("abs_dev"))
  }
}
