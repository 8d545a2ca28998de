package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Join-family operators beyond the reference's inner equi-joins
  * (SURVEY.md §2.3 notes the reference needs only those; these are the
  * adjacent shapes a production pipeline reaches for next — as-of,
  * range, semi/anti, and the hybrid-source keep-latest union that is
  * the batch analog of the reference's bounded-file → live-Kafka
  * HybridSource, `recsys-trainer/.../ParameterUpdateJob.kt:43-61`).
  *
  * Scale stance: every operator here is one shuffle on the natural key.
  * The as-of join is the union-merge formulation (sort-within-key +
  * last_value carry-forward) — linear in rows, no per-row range probe,
  * no quadratic candidate set; the range join is an equi-join on the
  * key with the range as a post-filter, so its fan-out is bounded by
  * per-key density, not corpus size.
  */
object Joins {

  /** As-of join: for each `purchase` event, the most recent `view` by
    * the same user at or before it. Implemented as UNION + keyed window
    * scan: tag views 0 / purchases 1, sort by (time, tag, id) within
    * user, carry the last non-null view id forward — one shuffle, one
    * linear pass, the classic distributed as-of shape (vs. DuckDB's
    * native ASOF JOIN, which is the oracle).
    * Views sharing (user, ts) are deduped to the max event_id first so
    * both engines resolve the tie identically. */
  def asofViewBeforePurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("view_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val tagged = views.select(col("user_id"), col("ts_us"), lit(0).as("tag"),
        col("view_id"), lit(null).cast("long").as("event_id"))
      .unionByName(purchases.select(col("user_id"), col("ts_us"), lit(1).as("tag"),
        lit(null).cast("long").as("view_id"), col("event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"), col("view_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .withColumn("last_view_us", last(
        when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("last_view_id"),
        ((col("ts_us") - col("last_view_us")) / lit(1000000L)).cast("long")
          .as("secs_since_view"))
  }

  /** Range (interval) join: per purchase, how many views the same user
    * made in the preceding hour, and their summed value. Equi-join on
    * user_id bounds the fan-out; the time range is a join-time filter.
    * LEFT keeps zero-view purchases. */
  def viewsWithinHour(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_us").as("v_us"),
        col("value").as("v_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_us") >= col("ts_us") - lit(3600000000L) &&
          col("v_us") <= col("ts_us"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(
        count(col("v_us")).as("n_views_1h"),
        round(coalesce(
          sum(col("v_value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double"), lit(0.0)), 2).as("view_value_1h"))
  }

  /** Semi/anti join: per market segment, how many customers have placed
    * at least one order vs none. `left_semi`/`left_anti` never
    * materialize order columns — the build side is only a key set. */
  def customerOrderPresence(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n")).withColumn("branch", lit("with_orders"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n")).withColumn("branch", lit("without_orders"))
    withOrders.unionByName(withoutOrders)
      .select(col("branch"), col("segment"), col("n"))
  }

  /** Referential-integrity audit over the FK edges a warehouse load
    * must hold: one anti-join per edge (child keys with no parent),
    * counted. Every branch is a left-anti equi-join — Spark plans the
    * small parent side as a broadcast, so the audit reads each fact
    * once and shuffles nothing. The `distinct` child-key counts make
    * the rows meaningful at any scale (orphan KEYS, not orphan rows).
    */
  def fkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def orphans(edge: String, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame =
      child.select(col(childKey)).distinct()
        .join(parent.select(col(parentKey)),
          col(childKey) === col(parentKey), "left_anti")
        .agg(count(lit(1)).as("n_orphan_keys"))
        .withColumn("edge", lit(edge))
    orphans("lineitem.l_orderkey->orders",
        Tables.lineitem(spark, sfDir), "l_orderkey",
        Tables.orders(spark, sfDir), "o_orderkey")
      .unionByName(orphans("orders.o_custkey->customer",
        Tables.orders(spark, sfDir), "o_custkey",
        Tables.customer(spark, sfDir), "c_custkey"))
      .unionByName(orphans("customer.c_nationkey->nation",
        Tables.customer(spark, sfDir), "c_nationkey",
        Tables.nation(spark, sfDir), "n_nationkey"))
      .unionByName(orphans("lineitem.l_partkey->part",
        Tables.lineitem(spark, sfDir), "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"))
      .select(col("edge"), col("n_orphan_keys"))
  }

  /** FULL OUTER reconciliation of two activity ledgers (orders vs
    * events per customer key): presence on each side, zero-filled
    * counts, and a status label — the audit query that closes the join
    * family (inner/semi/anti/asof/range/full). Both sides pre-aggregate
    * to one row per key BEFORE the join, so the full-outer exchange
    * carries key cardinality, not fact rows. */
  def activityReconciliation(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val e = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    o.join(e, col("o_custkey") === col("user_id"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("user_id")).as("entity_key"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        when(col("o_custkey").isNotNull && col("user_id").isNotNull, "both")
          .when(col("o_custkey").isNotNull, "orders_only")
          .otherwise("events_only").as("status"))
  }

  /** Hybrid-source batch analog (S18/T13): bounded history unioned with
    * a live update stream, materialized to latest-image-per-key via one
    * keyed row_number — the Spark shape for "replay the file, then keep
    * consuming the topic". Live updates are derived deterministically:
    * every 10th order re-arrives with status 'X' and a higher lsn. */
  def hybridLatestImage(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val history = o.select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_orderkey") * 2).as("lsn"))
    val live = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        (col("o_orderkey") * 2 + 1).as("lsn"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(desc("lsn"))
    history.unionByName(live)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("o_orderstatus").as("order_status"))
      .agg(count(lit(1)).as("n"), max(col("lsn")).as("max_lsn"))
  }
}
