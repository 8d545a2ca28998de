package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** CDC envelope semantics (S5/S6): the reference captures row-level
  * changes from Postgres via Debezium and unwraps them with the
  * `ExtractNewRecordState` SMT, adding `op, db, table, schema, lsn,
  * source.ts_ms` metadata (`cdc-local/config/debezium/
  * application.properties:16-26`). The engine-side capability is the
  * JSON envelope decode: `from_json` on the wire bytes → `payload.*` +
  * metadata — the same plan shape whether the bytes come from a Kafka
  * `readStream` or, as here, a batch table.
  */
object Cdc {

  /** Wire schema of an unwrapped Debezium change event for the orders
    * table (payload flattened by the SMT, metadata appended). */
  val ordersEnvelopeSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("order_status", StringType),
    StructField("total_price", DoubleType),
    StructField("order_date", StringType),
    StructField("op", StringType),
    StructField("db", StringType),
    StructField("table", StringType),
    StructField("lsn", LongType)))

  /** Produce the change-event stream: each orders row JSON-encoded as an
    * insert envelope, keyed like the reference's topic records
    * (`<prefix>.<schema>.<table>`, key = PK). */
  def ordersEnvelope(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.spread(Tables.orders(spark, sfDir)).select(
      col("o_orderkey").cast("string").as("key"),
      to_json(struct(
        col("o_orderkey").as("order_id"),
        col("o_orderstatus").as("order_status"),
        col("o_totalprice").as("total_price"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("order_date"),
        lit("c").as("op"),
        lit("demo").as("db"),
        lit("orders").as("table"),
        col("o_orderkey").as("lsn"))).as("value"))

  /** S6: unwrap — `from_json` on the envelope, project payload columns +
    * metadata. Round-trips [[ordersEnvelope]], so the composite is
    * oracle-checkable against a plain projection of `orders`. */
  def ordersUnwrapped(spark: SparkSession, sfDir: String): DataFrame =
    ordersEnvelope(spark, sfDir)
      .select(from_json(col("value"), ordersEnvelopeSchema).as("payload"))
      .select(
        col("payload.order_id"), col("payload.order_status"),
        col("payload.total_price"), col("payload.order_date"),
        col("payload.op"), col("payload.table").as("src_table"))

  // --- order_items (lineitem) stream with op codes + delete rewrite ---
  // The reference captures TWO tables (`ecommerce.orders`,
  // `ecommerce.order_items`) and configures delete rewrite: a delete
  // arrives as a row with the payload nulled except the key, plus
  // `__deleted = "true"` (`application.properties:22-26`). Op codes are
  // synthesized deterministically from the key so the envelope stream is
  // reproducible: create / update / delete ≈ 80/15/5.

  val lineitemEnvelopeSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("line_no", IntegerType),
    StructField("part_id", LongType),
    StructField("quantity", DoubleType),
    StructField("price", DoubleType),
    StructField("op", StringType),
    StructField("__deleted", StringType),
    StructField("table", StringType),
    StructField("lsn", LongType)))

  def lineitemEnvelope(spark: SparkSession, sfDir: String): DataFrame = {
    val op = when(pmod(col("l_orderkey") + col("l_linenumber"), lit(20)) < 16, "c")
      .when(pmod(col("l_orderkey") + col("l_linenumber"), lit(20)) < 19, "u")
      .otherwise("d")
    Similarity.spread(Tables.lineitem(spark, sfDir)).select(
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("key"),
      to_json(struct(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        // delete rewrite: payload nulled except the key columns
        when(op === "d", lit(null).cast("long")).otherwise(col("l_partkey")).as("part_id"),
        when(op === "d", lit(null).cast("double")).otherwise(col("l_quantity")).as("quantity"),
        when(op === "d", lit(null).cast("double")).otherwise(col("l_extendedprice")).as("price"),
        op.as("op"),
        when(op === "d", "true").otherwise("false").as("__deleted"),
        lit("order_items").as("table"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("lsn"))).as("value"))
  }

  /** Changelog observability summary: per-op row count, payload
    * presence, log high-water mark. Reads the [[decodedVersionedLog]]
    * SESSION LAYER — the envelope synthesis + JSON round-trip runs
    * once per session (the bronze→silver decode), and every changelog
    * consumer (this summary, SCD-2 history, latest-image compaction,
    * snapshot diff) shares that one materialization instead of paying
    * the linear decode again. At a 10× log this query is then one
    * map-side-combined aggregation over already-typed rows. */
  def lineitemChangelogSummary(spark: SparkSession, sfDir: String): DataFrame =
    decodedVersionedLog(spark, sfDir)
      .groupBy(col("op"))
      .agg(
        count(lit(1)).as("n"),
        count(col("part_id")).as("n_with_payload"),
        max(col("lsn")).as("max_lsn"))

  // --- multi-version changelog → materialized table ---
  // The reference's CDC pipeline ends at a topic; the natural consumer
  // (what `cdc-local/ps_sub.py` hand-waves with a print) is a
  // materialized VIEW of the captured table: apply c/u/d per key in
  // log order, keep the latest surviving image. Version history is
  // synthesized deterministically from the key so an external SQL
  // oracle can state the expected final table in closed form:
  //   h = pmod(l_orderkey*31 + l_linenumber, 10)   (per KEY)
  //   each source row (payload-ranked r among same-key duplicates):
  //     'c' (insert, original quantity)          lsn = base(key, r)
  //     h >= 4 → 'u' (update, quantity + 1)      lsn = base(key, r)+1
  //     h >= 8 → 'd' (delete, payload nulled)    lsn = base(key, r)+2
  // so the final state is: keys with h < 8 survive, the image comes
  // from the key's HIGHEST-ranked duplicate row, quantity bumped iff
  // h >= 4.

  private def versionHash = pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(10))

  /** The multi-version wire stream: up to 3 envelopes per key, ordered
    * by a monotone per-key `lsn`. The synthetic lineitem table carries
    * duplicate (orderkey, linenumber) keys, so the log treats each
    * duplicate source row as a successive rewrite of the same key —
    * ranked deterministically by payload so the per-key order (and thus
    * the materialized image) is well-defined on any engine. Envelope
    * construction itself is map-side; the rank is one keyed window. */
  def versionedEnvelope(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dupRank = Window.partitionBy(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    // lsn space: 1000 slots per key (≫ any duplicate-group size), 4 per
    // rewrite generation — monotone across generations of one key,
    // unique across keys.
    val keyLsn = (col("l_orderkey") * 10 + col("l_linenumber")) * 1000 +
      (col("r") - 1) * 4
    def env(op: String, quantity: org.apache.spark.sql.Column, lsnOff: Int) = struct(
      lit(op).as("op"),
      (keyLsn + lsnOff).as("lsn"),
      when(lit(op) === "d", lit(null).cast("long")).otherwise(col("l_partkey")).as("part_id"),
      when(lit(op) === "d", lit(null).cast("double")).otherwise(quantity).as("quantity"),
      when(lit(op) === "d", lit(null).cast("double")).otherwise(col("l_extendedprice")).as("price"))
    Similarity.spread(Tables.lineitem(spark, sfDir))
      .withColumn("h", versionHash)
      .withColumn("r", row_number().over(dupRank))
      .select(col("l_orderkey"), col("l_linenumber"),
        explode(filter(array(
          env("c", col("l_quantity"), 0),
          when(col("h") >= 4, env("u", col("l_quantity") + 1, 1)),
          when(col("h") >= 8, env("d", col("l_quantity"), 2))), v => v.isNotNull)).as("v"))
      .select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("key"),
        to_json(struct(
          col("l_orderkey").as("order_id"),
          col("l_linenumber").as("line_no"),
          col("v.part_id"), col("v.quantity"), col("v.price"),
          col("v.op"),
          when(col("v.op") === "d", "true").otherwise("false").as("__deleted"),
          lit("order_items").as("table"),
          col("v.lsn"))).as("value"))
  }

  /** The DECODED changelog — the bronze→silver materialization every
    * CDC pipeline performs exactly once: wire envelopes parsed to typed
    * rows, pinned per (session, sfDir). Both changelog consumers (SCD-2
    * history, latest-image compaction) read THIS layer, so the envelope
    * synthesis + JSON round-trip runs once, not once per consumer. */
  def decodedVersionedLog(spark: SparkSession, sfDir: String): DataFrame =
    graft.Layers.frame(spark, "cdc_decoded_log", sfDir) {
      versionedEnvelope(spark, sfDir)
        .select(from_json(col("value"), lineitemEnvelopeSchema).as("p"))
        .select(col("p.*"))
    }

  /** SCD-2 history from the changelog: order each key's versions by
    * lsn, and close every version with its successor's lsn
    * (`valid_to_lsn`, null = still open). Deletes close the last image
    * and contribute no row of their own — the standard slowly-changing-
    * dimension type-2 build, as one PK-partitioned window over the
    * decoded stream (same single keyed shuffle as
    * [[materializeLatest]]; the history keeps ALL versions instead of
    * row 1). */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("order_id"), col("line_no"))
      .orderBy(col("lsn"))
    decodedVersionedLog(spark, sfDir)
      .withColumn("valid_to_lsn", lead(col("lsn"), 1).over(byKey))
      .filter(col("op") =!= "d")
      .select(col("order_id"), col("line_no"), col("part_id"),
        col("quantity"), col("price"),
        col("lsn").as("valid_from_lsn"), col("valid_to_lsn"),
        col("valid_to_lsn").isNull.as("is_current"))
  }

  /** Snapshot diff — the lakehouse "what changed between table
    * versions" op: the first-loaded image of every key (min-lsn insert
    * from the changelog) against the current materialized state, each
    * key classified added / removed / changed (unchanged keys drop
    * out). Shape: ONE aggregation pass over the changelog computes
    * BOTH images per PK in the same group — `min_by` over a lsn
    * ordering that is null unless op = 'c' (min_by/max_by skip
    * null-ordered rows, so the base image is exactly the former
    * op-filtered aggregate) and the [[materializeLatest]] `max_by` —
    * replacing the former two-aggregation + full-outer-join plan
    * (two changelog scans, two shuffles, one SMJ) with one scan and
    * one keyed shuffle; both aggregates partial-merge map-side. A key
    * with no base AND no surviving current image (insert-free
    * changelog ending in a delete) matched neither full-outer side
    * before, so it is filtered the same way here. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame =
    snapshotDiffOf(decodedVersionedLog(spark, sfDir))

  /** [[snapshotDiff]]'s core over a decoded changelog
    * (`lineitemEnvelopeSchema` rows). */
  def snapshotDiffOf(log: DataFrame): DataFrame = {
    val both = log
      .groupBy(col("order_id"), col("line_no"))
      .agg(
        min_by(struct(col("part_id"), col("quantity"), col("price")),
          when(col("op") === "c", col("lsn"))).as("b"),
        max_by(struct(col("part_id"), col("quantity"), col("price"), col("op")),
          col("lsn")).as("last"))
      // null out the current image for finally-deleted keys, exactly as
      // materializeLatest's delete filter removed them from the join side
      .withColumn("c",
        when(col("last.op") =!= "d",
          struct(col("last.part_id").as("part_id"),
            col("last.quantity").as("quantity"),
            col("last.price").as("price"))))
    both
      .withColumn("change",
        when(col("c").isNull, "removed")
          .when(col("b").isNull, "added")
          .when(col("b.part_id") =!= col("c.part_id") ||
            col("b.quantity") =!= col("c.quantity") ||
            col("b.price") =!= col("c.price"), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged" &&
        !(col("b").isNull && col("c").isNull))
      .select(col("order_id"), col("line_no"),
        col("change"), col("b.quantity").as("base_quantity"),
        col("c.quantity").as("curr_quantity"))
  }

  /** Materialize the table from the changelog: decode the wire envelope,
    * keep the max-lsn image per key as a `max_by` AGGREGATION (lsn is
    * unique per key by construction), drop keys whose final image is a
    * delete. max_by beats the row_number-window form at scale: the
    * aggregate carries ONE struct per key of constant size, partially
    * merged map-side, so the PK shuffle moves ~|keys| rows instead of
    * every version, and no per-key sort runs at all — exactly the shape
    * a 100 TB changelog compaction wants. This is the batch twin of the
    * streaming upsert view ([[graft.streaming.CdcMaterialize]]); the
    * two agree by spec. */
  def materializeLatest(spark: SparkSession, sfDir: String): DataFrame =
    decodedVersionedLog(spark, sfDir)
      .groupBy(col("order_id"), col("line_no"))
      .agg(max_by(
        struct(col("part_id"), col("quantity"), col("price"), col("op")),
        col("lsn")).as("last"))
      .filter(col("last.op") =!= "d")
      .select(col("order_id"), col("line_no"), col("last.part_id").as("part_id"),
        col("last.quantity").as("quantity"), col("last.price").as("price"))
}
