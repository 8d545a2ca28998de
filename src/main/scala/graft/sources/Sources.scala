package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** File sources (SURVEY §2.1 S1/S17).
  *
  * The reference reads CSVs two ways: a plain DictReader scan
  * (`cdc-local/src/utils.py:113-119`) and a hand-rolled Flink
  * FileSource format that skips the header and silently drops
  * malformed lines (`recsys-trainer/.../FileSourceFactory.kt:30-107`).
  * Spark's csv reader covers both: explicit schema (never inferred),
  * `header=true`, `mode=DROPMALFORMED`.
  */
object Sources {

  /** Wire schema of the order stream in CSV form (the reference's
    * training-log pattern: typed columns, header row, bad lines
    * dropped). */
  val orderCsvSchema: StructType = StructType(Seq(
    StructField("order_id", StringType),
    StructField("bid_time", StringType),
    StructField("price", DoubleType),
    StructField("item", StringType),
    StructField("supplier", StringType)))

  def csvOrders(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(orderCsvSchema)
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .csv(path)

  /** The reference's supplier alternation, verbatim
    * (`orders-json-clients/.../ProducerApp.kt:51` `faker.regexify`). */
  val SupplierPattern =
    "(Alice|Bob|Carol|Dave|Eve|Frank|Grace|Heidi)"

  /** F6/F11 as ENGINE operators: the reference's producer synthesizes
    * each order with `UUID.randomUUID()` + `faker.regexify` from global
    * RNGs (`ProducerApp.kt:47-53`) — irreproducible by design. The
    * engine's twin derives both from a content seed, so a synthetic
    * stream regenerates bit-identically on any run/partitioning/replay
    * (spec-asserted); downstream joins on the generated keys are
    * therefore stable. Map-only, codegen'd, no RNG state anywhere. */
  def syntheticOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(spark, sfDir).select(
      col("event_id"),
      graft.functions.seededUuid(xxhash64(col("event_id"), lit("oid")))
        .as("order_id"),
      graft.functions.regexGen(SupplierPattern,
        xxhash64(col("event_id"), lit("sup"))).as("supplier"),
      round(col("value"), 2).as("price"))
  }

  /** The q114 surface: [[syntheticOrders]] reduced to its oracle-
    * checkable ENVELOPE — the q84/q100 error-envelope pattern applied
    * to generation. The drawn values themselves are xxhash64/splitmix-
    * bound (no external engine can replay them; their bit-stability is
    * spec-asserted in `GenExprsSpec`), but every CONTRACT the generator
    * makes is checkable: one output row per event with the source key
    * preserved (FK closure — asserted through an actual join back to
    * `events`, so the check exercises the generated frame, not the
    * formula), collision-free order ids, RFC-4122 v4 format, suppliers
    * inside the declared 8-name alternation with all names drawn, a
    * χ²-vs-uniform bound (df=7: observed 2.6–6.9 across the driver
    * SFs; 30 ≈ the 1e-4 tail, wide but deterministic — the generator
    * is a pure function of the data, so the flag cannot flake), and
    * prices exactly `round(value, 2)`. DuckDB replays the counts from
    * `events` and expects every flag TRUE. */
  def syntheticOrdersChecked(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val so = syntheticOrders(spark, sfDir)
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id").as("src_event_id"),
        round(col("value"), 2).as("expect_price"))
    val joined = so.join(ev, col("event_id") === col("src_event_id"))
    val suppliers = SupplierPattern.stripPrefix("(").stripSuffix(")")
      .split("\\|").toSeq
    val perSupplier = joined.groupBy(col("supplier"))
      .agg(count(lit(1)).as("c"))
    // χ² against uniform over K=8 names: Σ(cᵢ−n/8)²/(n/8) = 8·Σcᵢ²/n − n
    // (missing names contribute via the n_suppliers = 8 check)
    val chi2Row = perSupplier.agg(
      count(lit(1)).as("n_suppliers"),
      (lit(8.0) * sum(col("c") * col("c")) / sum(col("c")) -
        sum(col("c"))).as("chi2"))
    joined.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("order_id")).as("n_order_ids"),
        bool_and(col("price") === col("expect_price")).as("price_is_rounded_value"),
        bool_and(col("order_id").rlike(
          "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"))
          .as("uuid_v4_format"),
        bool_and(col("supplier").isin(suppliers: _*)).as("supplier_in_domain"))
      .crossJoin(broadcast(chi2Row))
      .select(col("n_rows"), col("n_order_ids"), col("n_suppliers"),
        col("price_is_rounded_value"), col("uuid_v4_format"),
        col("supplier_in_domain"),
        (col("chi2") <= lit(30.0)).as("supplier_chi2_ok"))
  }
}
