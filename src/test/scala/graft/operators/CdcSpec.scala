package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CDC envelope semantics beyond the oracle round-trips (q16/q46):
  * wire-level robustness and delete-rewrite invariants. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  test("malformed envelope bytes surface as null payloads, never crash the unwrap") {
    val wire = Seq(
      """{"order_id":1,"order_status":"O","total_price":10.5,"order_date":"1995-01-01 00:00:00","op":"c","db":"demo","table":"orders","lsn":1}""",
      """not json at all""",
      """{"order_id":"wrong-type"}""",
      """{"order_id":2,"op":"u","lsn":2}""").toDF("value")
    val out = wire
      .select(from_json($"value", Cdc.ordersEnvelopeSchema).as("payload"))
      .select($"payload.order_id", $"payload.op")
      .collect()
    assert(out.length == 4, "row count preserved")
    assert(out.count(_.isNullAt(0)) == 2, "two undecodable order_ids")
    // partial envelopes keep the fields they carry
    assert(out.exists(r => !r.isNullAt(0) && r.getLong(0) == 2L && r.getString(1) == "u"))
  }

  test("snapshot diff classifies a planted changelog by key") {
    import org.apache.spark.sql.Row
    def img(k: Long, op: String, lsn: Long, q: java.lang.Double): Row =
      if (op == "d") Row(k, 1, null, null, null, op, "true", "order_items", lsn)
      else Row(k, 1, k * 10, q, q * 2, op, "false", "order_items", lsn)
    val log = spark.createDataFrame(java.util.Arrays.asList(
      img(1, "c", 1, 5.0), img(1, "u", 2, 6.0),     // changed
      img(2, "c", 3, 5.0), img(2, "d", 4, null),    // removed
      img(3, "c", 5, 7.0),                          // unchanged: drops out
      img(4, "c", 6, 2.0), img(4, "u", 7, 2.0),     // update to the same image: drops out
      img(5, "u", 8, 9.0),                          // no insert: min_by skips it, so added
      img(6, "u", 9, 1.0), img(6, "d", 10, null),   // insert-free, ends in a delete: filtered
      img(8, "u", 31, 8.0), img(8, "c", 30, 4.0)),  // lsn, not row order, picks the images
      Cdc.lineitemEnvelopeSchema)
    val got = Cdc.snapshotDiffOf(log).collect().map(r =>
      (r.getAs[Long]("order_id"), r.getAs[Int]("line_no"), r.getAs[String]("change"),
        Option(r.getAs[java.lang.Double]("base_quantity")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("curr_quantity")).map(_.doubleValue))).toSet
    assert(got == Set(
      (1L, 1, "changed", Some(5.0), Some(6.0)),
      (2L, 1, "removed", Some(5.0), None),
      (5L, 1, "added", None, Some(9.0)),
      (8L, 1, "changed", Some(4.0), Some(8.0))), got)
  }

  test("delete rewrite nulls the payload but keeps key and lsn") {
    val env = Cdc.lineitemEnvelope(spark, sf())
      .select(from_json($"value", Cdc.lineitemEnvelopeSchema).as("p"))
      .select($"p.*").cache()
    val deletes = env.filter($"op" === "d")
    assert(deletes.count() > 0)
    assert(deletes.filter($"part_id".isNotNull || $"quantity".isNotNull ||
      $"price".isNotNull).count() == 0, "delete payload must be nulled")
    assert(deletes.filter($"order_id".isNull || $"lsn".isNull ||
      $"__deleted" =!= "true").count() == 0, "delete keeps key, lsn, marker")
    // non-deletes carry full payload
    assert(env.filter($"op" =!= "d" && $"part_id".isNull).count() == 0)
  }
}
