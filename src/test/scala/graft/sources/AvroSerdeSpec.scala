package graft.sources

import graft.SparkSpec
import graft.sources.AvroSerde.OrderRow

class AvroSerdeSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    OrderRow("o1", "2024-01-01 00:00:01", 10.50, "widget", "Alice"),
    OrderRow("o2", "2024-01-01 00:00:02", 7.25, "gadget", "Bob"),
    OrderRow("o3", "2024-01-01 00:00:03", 0.0, "", "Carol"))

  /** One row as a bare binary Avro body, written straight through
    * avro-core: the record encoding the framed payloads must carry. */
  private def bareAvro(r: OrderRow): Array[Byte] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new org.apache.avro.Schema.Parser().parse(AvroSerde.orderSchemaJson)
    val rec = new GenericData.Record(schema)
    rec.put("order_id", r.order_id)
    rec.put("bid_time", r.bid_time)
    rec.put("price", r.price)
    rec.put("item", r.item)
    rec.put("supplier", r.supplier)
    val bos = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    bos.toByteArray
  }

  test("binary Avro round-trips the order stream exactly") {
    val encoded = AvroSerde.encodeOrdersFramed(rows.toDS())
    assert(encoded.columns.toSeq == Seq("key", "value")) // Kafka wire shape
    val back = AvroSerde.decodeOrdersFramed(encoded).collect().sortBy(_.order_id).toSeq
    assert(back == rows)
  }

  test("registry-framed Avro round-trips: magic + big-endian schema id + body") {
    val framed = AvroSerde.encodeOrdersFramed(rows.toDS())
    // wire shape: every payload starts with the 5-byte Confluent header
    val payloads = framed.select("value").collect().map(_.getAs[Array[Byte]](0))
    assert(payloads.forall(p => p.length > 5 && p(0) == AvroSerde.WireMagic))
    assert(payloads.forall { p =>
      val id = ((p(1) & 0xff) << 24) | ((p(2) & 0xff) << 16) |
        ((p(3) & 0xff) << 8) | (p(4) & 0xff)
      id == AvroSerde.OrderSchemaId
    })
    // the framed body IS the bare encoding plus the header - nothing else
    val bare = rows.map(r => r.order_id -> bareAvro(r)).toMap
    framed.collect().foreach { r =>
      val p = r.getAs[Array[Byte]](1)
      assert(p.drop(5).sameElements(bare(r.getString(0))))
    }
  }

  test("framed decode rejects unframed payloads and unknown schema ids") {
    val bare = rows.map(r => (r.order_id, bareAvro(r))).toDF("key", "value")
    intercept[org.apache.spark.SparkException] {
      AvroSerde.decodeOrdersFramed(bare).collect() // magic byte won't match
    }
    val wrongId = AvroSerde.encodeOrdersFramed(rows.toDS(), schemaId = 99)
    intercept[org.apache.spark.SparkException] {
      AvroSerde.decodeOrdersFramed(wrongId).collect() // id 99 not registered
    }
    // but a registry that KNOWS id 99 resolves it fine
    val reg = AvroSerde.SchemaRegistryStub(Map(99 -> AvroSerde.orderSchemaJson))
    assert(AvroSerde.decodeOrdersFramed(wrongId, reg).count() == 3)
  }

  test("framed Avro feeds the stats pipeline through the stream entry point") {
    val parsed = graft.streaming.SupplierStatsStream.parseAvroFramedOrders(
      AvroSerde.encodeOrdersFramed(rows.toDS()))
    assert(parsed.columns.toSeq ==
      Seq("order_id", "bid_time", "price", "item", "supplier"))
    import org.apache.spark.sql.functions._
    val stats = graft.operators.SupplierStats.tumble(
      parsed, col("bid_time"), col("supplier"), col("price"))
    assert(stats.agg(sum("total_price")).collect()(0).getDouble(0) == 17.75)
  }
}
