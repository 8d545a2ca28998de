package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Avro wire serde for the orders stream (S9/S12): the reference
  * produces/consumes Avro `Order` records
  * (`orders-avro-clients/src/main/avro/Order.avsc:5-11`) through a
  * Schema Registry. The spark-avro connector isn't on this classpath,
  * but avro-core is — so the engine carries the serde itself:
  * per-partition datum reader/writer over binary Avro, behind the
  * registry's 5-byte wire header.
  *
  * Shape note: `mapPartitions` with one reader per partition, not a
  * per-row UDF — reader construction amortizes across the batch, the
  * same pattern as the decode stub in `Multimodal`.
  */
object AvroSerde {

  /** Mirror of the reference's Order.avsc. */
  val orderSchemaJson: String =
    """{"type":"record","name":"Order","namespace":"demo","fields":[
      |{"name":"order_id","type":"string"},
      |{"name":"bid_time","type":"string"},
      |{"name":"price","type":"double"},
      |{"name":"item","type":"string"},
      |{"name":"supplier","type":"string"}]}""".stripMargin

  case class OrderRow(order_id: String, bid_time: String, price: Double,
                      item: String, supplier: String)

  private def toRow(rec: GenericRecord): OrderRow =
    OrderRow(
      rec.get("order_id").toString,
      rec.get("bid_time").toString,
      rec.get("price").asInstanceOf[Double],
      rec.get("item").toString,
      rec.get("supplier").toString)

  // --- Confluent Schema Registry wire framing (S9) ---
  // The reference's Avro clients speak the registry wire format
  // (`kotlin-examples/orders-stats-flink/.../kafka/Utils.kt:48-70`): a
  // 5-byte header — magic 0x0 + 4-byte big-endian schema id — then the
  // bare binary Avro body. The registry itself is infrastructure (S11
  // non-goal); what the ENGINE owns is the framing and the id→schema
  // resolution contract, stubbed here as an in-memory registry so the
  // whole path is testable without a network.

  val WireMagic: Byte = 0x0
  val WireHeaderLen = 5

  /** In-memory stand-in for the schema registry: id ↔ schema-JSON, with
    * the writer-schema-by-id resolution a consumer performs per record
    * (amortized by per-partition reader construction + the id cache). */
  final case class SchemaRegistryStub(byId: Map[Int, String]) extends Serializable {
    def schemaJson(id: Int): String = byId.getOrElse(id,
      throw new IllegalArgumentException(s"schema id $id not registered"))
  }

  /** The stub registry with the Order schema at id 1 — what a registry
    * would assign to the subject's first version. */
  val orderRegistry: SchemaRegistryStub = SchemaRegistryStub(Map(1 -> orderSchemaJson))
  val OrderSchemaId = 1

  private[sources] def frame(schemaId: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](WireHeaderLen + body.length)
    out(0) = WireMagic
    out(1) = ((schemaId >>> 24) & 0xff).toByte
    out(2) = ((schemaId >>> 16) & 0xff).toByte
    out(3) = ((schemaId >>> 8) & 0xff).toByte
    out(4) = (schemaId & 0xff).toByte
    System.arraycopy(body, 0, out, WireHeaderLen, body.length)
    out
  }

  private[sources] def unframe(payload: Array[Byte]): (Int, Array[Byte]) = {
    require(payload.length >= WireHeaderLen && payload(0) == WireMagic,
      s"not a registry-framed payload (len=${payload.length}, " +
        s"magic=${if (payload.isEmpty) "∅" else payload(0).toString})")
    val id = ((payload(1) & 0xff) << 24) | ((payload(2) & 0xff) << 16) |
      ((payload(3) & 0xff) << 8) | (payload(4) & 0xff)
    (id, java.util.Arrays.copyOfRange(payload, WireHeaderLen, payload.length))
  }

  /** Encode typed rows to (key, value) payloads in the registry wire
    * format: magic + schema id + the binary Avro body. */
  def encodeOrdersFramed(ds: Dataset[OrderRow],
                         schemaId: Int = OrderSchemaId): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val schema = new Schema.Parser().parse(orderSchemaJson)
      val writer = new GenericDatumWriter[GenericRecord](schema)
      rows.map { r =>
        val rec = new GenericData.Record(schema)
        rec.put("order_id", r.order_id)
        rec.put("bid_time", r.bid_time)
        rec.put("price", r.price)
        rec.put("item", r.item)
        rec.put("supplier", r.supplier)
        val bos = new ByteArrayOutputStream()
        val enc = EncoderFactory.get().binaryEncoder(bos, null)
        writer.write(rec, enc)
        enc.flush()
        (r.order_id, frame(schemaId, bos.toByteArray))
      }
    }.toDF("key", "value")
  }

  /** Decode registry-framed payloads in the `value` column: validate the magic byte, read the
    * big-endian schema id, resolve the WRITER schema from the registry
    * stub, decode. Readers are cached per (partition, schema id) — the
    * same amortization a real registry deserializer applies. */
  def decodeOrdersFramed(df: DataFrame,
                         registry: SchemaRegistryStub = orderRegistry): Dataset[OrderRow] = {
    import df.sparkSession.implicits._
    df.select(col("value")).as[Array[Byte]].mapPartitions { payloads =>
      val readers = scala.collection.mutable.Map.empty[Int, GenericDatumReader[GenericRecord]]
      payloads.map { bytes =>
        val (id, body) = unframe(bytes)
        val reader = readers.getOrElseUpdate(id,
          new GenericDatumReader[GenericRecord](
            new Schema.Parser().parse(registry.schemaJson(id))))
        val dec = DecoderFactory.get().binaryDecoder(body, null)
        toRow(reader.read(null, dec))
      }
    }
  }
}
