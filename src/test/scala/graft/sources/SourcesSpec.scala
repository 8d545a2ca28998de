package graft.sources

import java.nio.file.Files

import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv scan: explicit schema, header skip, malformed lines dropped") {
    val dir = Files.createTempDirectory("csvsrc").toFile
    val f = new java.io.File(dir, "orders.csv")
    Files.writeString(f.toPath,
      """order_id,bid_time,price,item,supplier
        |o1,2024-01-01 00:00:01,10.5,widget,Alice
        |o2,2024-01-01 00:00:02,not_a_number,widget,Bob
        |o3,2024-01-01 00:00:03,7.25,gadget,Carol
        |""".stripMargin)
    val df = Sources.csvOrders(spark, f.getAbsolutePath)
    val rows = df.orderBy("order_id").collect()
    // header consumed; o2's unparseable price dropped (DROPMALFORMED,
    // the FileSourceFactory.kt:80-106 semantics)
    assert(rows.map(_.getString(0)).toSeq == Seq("o1", "o3"))
    assert(rows(0).getDouble(2) == 10.5)
    assert(df.schema == Sources.orderCsvSchema)
  }

  test("csv parses into the streaming pipeline shape") {
    val dir = Files.createTempDirectory("csvsrc2").toFile
    val f = new java.io.File(dir, "orders.csv")
    Files.writeString(f.toPath,
      """order_id,bid_time,price,item,supplier
        |o1,2024-01-01 00:00:01,10.5,widget,Alice
        |o1b,2024-01-01 00:00:04,4.5,widget,Alice
        |""".stripMargin)
    // CSV rows → the same tumbling agg the Kafka path uses (file
    // bootstrap ≡ stream replay, the S18 pattern at the source level)
    val parsed = Sources.csvOrders(spark, f.getAbsolutePath)
      .selectExpr("to_timestamp(bid_time, 'yyyy-MM-dd HH:mm:ss') AS bid_time",
        "price", "supplier")
    val stats = graft.operators.SupplierStats.tumble(
      parsed, $"bid_time", $"supplier", $"price")
    val r = stats.collect()(0)
    assert(r.getAs[Double]("total_price") == 15.0 && r.getAs[Long]("cnt") == 2L)
  }

  test("synthetic orders: seeded uuid/regexify are deterministic and well-formed") {
    val suppliers = Set("Alice", "Bob", "Carol", "Dave", "Eve", "Frank",
      "Grace", "Heidi")
    val uuidRe =
      "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    val run1 = Sources.syntheticOrders(spark, sf()).orderBy("event_id").collect()
    val run2 = Sources.syntheticOrders(spark, sf()).repartition(7)
      .orderBy("event_id").collect()
    assert(run1.map(_.toSeq).toSeq == run2.map(_.toSeq).toSeq,
      "generation must be a pure function of the seed (partitioning-independent)")
    run1.foreach { r =>
      assert(uuidRe.matches(r.getAs[String]("order_id")),
        s"malformed uuid ${r.getAs[String]("order_id")}")
      assert(suppliers.contains(r.getAs[String]("supplier")))
    }
    // every alternation branch is reachable, ids don't collide
    val seen = run1.map(_.getAs[String]("supplier")).toSet
    assert(seen == suppliers, s"unreachable suppliers: ${suppliers -- seen}")
    assert(run1.map(_.getAs[String]("order_id")).distinct.length == run1.length)
    // SQL surface round-trip
    graft.functions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT seeded_uuid(42L) AS u, regex_gen('(x|y)\\\\d{3}', 7L) AS g").head()
    assert(uuidRe.matches(viaSql.getAs[String]("u")))
    assert(viaSql.getAs[String]("g").matches("[xy][0-9]{3}"))
  }
}
