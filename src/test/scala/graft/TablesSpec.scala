package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The engine's one parquet read path ([[Tables.parquet]]): its schema
  * comes from a footer read on the driver, so learning it starts no
  * Spark job, and it equals the schema Spark's own inference gives,
  * field for field with nullability and metadata. */
class TablesSpec extends SparkSpec {

  /** Spark jobs `body` starts on this thread: each is tagged through a
    * thread-local property, and the listener bus is drained before the
    * count is read. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.tag") == tag)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val out = body
      SpecAccess.drainListenerBus(sc)
      (out, started.get)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  /** `read`'s schema, asserted job-free and equal to the one inference
    * gives for `path`, which (the control) costs at least one job. */
  private def assertFooterSchema(path: String, read: => DataFrame): StructType = {
    val (schema, jobs) = jobsOf(read.schema)
    assert(jobs === 0, s"$path: reading the schema started $jobs job(s)")
    val (inferred, inferJobs) = jobsOf(spark.read.parquet(path).schema)
    assert(inferJobs > 0, "the job counter sees no inference job")
    assert(schema === inferred, path)
    schema
  }

  test("every fixture table reads its schema from the footer, without a job") {
    Tables.names.foreach(n => assertFooterSchema(s"${sf()}/$n.parquet", Tables.read(spark, sf(), n)))
  }

  test("a Spark-written directory of three part files binds like inference") {
    val dir = s"${Files.createTempDirectory("tables-dir")}/t.parquet"
    spark.range(30).selectExpr("id", "cast(id as string) AS s", "id % 3 = 0 AS b",
        "cast(id * 1.5 as decimal(12, 2)) AS d")
      .repartition(3).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    assert(parts === 3)
    assertFooterSchema(dir, Tables.parquet(spark, dir))
    assert(Tables.parquet(spark, dir).orderBy("id").collect().toSeq ===
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
  }

  test("the three events.ts shapes bind like inference") {
    val base = Files.createTempDirectory("tables-events").toString
    EventsReaderSpec.shapes.foreach { case (name, tsType, tsValue) =>
      EventsReaderSpec.writeEvents(spark, s"$base/$name", tsType, tsValue)
      val path = s"$base/$name/events.parquet"
      val schema = assertFooterSchema(path, Tables.parquet(spark, path))
      assert(schema("ts").dataType === tsType, name)
    }
  }
}
