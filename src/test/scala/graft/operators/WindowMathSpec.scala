package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property-style tests for the hand-rolled streaming math the reference
  * implements imperatively: window-close boundary and lateness predicate
  * (`orders-stats-streams/.../LateRecordProcessor.kt:46-64`;
  * `orders-stats-flink/.../LateDataRouter.kt:35-39`). */
class WindowMathSpec extends SparkSpec {
  import spark.implicits._

  private val windowUs = 5000000L

  test("windowEndUs == ((ts div size) + 1) * size across sampled epochs") {
    val rnd = new scala.util.Random(1237) // the reference's own seed
    val samples = Seq.fill(200)(math.abs(rnd.nextLong()) % 4102444800000000L) ++
      Seq(0L, 1L, windowUs - 1, windowUs, windowUs + 1, 2 * windowUs)
    val got = samples.toDF("ts_us")
      .select($"ts_us", SupplierStats.windowEndUs($"ts_us").as("we"))
      .as[(Long, Long)].collect()
    got.foreach { case (ts, we) =>
      assert(we == ((ts / windowUs) + 1) * windowUs, s"ts=$ts") // reference formula
    }
  }

  test("lateFlag: late iff streamTime > windowEnd + grace") {
    val cases = Seq(
      // (ts, streamTime, expectLate)
      (1000000L, 1000000L, false),   // own timestamp never late
      (1000000L, 10000000L, false),  // exactly at close+grace: not late
      (1000000L, 10000001L, true),   // 1 µs past close+grace: late
      (9999999L, 20000000L, true),
      (10000000L, 20000000L, false)) // window [10,15) closes at 20
    val got = cases.map(c => (c._1, c._2)).toDF("ts", "st")
      .select($"ts", $"st", SupplierStats.lateFlag($"ts", $"st").as("late"))
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got == cases)
  }

  test("batch tagLate never marks the stream-head record late") {
    val tagged = SupplierStats.tagLate(spark, sf())
    val headLate = tagged.orderBy(desc("event_id")).limit(1)
      .select($"late").as[Boolean].collect()(0)
    assert(!headLate)
  }

  test("tagLate prefix scan is bucket-count invariant (incl. degenerate 1)") {
    // The distributed running max must be a pure function of the data:
    // the deployed 256-bucket scan must equal the degenerate one-bucket
    // case, the reference's naive fold over arrival order, replayed here.
    val graceUs = SupplierStats.GraceSeconds * 1000000L
    val events = graft.Tables.events(spark, sf()).select($"event_id", $"ts_us")
      .as[(Long, Long)].collect().sortBy(_._1)
    val fold = events.scanLeft((0L, 0L, Long.MinValue, false)) {
      case ((_, _, stream, _), (id, ts)) =>
        val st = math.max(stream, ts)
        val we = (ts / windowUs + 1) * windowUs
        (id, we, st, st > we + graceUs)
    }.tail.map { case (id, we, _, late) => Seq(id, we, late) }.toSeq
    val got = SupplierStats.tagLate(spark, sf())
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == fold, "the prefix scan diverged from the sequential fold")
  }

  test("revenue ABC prefix scan is shuffle-partition invariant") {
    // Same discipline for the range-partitioned cumulative share: the
    // decimal prefix offsets must make the result independent of how
    // many range partitions the per-part frame lands in.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def run() = Analytics.revenueAbc(spark, sf())
      .orderBy("part_id").collect().map(_.toSeq).toSeq
    val base = run()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      assert(run() == base, "3 range partitions changed the ABC classes")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
