package graft.ml

import breeze.linalg.{inv, DenseMatrix, DenseVector}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ml.LinUCB._

class LinUCBSpec extends SparkSpec {
  import spark.implicits._

  private val eps = 1e-9

  private val fixture = Seq(
    Feedback("p1", Array(1.0, 0.2, 0.1), 1.0),
    Feedback("p1", Array(1.0, 0.8, 0.3), 0.0),
    Feedback("p1", Array(1.0, 0.5, 0.9), 1.0),
    Feedback("p2", Array(1.0, 0.1, 0.4), 0.0),
    Feedback("p2", Array(1.0, 0.9, 0.2), 1.0))

  /** Ground truth straight from the published formulae
    * (`bandit_manager.py:83-106`): A = I + Σxxᵀ, b = Σrx, return A⁻¹. */
  private def direct(rows: Seq[Feedback], d: Int): (DenseMatrix[Double], DenseVector[Double], Long) = {
    var a = DenseMatrix.eye[Double](d)
    var b = DenseVector.zeros[Double](d)
    rows.foreach { f =>
      val x = DenseVector(f.x)
      a = a + x * x.t
      b = b + x * f.reward
    }
    (inv(a), b, rows.size.toLong)
  }

  test("batch seed Aggregator matches direct Breeze computation per arm") {
    val models = seed(fixture.toDS(), 3).collect().map(m => m.productId -> m).toMap
    for (pid <- Seq("p1", "p2")) {
      val rows = fixture.filter(_.productId == pid)
      val (aInv, b, n) = direct(rows, 3)
      val m = models(pid)
      assert(m.n == n)
      for (i <- 0 until 3; j <- 0 until 3)
        assert(math.abs(m.aInv(i * 3 + j) - aInv(i, j)) < eps, s"$pid aInv($i,$j)")
      for (i <- 0 until 3)
        assert(math.abs(m.b(i) - b(i)) < eps, s"$pid b($i)")
    }
  }

  test("partial/merge path gives the same result regardless of partitioning") {
    val one = seed(fixture.toDS().coalesce(1), 3).collect()
    val many = seed(fixture.toDS().repartition(4), 3).collect()
    val byId = many.map(m => m.productId -> m).toMap
    one.foreach { m =>
      val o = byId(m.productId)
      assert(m.aInv.zip(o.aInv).forall { case (x, y) => math.abs(x - y) < eps })
      assert(m.b.zip(o.b).forall { case (x, y) => math.abs(x - y) < eps })
    }
  }

  test("score = x·θ + α√(xᵀA⁻¹x) against Breeze") {
    val rows = fixture.filter(_.productId == "p1")
    val (aInv, b, _) = direct(rows, 3)
    val m = Model("p1",
      (for (i <- 0 until 3; j <- 0 until 3) yield aInv(i, j)).toArray,
      b.toArray, 3, rows.size.toLong)
    val x = DenseVector(1.0, 0.4, 0.6)
    val alpha = 0.7
    val theta = aInv * b
    val expected = (x dot theta) + alpha * math.sqrt(x dot (aInv * x))
    assert(math.abs(score(x.toArray, m, alpha) - expected) < eps)
  }

  test("streaming trainer (deterministic emit) converges to the batch seed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Feedback]
    val q = graft.streaming.LinUCBStream.train(mem.toDS(), dim = 3, emitEveryMs = 0L)
      .writeStream.format("memory").queryName("linucb_out")
      .outputMode("update").start()
    try {
      mem.addData(fixture.take(2): _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(2): _*)
      q.processAllAvailable()
      // last emitted model per arm = final state
      val streamed = spark.table("linucb_out").as[Model].collect()
        .groupBy(_.productId).map { case (pid, ms) => pid -> ms.maxBy(_.n) }
      val batch = seed(fixture.toDS(), 3).collect().map(m => m.productId -> m).toMap
      batch.foreach { case (pid, bm) =>
        val sm = streamed(pid)
        assert(sm.n == bm.n, s"$pid count")
        assert(sm.aInv.zip(bm.aInv).forall { case (x, y) => math.abs(x - y) < eps }, s"$pid aInv")
        assert(sm.b.zip(bm.b).forall { case (x, y) => math.abs(x - y) < eps }, s"$pid b")
      }
    } finally q.stop()
  }

  test("columnar seed path equals the typed Aggregator path") {
    val agg = seed(feedbackFromLineitem(spark, sf()), Dim)
      .collect().map(m => m.productId -> m).toMap
    val col = seedColumnarWithChol(spark, sf())
      .collect().map { case (m, _) => m.productId -> m }.toMap
    assert(agg.keySet == col.keySet)
    agg.foreach { case (pid, am) =>
      val cm = col(pid)
      assert(cm.n == am.n)
      assert(cm.aInv.zip(am.aInv).forall { case (x, y) => math.abs(x - y) < 1e-9 }, pid)
      assert(cm.b.zip(am.b).forall { case (x, y) => math.abs(x - y) < 1e-9 }, pid)
    }
  }

  test("columnar seed is bit-stable across shuffle layouts (the q30/q31 oracle premise)") {
    // The decimal-exact sufficient statistics must not care how the
    // partial aggregation is laid out: refit under a different shuffle
    // width and assert BIT-equal models (sameElements on the raw
    // doubles, not a tolerance) — this is the property that lets an
    // external engine replay A and b exactly.
    val base = seedColumnarWithChol(spark, sf())
      .collect().map { case (m, _) => m.productId -> m }.toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val again = try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      seedColumnarWithChol(spark, sf()).collect().map { case (m, _) => m.productId -> m }.toMap
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(base.keySet == again.keySet)
    base.foreach { case (pid, m) =>
      val o = again(pid)
      assert(m.n == o.n, s"$pid n")
      assert(m.aInv.sameElements(o.aInv), s"$pid aInv not bit-equal")
      assert(m.b.sameElements(o.b), s"$pid b not bit-equal")
    }
  }

  test("seed + topK run on the driver testdata and rank deterministically") {
    val out = LinUCB.topKQuery(spark, sf())
    val rows = out.collect()
    assert(rows.length == 20 * 3)
    // ranks are 1..3 per context
    assert(rows.groupBy(_.getLong(0)).values.forall(_.map(_.getLong(2)).sorted.sameElements(Seq(1L, 2L, 3L))))
  }
}
