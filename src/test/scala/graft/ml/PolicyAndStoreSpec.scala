package graft.ml

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ml.LinUCB.{Feedback, Model}

class PolicyAndStoreSpec extends SparkSpec {
  import spark.implicits._

  test("policy benchmark ranks the linear policies above the random baseline") {
    // The reference's relative oracle (evaluate.py): a learned policy
    // must beat random; random must sit near AUC 0.5.
    val sql = PolicyEval.evalSqlPolicies(spark, sf("0.01")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val lin = PolicyEval.evalLinUCB(spark, sf("0.01")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(sql("random") - 0.5) < 0.02, s"random AUC ${sql("random")}")
    assert(lin("linucb") > sql("random") + 0.05,
      s"linucb ${lin("linucb")} vs random ${sql("random")}")
    assert(lin("lin_greedy") > sql("random") + 0.05,
      s"lin_greedy ${lin("lin_greedy")} vs random ${sql("random")}")
    assert(lin("lin_ts") > sql("random") + 0.05,
      s"lin_ts ${lin("lin_ts")} vs random ${sql("random")}")
    // ε-greedy dilutes the greedy edge by at most ε — still well clear
    // of random (evaluate.py:83-85)
    assert(lin("lin_eps") > sql("random") + 0.04,
      s"lin_eps ${lin("lin_eps")} vs random ${sql("random")}")
    // clusters_ts pools arms into coarse clusters: a weaker signal than
    // the per-arm linear policies, but still above the random baseline
    // (the reference's relative ordering, evaluate.py:88-90)
    assert(lin("clusters_ts") > sql("random"),
      s"clusters_ts ${lin("clusters_ts")} vs random ${sql("random")}")
  }

  test("checked policy benchmark: auc_det surfaces exactly the deterministic policies, flags hold") {
    // q41's r12 envelope surface: the parity gate replays auc_det in
    // DuckDB; this spec pins the Spark-side shape — auc_det must be
    // the UNMASKED aucPerPolicyApprox value for the two deterministic
    // policies, NULL for the three seeded ones, with every contract
    // flag true.
    val plain = PolicyEval.evalLinUCB(spark, sf("0.01")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val checked = PolicyEval.evalLinUCBChecked(spark, sf("0.01")).collect()
    assert(checked.length == 5)
    checked.foreach { r =>
      val p = r.getString(r.fieldIndex("policy"))
      val det = Option(r.get(r.fieldIndex("auc_det"))).map(_.asInstanceOf[Double])
      if (p == "linucb" || p == "lin_greedy")
        assert(det.contains(plain(p)), s"$p auc_det $det != ${plain(p)}")
      else assert(det.isEmpty, s"$p unexpectedly deterministic: $det")
      assert(r.getAs[Boolean]("auc_in_01"), s"$p auc out of [0,1]")
      assert(r.getAs[Boolean]("policy_contract"), s"$p contract flag false")
    }
    // n is the full interaction count, identical for every policy row
    val ns = checked.map(_.getAs[Long]("n")).distinct
    assert(ns.length == 1 && ns.head ==
      graft.Tables.lineitem(spark, sf("0.01")).count())
  }

  test("chol(A) scoring factors A itself, tracks the serving path, and the expression matches the driver helper bit-for-bit") {
    // The r12 oracle-exact q41 path scores the deterministic policies
    // through chol(A) solves. Three refutations: (1) L·Lᵀ·A⁻¹ ≈ I —
    // catches wiring chol(A⁻¹) (the TS draw's factor) into the scorer,
    // where the product would be ~A⁻² instead; (2) the chol score
    // agrees with the A⁻¹ serving path to solver noise; (3) the
    // codegen'd expression and the driver helper return identical bits
    // (the helper is what the exactness argument vs luSolveAliases is
    // written against).
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.util.ArrayData
    val models = LinUCB.seededModels(spark, sf("0.001"))
    val chol = LinUCB.seededCholA(spark, sf("0.001"))
    val d = LinUCB.Dim
    val xs = Seq(
      Array(1.0, 0.3, 0.7, 0.04, 0.05),
      Array(1.0, 0.9, 0.1, 0.0, 0.02),
      Array(1.0, 0.02, 1.9, 0.1, 0.08))
    models.take(5).foreach { m =>
      val l = chol(m.productId)
      val a = Array.tabulate(d * d) { idx =>
        val (i, j) = (idx / d, idx % d)
        var s = 0.0
        var k = 0
        while (k <= math.min(i, j)) { s += l(i * d + k) * l(j * d + k); k += 1 }
        s // = (L·Lᵀ)(i,j), which must be A(i,j)
      }
      for (i <- 0 until d; j <- 0 until d) {
        var s = 0.0
        var k = 0
        while (k < d) { s += a(i * d + k) * m.aInv(k * d + j); k += 1 }
        val expect = if (i == j) 1.0 else 0.0
        assert(math.abs(s - expect) < 1e-6,
          s"arm ${m.productId}: (L·Lᵀ)·A⁻¹ at ($i,$j) = $s, expected $expect")
      }
      xs.foreach { x =>
        val pair = Seq((x, m.b, l)).toDF("x", "b", "l").select(
          graft.functions.linucbCholScorePair(col("x"), col("b"), col("l"), 0.1))
          .as[Seq[Double]].collect()(0)
        val (gChol, sChol) = (pair(0), pair(1))
        assert(math.abs(sChol - LinUCB.score(x, m, 0.1)) < 1e-9,
          s"arm ${m.productId}: chol UCB $sChol vs serving ${LinUCB.score(x, m, 0.1)}")
        assert(math.abs(gChol - LinUCB.score(x, m, 0.0)) < 1e-9,
          s"arm ${m.productId}: chol greedy $gChol vs serving ${LinUCB.score(x, m, 0.0)}")
        val direct = graft.functions.PolicyMath.linUcbCholScorePair(
          ArrayData.toArrayData(x), ArrayData.toArrayData(m.b),
          ArrayData.toArrayData(l), 0.1).toDoubleArray()
        assert(direct.map(java.lang.Double.doubleToLongBits).toSeq ==
          pair.map(java.lang.Double.doubleToLongBits),
          s"arm ${m.productId}: expression/helper bit mismatch ${direct.toSeq} vs $pair")
      }
    }
  }

  test("bucketed approximate AUC tracks the exact statistic within 0.01") {
    import org.apache.spark.sql.functions.col
    for (melted <- Seq(PolicyEval.meltedSqlPolicies(spark, sf("0.01")),
                       PolicyEval.meltedLinPolicies(spark, sf("0.01")))) {
      val cached = melted.cache()
      try {
        val exact = PolicyEval.aucPerPolicy(cached, col("policy"), col("s"), col("y"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val approx = PolicyEval.aucPerPolicyApprox(cached, col("policy"), col("s"), col("y"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(exact.keySet == approx.keySet)
        for ((p, a) <- exact)
          assert(math.abs(a - approx(p)) <= 0.01,
            s"policy $p: exact $a vs approx ${approx(p)}")
      } finally cached.unpersist()
    }
  }

  test("wide-input bucketed AUC ≡ melted-input bucketed AUC on the shared scores") {
    import org.apache.spark.sql.functions.col
    // q41 serves through aucPerPolicyApproxWide over the wide scored
    // frame; the melted form over the stack of the SAME frame must
    // produce bit-identical statistics (one histAuc tail, same
    // per-policy ranges — the r17 restructure's equivalence claim)
    val wide = PolicyEval.aucPerPolicyApproxWide(
      PolicyEval.scoredLinPolicies(spark, sf("0.01")),
      PolicyEval.LinPolicyColumns, col("reward"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    val melted = PolicyEval.aucPerPolicyApprox(
      PolicyEval.meltedLinPolicies(spark, sf("0.01")),
      col("policy"), col("s"), col("y"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(wide == melted, s"wide $wide vs melted $melted")
  }

  test("wide-input bucketed AUC takes policy names verbatim, quotes included") {
    import org.apache.spark.sql.functions._
    val frame = spark.range(300).select(
      ((col("id") * 37) % 101 / 101.0).as("a"),
      ((col("id") * 53) % 97 / 97.0).as("b"),
      (col("id") % 3 === 0).cast("int").as("y"))
    val names = Seq("o'brien", "x', 0, 1), ('y")
    val wide = PolicyEval.aucPerPolicyApproxWide(
      frame, names.zip(Seq(col("a"), col("b"))), col("y"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    val melted = PolicyEval.aucPerPolicyApprox(
      frame.select(lit(names(0)).as("policy"), col("a").as("s"), col("y"))
        .union(frame.select(lit(names(1)).as("policy"), col("b").as("s"), col("y"))),
      col("policy"), col("s"), col("y"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(wide.keySet == names.toSet, wide.keySet)
    assert(wide == melted, s"wide $wide vs melted $melted")
  }

  test("a wide AUC frame outlives Layers.PerName later AUC builds") {
    import org.apache.spark.sql.functions._
    // q41's checkpointed projection is its query's own frame: PerName
    // more AUC frames over other inputs in the same session must not
    // release its blocks (a store entry under one name would evict it,
    // and the first frame would then fail on its truncated lineage)
    def auc(i: Int) = PolicyEval.aucPerPolicyApproxWide(
      spark.range(300 + i).select(((col("id") * 37) % 101 / 101.0).as("a"),
        (col("id") % 3 === 0).cast("int").as("y")),
      Seq("p" -> col("a")), col("y"))
    val first = auc(0)
    (1 to graft.Layers.PerName).foreach(auc)
    assert(first.collect().toSeq == auc(0).collect().toSeq)
  }

  test("lin_eps explores with frequency ε under its own seeding") {
    import org.apache.spark.sql.functions._
    // The exact seed expression + generator the ε-greedy scorer uses:
    // the realized exploration fraction must sit at ε (deterministic
    // for the fixture, so the bound is tight).
    val explore = udf((s: Long) => PolicyEval.seededUniform(s) < PolicyEval.Epsilon)
    val frac = LinUCB.feedbackFromLineitem(spark, sf("0.01")).toDF()
      .withColumn("e", explore(xxhash64(col("productId"), col("x"), lit("eps"))))
      .agg(avg(col("e").cast("double"))).head().getDouble(0)
    assert(math.abs(frac - PolicyEval.Epsilon) < 0.01, s"exploration fraction $frac")
  }

  test("LinTS scores are deterministic for a fixed seed and vary across seeds") {
    val m = {
      val a = Array(2.0, 0.3, 0.3, 1.5)
      LinUCB.Model("p", graft.ml.LinAlg.invertRowMajor(a, 2), Array(1.0, 0.5), 2, 10L)
    }
    val x = Array(1.0, 0.4)
    val (theta, l) = (LinUCB.thetaOf(m), graft.ml.LinAlg.choleskyLower(m.aInv, m.d))
    def scoreTS(nu: Double, seed: Long) = LinUCB.scoreTSPre(x, theta, l, m.d, nu, seed)
    val s1 = scoreTS(nu = 0.1, seed = 42L)
    val s2 = scoreTS(nu = 0.1, seed = 42L)
    val s3 = scoreTS(nu = 0.1, seed = 43L)
    assert(s1 == s2, "same seed must reproduce the draw")
    assert(s1 != s3, "different seed must vary the draw")
    // ν=0 collapses to the posterior mean = greedy score
    assert(math.abs(scoreTS(nu = 0.0, seed = 7L) -
      LinUCB.score(x, m, alpha = 0.0)) < 1e-12)
  }

  test("bootstrap-then-live: seed(history) + stream(live) == seed(history ++ live)") {
    val history = Seq(
      Feedback("p1", Array(1.0, 0.2), 1.0),
      Feedback("p1", Array(1.0, 0.7), 0.0),
      Feedback("p2", Array(1.0, 0.4), 1.0))
    val live = Seq(
      Feedback("p1", Array(1.0, 0.9), 1.0),
      Feedback("p2", Array(1.0, 0.1), 0.0),
      Feedback("p3", Array(1.0, 0.5), 1.0)) // unseen arm starts from zero state

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Feedback]
    val q = graft.streaming.LinUCBStream
      .trainWithBootstrap(history.toDS(), mem.toDS(), dim = 2, emitEveryMs = 0L)
      .writeStream.format("memory").queryName("boot_out")
      .outputMode("update").start()
    try {
      mem.addData(live: _*)
      q.processAllAvailable()
      val streamed = spark.table("boot_out").as[Model].collect()
        .groupBy(_.productId).map { case (p, ms) => p -> ms.maxBy(_.n) }
      val full = LinUCB.seed((history ++ live).toDS(), 2).collect()
        .map(m => m.productId -> m).toMap
      full.foreach { case (pid, bm) =>
        val sm = streamed(pid)
        assert(sm.n == bm.n, s"$pid n=${sm.n} want ${bm.n}")
        assert(sm.aInv.zip(bm.aInv).forall { case (x, y) => math.abs(x - y) < 1e-9 }, pid)
        assert(sm.b.zip(bm.b).forall { case (x, y) => math.abs(x - y) < 1e-9 }, pid)
      }
    } finally q.stop()
  }

  test("timer-coalesced emission: events buffer, timeout fires, clean state stays silent") {
    // Deterministic unit drive of the state function via TestGroupState —
    // wall-clock timers in a live query would make this flaky.
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.LinUCBStream.{updateArm, ArmState}
    import org.apache.spark.api.java.Optional

    // 1. events arrive → state accumulates, NOTHING emitted (coalesced)
    val s1 = TestGroupState.create[ArmState](
      optionalState = Optional.empty[ArmState](), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty[Long](),
      hasTimedOut = false)
    val out1 = updateArm(2, 5000L)("t1",
      Iterator(Feedback("t1", Array(1.0, 0.3), 1.0)), s1).toSeq
    assert(out1.isEmpty, "events alone must not emit")
    assert(s1.get.dirty && s1.get.n == 1L)

    // 2. timer fires on a dirty arm → exactly one model, state cleaned
    val s2 = TestGroupState.create[ArmState](
      optionalState = Optional.of(s1.get), timeoutConf = org.apache.spark.sql
        .streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 7000L, eventTimeWatermarkMs = Optional.empty[Long](),
      hasTimedOut = true)
    val out2 = updateArm(2, 5000L)("t1", Iterator.empty, s2).toSeq
    assert(out2.size == 1 && out2.head.productId == "t1" && out2.head.n == 1L)
    assert(!s2.get.dirty)
    // emitted A⁻¹ equals the batch-seed inverse for the same single event
    val seeded = LinUCB.seed(Seq(Feedback("t1", Array(1.0, 0.3), 1.0)).toDS(), 2)
      .collect()(0)
    assert(out2.head.aInv.zip(seeded.aInv).forall { case (a, b) => math.abs(a - b) < 1e-12 })

    // 3. timer fires again with no new data → silent (dirty=false)
    val s3 = TestGroupState.create[ArmState](
      optionalState = Optional.of(s2.get), timeoutConf = org.apache.spark.sql
        .streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 13000L, eventTimeWatermarkMs = Optional.empty[Long](),
      hasTimedOut = true)
    val out3 = updateArm(2, 5000L)("t1", Iterator.empty, s3).toSeq
    assert(out3.isEmpty, "clean arm must not re-emit")
    // ...and must go quiet: no re-armed timer, deadline cleared
    assert(!s3.getTimeoutTimestampMs.isPresent,
      "clean arm must not re-arm its timer")
    assert(s3.get.nextEmitMs == 0L)
  }

  test("deadline does not slide under continuous data; lapsed deadline emits inline") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.LinUCBStream.{updateArm, ArmState}
    import org.apache.spark.api.java.Optional

    // arm scheduled to emit at t=5000; data keeps arriving before that
    def dataCall(st: ArmState, nowMs: Long) = {
      val s = TestGroupState.create[ArmState](
        optionalState = Optional.of(st),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout
          .ProcessingTimeTimeout(),
        batchProcessingTimeMs = nowMs,
        eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
      (updateArm(2, 5000L)("t1",
        Iterator(Feedback("t1", Array(1.0, 0.5), 1.0)), s).toSeq, s)
    }
    val s0 = ArmState.zero(2).copy(nextEmitMs = 5000L, dirty = true)
    val (e1, st1) = dataCall(s0, 2000L)
    assert(e1.isEmpty && st1.get.nextEmitMs == 5000L,
      s"deadline must hold at 5000, got ${st1.get.nextEmitMs}")
    assert(st1.getTimeoutTimestampMs.get() <= 5000L,
      "re-armed timeout must target the original deadline, not now+interval")
    val (e2, st2) = dataCall(st1.get, 4000L)
    assert(e2.isEmpty && st2.get.nextEmitMs == 5000L)
    // deadline passes while data keeps flowing → inline emission
    val (e3, st3) = dataCall(st2.get, 6000L)
    assert(e3.size == 1 && e3.head.n == 3L,
      s"lapsed deadline must emit inline, got $e3")
    assert(st3.get.nextEmitMs == 11000L && !st3.get.dirty)
  }

  test("model store upsert is idempotent and keeps latest per arm") {
    val dir = java.nio.file.Files.createTempDirectory("modelstore").toFile
    val path = new java.io.File(dir, "models.parquet").getAbsolutePath
    val store = new ModelStore(path)
    val m1 = Seq(Model("p1", Array(1.0), Array(0.5), 1, 1L),
      Model("p2", Array(1.0), Array(0.1), 1, 1L)).toDS()
    val m2 = Seq(Model("p1", Array(2.0), Array(0.9), 1, 5L)).toDS()
    store.upsert(m1, 0L)
    store.upsert(m2, 1L)
    store.upsert(m2, 1L) // replayed batch — idempotent
    val out = store.read(spark).collect().map(m => m.productId -> m).toMap
    assert(out.size == 2)
    assert(out("p1").n == 5L && out("p1").b(0) == 0.9)
    assert(out("p2").n == 1L)
  }
}
