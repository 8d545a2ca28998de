package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic invariants for the join-family and analytic operators
  * (q50-q59) beyond the DuckDB hash parity the driver checks. */
class JoinsAndAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join: every matched view precedes its purchase, and is the latest such") {
    val out = Joins.asofViewBeforePurchase(spark, sf()).cache()
    // no negative elapsed
    assert(out.filter($"secs_since_view" < 0).count() == 0)
    // cross-check a sample of matches against a brute-force correlated lookup
    val ev = graft.Tables.events(spark, sf())
      .select($"event_id", $"user_id", $"event_type", $"ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val views = ev.filter(_._3 == "view").groupBy(_._2)
    val purchases = ev.filter(_._3 == "purchase").take(200)
    val got = out.select($"event_id", $"last_view_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    purchases.foreach { case (pid, user, _, pts) =>
      val eligible = views.getOrElse(user, Array.empty).filter(_._4 <= pts)
      val expect =
        if (eligible.isEmpty) None
        else {
          val maxTs = eligible.map(_._4).max
          Some(eligible.filter(_._4 == maxTs).map(_._1).max)
        }
      assert(got(pid) == expect, s"purchase $pid user $user")
    }
  }

  test("range join keeps zero-view purchases and bounds the window") {
    val out = Joins.viewsWithinHour(spark, sf()).cache()
    val nPurchases = graft.Tables.events(spark, sf())
      .filter($"event_type" === "purchase").count()
    assert(out.count() == nPurchases, "LEFT join must keep every purchase")
    assert(out.filter($"n_views_1h" === 0 && $"view_value_1h" =!= 0.0).count() == 0)
  }

  test("drift bins clamp values outside [lo, hi] into the end bins") {
    import graft.functions.Drift
    val bins = Seq((-5.0, 0.0, 1.0), (0.0, 0.0, 1.0), (0.5, 0.0, 1.0),
        (1.0, 0.0, 1.0), (7.0, 0.0, 1.0), (3.0, 3.0, 3.0))
      .toDF("v", "lo", "hi")
      .select(Drift.binOf($"v", $"lo", $"hi")).as[Int].collect().toSeq
    // below lo -> bin 0, at/above hi -> the top bin, constant column -> 0
    assert(bins == Seq(0, 0, Drift.Bins / 2, Drift.Bins - 1, Drift.Bins - 1, 0), bins)
  }

  test("semi + anti partition the customer set exactly") {
    val out = Joins.customerOrderPresence(spark, sf()).cache()
    val total = out.agg(sum($"n")).as[Long].collect()(0)
    assert(total == graft.Tables.customer(spark, sf()).count())
    // each (branch, segment) appears at most once
    assert(out.groupBy($"branch", $"segment").count().filter($"count" > 1).count() == 0)
  }

  test("hybrid latest-image: updated keys show the live status") {
    val out = Joins.hybridLatestImage(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUpdated = graft.Tables.orders(spark, sf())
      .filter(pmod($"o_orderkey", lit(10)) === 0).count()
    assert(out("X") == nUpdated, "every live update must win its key")
    assert(out.values.sum == graft.Tables.orders(spark, sf()).count())
  }

  test("native session_window agrees with hand-rolled sessionize on session count") {
    val native = Analytics.sessionWindows(spark, sf()).count()
    val manual = Relational.sessionize(spark, sf())
      .select($"user_id", $"session_no").distinct().count()
    assert(native == manual, s"native $native vs manual $manual sessions")
  }

  test("session_window boundary: an event EXACTLY gap after its predecessor MERGES") {
    // Pins the boundary semantics the q54 oracle mirrors (strict `>`
    // in its gap break): an event landing exactly at the previous
    // session's close extends the session — Spark merges windows
    // whose ranges touch. Also pins robustness to duplicate
    // timestamps: ten copies of one event must not split a session
    // (the tie-order hazard a 10× replay lake exposed in the first
    // cut of the q54 oracle, where LAG and the running SUM disagreed
    // on tie order and split one session in two).
    import java.sql.Timestamp
    val gapMs = 30L * 60 * 1000
    val t0 = 1700000000000L
    val planted = (Seq(
      (1L, new Timestamp(t0)),
      (1L, new Timestamp(t0 + gapMs)),         // exactly at the close
      (1L, new Timestamp(t0 + 3 * gapMs))) ++  // clearly past: new session
      Seq.fill(10)((1L, new Timestamp(t0 + 3 * gapMs)))) // duplicate ts storm
      .toDF("user_id", "ts").repartition(4)
    val sessions = planted
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select(unix_micros($"session_window.start"), $"n")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(sessions.length == 2, s"expected 2 sessions, got ${sessions.toSeq}")
    assert(sessions(0) == (t0 * 1000, 2L), s"exact-gap event must merge: ${sessions.toSeq}")
    assert(sessions(1) == ((t0 + 3 * gapMs) * 1000, 11L), s"duplicates must not split: ${sessions.toSeq}")
  }

  test("session windows of one user never overlap") {
    val rows = Analytics.sessionWindows(spark, sf())
      .select($"user_id", $"session_start_us", $"session_end_us")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1)
    rows.values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(e1 <= s2, "overlap")
        case _ =>
      }
    }
  }

  test("cube contains all four granularities and they reconcile") {
    val out = Analytics.revenueCube(spark, sf()).cache()
    val grand = out.filter($"segment".isNull && $"priority".isNull)
      .select($"n_orders").as[Long].collect()
    assert(grand.length == 1)
    val bySeg = out.filter($"segment".isNotNull && $"priority".isNull)
      .agg(sum($"n_orders")).as[Long].collect()(0)
    val byBoth = out.filter($"segment".isNotNull && $"priority".isNotNull)
      .agg(sum($"n_orders")).as[Long].collect()(0)
    assert(bySeg == grand(0) && byBoth == grand(0))
  }

  test("pivot row sums equal per-hour event counts") {
    val out = Analytics.hourlyTypePivot(spark, sf())
      .selectExpr("hr", "n_click + n_error + n_purchase + n_signup + n_view AS total")
    val expect = graft.Tables.events(spark, sf())
      .groupBy(hour($"ts").cast("long").as("hr")).count()
    val joined = out.join(expect, "hr")
      .filter($"total" =!= $"count")
    assert(joined.count() == 0)
  }

  test("balance analytics: rank bounds and quartiles balanced within segment") {
    val out = Analytics.balanceAnalytics(spark, sf()).cache()
    // rank never exceeds segment size; quartile sizes differ by <= 1
    val bad = out.groupBy($"segment")
      .agg(max($"rnk").as("maxr"), count(lit(1)).as("n"))
      .filter($"maxr" > $"n")
    assert(bad.count() == 0)
    val q = out.groupBy($"segment", $"quartile").count()
      .groupBy($"segment").agg((max($"count") - min($"count")).as("spread"))
      .filter($"spread" > 1)
    assert(q.count() == 0)
  }

  test("stratified sample rates land near their targets") {
    val docs = graft.Tables.documents(spark, sf())
    val sampled = Analytics.stratifiedSample(spark, sf())
    val byLang = docs.groupBy($"lang").count()
      .join(sampled.groupBy($"lang").agg(count(lit(1)).as("kept")), "lang")
      .select($"lang", ($"kept" / $"count").as("rate"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(byLang("en") - 0.25) < 0.1, s"en rate ${byLang("en")}")
    byLang.filterNot(_._1 == "en").foreach { case (l, r) =>
      assert(math.abs(r - 0.75) < 0.1, s"$l rate $r")
    }
    // determinism: same ids kept on re-run
    val a = sampled.select($"doc_id").as[Long].collect().sorted
    val b = Analytics.stratifiedSample(spark, sf()).select($"doc_id").as[Long].collect().sorted
    assert(a.sameElements(b))
  }

  test("chunking reassembles every document: token counts sum, last chunk partial") {
    val chunks = TextOps.chunkDocs(spark, sf())
    val perDoc = chunks.groupBy($"doc_id")
      .agg(sum($"n_chunk_tokens").as("tok"), count(lit(1)).as("n"),
        max($"n_chunk_tokens").as("maxc"))
    val docs = graft.Tables.documents(spark, sf())
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
    val joined = perDoc.join(docs, "doc_id").cache()
    assert(joined.filter($"tok" =!= $"n_tokens").count() == 0,
      "chunk tokens must sum back to the document")
    assert(joined.filter($"maxc" > 64).count() == 0, "no chunk exceeds the window")
    // chunk count = ceil(n_tokens / 64)
    assert(joined.filter($"n" =!= ceil($"n_tokens" / 64.0).cast("long")).count() == 0)
  }

  test("sequence packing: bins respect capacity given per-doc token bound, shards independent") {
    val packed = TextOps.packSequences(spark, sf()).cache()
    assert(packed.count() == graft.Tables.documents(spark, sf()).count())
    // density assertion below presumes no single doc exceeds capacity
    // (else bins legitimately skip numbers) — pin that data property
    assert(packed.filter($"n_tokens" > 512).count() == 0,
      "fixture gained a >capacity doc; rewrite density check")
    // bin numbering starts at 0 per shard and is dense
    val perShard = packed.groupBy($"lang")
      .agg(min($"bin_no").as("lo"), max($"bin_no").as("hi"),
        countDistinct($"bin_no").as("nbins"))
    assert(perShard.filter($"lo" =!= 0 || $"nbins" =!= $"hi" + 1).count() == 0)
    // a bin's content exceeds capacity only via its LAST doc straddling
    // the boundary (greedy in-order packing invariant)
    val over = packed.groupBy($"lang", $"bin_no")
      .agg(sum($"n_tokens").as("tot"), max($"n_tokens").as("biggest"))
      .filter($"tot" - $"biggest" >= 512)
    assert(over.count() == 0)
  }

  test("top bigrams equal a driver-side exact count (non-distinct occurrences)") {
    val out = Analytics.topBigrams(spark, sf()).as[(String, Long)].collect()
    assert(out.length == 20)
    assert(out.sliding(2).forall {
      case Array((b1, n1), (b2, n2)) => n1 > n2 || (n1 == n2 && b1 < b2)
      case _ => true
    })
    // full ground truth: every occurrence counts, including repeats
    // within one document (a per-doc distinct would be caught here)
    val texts = graft.Tables.documents(spark, sf()).select($"text").as[String].collect()
    val exact = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val toks = t.split(" ")
      if (toks.length >= 2) toks.sliding(2).foreach { w =>
        val bg = w.mkString(" ")
        exact(bg) = exact.getOrElse(bg, 0L) + 1L
      }
    }
    val expectTop = exact.toSeq.sortBy { case (b, n) => (-n, b) }.take(20)
    assert(out.toSeq == expectTop, s"engine ${out.take(3).toSeq} vs exact ${expectTop.take(3)}")
  }

  test("split assignment is deterministic and lands near the configured rates") {
    val a = Analytics.splitAssign(spark, sf("0.01")).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val b = Analytics.splitAssign(spark, sf("0.01")).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(a == b, "split must be stable across runs")
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    // hash uniformity: 500 docs, sd ~ 0.018 for the 0.8 bucket
    assert(math.abs(frac("train") - 0.8) < 0.06, s"train ${frac("train")}")
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.1) < 0.05, s"val $frac")
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.1) < 0.05, s"test $frac")
  }
}
