package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract checks for q162 (token-balanced sharding) and q163
  * (split-leakage audit). */
class ShardingLeakageSpec extends SparkSpec {

  test("token shards: every doc once, counts within 1, snake beats chunking") {
    val nShards = Sharding.Shards
    val docs = graft.Tables.documents(spark, sf())
    val out = Sharding.tokenBalancedShards(spark, sf()).collect()
    assert(out.length == docs.count())
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    assert(out.forall(r => r.getLong(3) >= 0 && r.getLong(3) < nShards))
    // the snake is a pure function of the global rank
    out.foreach { r =>
      val rn = r.getLong(2)
      val pos = (rn - 1) % nShards
      val block = (rn - 1) / nShards
      val expect = if (block % 2 == 0) pos else nShards - 1 - pos
      assert(r.getLong(3) == expect, s"doc ${r.getLong(0)}: shard != snake(rn)")
    }
    // doc counts per shard differ by at most one (full blocks hit every
    // shard exactly once; only the ragged last block skips shards)
    val counts = out.groupBy(_.getLong(3)).map(_._2.length)
    assert(counts.max - counts.min <= 1)
    // token balance: the point of the operator — spread no larger than
    // a single max document, and far below contiguous-chunk sharding
    val totals = out.groupBy(_.getLong(3)).map(_._2.map(_.getLong(1)).sum)
    val spread = totals.max - totals.min
    val maxDoc = out.map(_.getLong(1)).max
    assert(spread <= maxDoc, s"snake spread $spread > max doc $maxDoc")
    val sorted = out.sortBy(r => (-r.getLong(1), r.getLong(0))).map(_.getLong(1))
    val chunk = sorted.grouped(math.ceil(sorted.length / nShards.toDouble).toInt)
      .map(_.sum).toSeq
    assert(spread <= (chunk.max - chunk.min),
      "snake must not balance worse than contiguous chunking")
  }

  test("token shards: global rank agrees with a driver-side sort") {
    val out = Sharding.tokenBalancedShards(spark, sf()).collect()
    val byRank = out.sortBy(_.getLong(2))
    val resorted = out.sortBy(r => (-r.getLong(1), r.getLong(0)))
    assert(byRank.map(_.getLong(0)).toSeq == resorted.map(_.getLong(0)).toSeq,
      "prefix-scan rank must equal the true global (n_tokens desc, doc_id) order")
    assert(byRank.map(_.getLong(2)).toSeq == (1L to out.length.toLong))
  }

  test("plan audit: shard rank windows are pid-partitioned, never global") {
    val df = Sharding.tokenBalancedShards(spark, sf())
    // typed node traversal (graft.PlanAudit), not plan-string matching:
    // every window node must carry the prefix scan's pid partition key
    val wins = graft.PlanAudit.windowPartitionKeys(df)
    assert(wins.nonEmpty, "rank window missing from the plan")
    wins.foreach(keys => assert(keys.contains("pid"),
      s"a window runs without the pid partition key: $wins"))
    assert(!graft.PlanAudit.hasScalaUDF(df))
  }

  test("plan audit: leakage matrix joins stay keyed, no quadratic strategy") {
    val df = Dedup.splitLeakage(spark, sf())
    assert(!graft.PlanAudit.hasCartesian(df) &&
      !graft.PlanAudit.hasBroadcastNestedLoop(df),
      "leakage join degenerated to a quadratic strategy")
  }

  test("split leakage: flags follow the pair, totals reconcile with the layers") {
    val rows = Dedup.splitLeakage(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getString(0) != r.getString(1)))
      assert(r.getString(0) <= r.getString(1), "split pair must be normalized")
    }
    val nearTotal = rows.map(_.getLong(2)).sum
    val exactTotal = rows.map(_.getLong(3)).sum
    assert(nearTotal == Dedup.materializedNearPairs(spark, sf()).count())
    assert(exactTotal ==
      Dedup.exactEdgesFrom(graft.Tables.documents(spark, sf())).count())
  }

  test("split leakage: near channel replays from splitAssign + pair layer") {
    val sp = Analytics.splitAssign(spark, sf())
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Dedup.materializedNearPairs(spark, sf())
      .select("doc_i", "doc_j").collect()
      .map { r =>
        val (a, b) = (sp(r.getLong(0)), sp(r.getLong(1)))
        (if (a <= b) a else b, if (a <= b) b else a)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = Dedup.splitLeakage(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    expected.foreach { case (k, n) =>
      assert(got.getOrElse(k, 0L) == n, s"near count mismatch at $k")
    }
    got.filter(_._2 > 0).keys.foreach(k => assert(expected.contains(k)))
  }

  test("split leakage: exact channel replays from splitAssign") {
    // the audit's map-side split must be the one splitAssign assigns on
    // the exact-duplicate channel too (sf0.1 is the SF that plants
    // exact duplicates)
    val d = sf("0.1")
    val sp = Analytics.splitAssign(spark, d)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Dedup.exactEdgesFrom(graft.Tables.documents(spark, d))
      .select("doc_i", "doc_j").collect()
      .map { r =>
        val (a, b) = (sp(r.getLong(0)), sp(r.getLong(1)))
        (if (a <= b) a else b, if (a <= b) b else a)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = Dedup.splitLeakage(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(expected.nonEmpty)
    expected.foreach { case (k, n) =>
      assert(got.getOrElse(k, 0L) == n, s"exact count mismatch at $k")
    }
    got.filter(_._2 > 0).keys.foreach(k => assert(expected.contains(k)))
  }
}
