package graft

import java.lang.ref.WeakReference
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

class LayersSpec extends SparkSpec {
  import spark.implicits._

  /** RDD id behind a localCheckpointed frame (−1 if none). */
  private def ckptId(df: DataFrame): Int = {
    var id = -1
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => id = l.rdd.id
      case _ => ()
    }
    id
  }
  private def pinned(id: Int) = spark.sparkContext.getPersistentRDDs.contains(id)
  private def small(i: Int) = Seq((i.toLong, s"v$i")).toDF("k", "v")

  test("the 17th key under one name evicts and releases the LRU key") {
    val ids = (0 to Layers.PerName).map(i => ckptId(Layers.frame(spark, "spec_lru", i)(small(i))))
    assert(ids.forall(_ >= 0))
    // the budget evicted key 0 AND released its executor blocks — a
    // 17th (sfDir, threshold) variant must not grow pinned storage
    assert(!pinned(ids.head), "evicted layer still pins its checkpoint blocks")
    assert(ids.tail.forall(pinned), "a resident layer lost its blocks")
    // a resident entry is served, not rebuilt
    val last = Layers.frame(spark, "spec_lru", Layers.PerName)(fail("key should be resident"))
    assert(last.as[(Long, String)].collect().toSeq == Seq((Layers.PerName.toLong, s"v${Layers.PerName}")))
  }

  test("hits never rebuild, and a hit keeps its key off the LRU end") {
    var builds = 0
    def get(i: Int) = Layers.value(spark, "spec_hits", i) { builds += 1; i * 10 }
    (0 until Layers.PerName).foreach(get)
    assert(builds == Layers.PerName)
    assert(get(0) == 0 && builds == Layers.PerName, "a hit rebuilt")
    get(Layers.PerName): Unit // evicts key 1, the LRU key — not the just-read key 0
    assert(get(0) == 0 && builds == Layers.PerName + 1, "LRU evicted the most recently used key")
    get(1): Unit
    assert(builds == Layers.PerName + 2, "the LRU key was not evicted")
  }

  test("evicting a Product value releases every frame it holds") {
    // the LM model's shape: two checkpointed scoring tables and a count
    final case class Model(seen: DataFrame, back: DataFrame, n: Long)
    val models = (0 to Layers.PerName).map(i => Layers.value(spark, "spec_model", i)(
      Model(small(i).localCheckpoint(), small(-i).localCheckpoint(), i.toLong)))
    val Seq(seen0, back0) = Seq(models.head.seen, models.head.back).map(ckptId)
    assert(!pinned(seen0) && !pinned(back0), "an evicted model still pins its tables")
    assert(pinned(ckptId(models.last.seen)) && pinned(ckptId(models.last.back)))
  }

  test("two threads asking for one key build it once") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val got = (1 to 2).map(_ => pool.submit(() => {
        start.await()
        Layers.value(spark, "spec_race", 1) { builds.incrementAndGet(); Thread.sleep(300); 42 }
      }))
      start.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)) == Seq(42, 42))
      assert(builds.get == 1, "the same key was built twice")
    } finally pool.shutdownNow(): Unit
  }

  test("a dropped session's layers are released") {
    // AQE's stage pools hand the active session to every thread they
    // create, pinning it until the thread idles out; with AQE off in
    // this session only the store's own references are under test
    var s: SparkSession = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    var df = Layers.frame(s, "spec_dropped", 1)(s.range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("k")).count())
    val id = ckptId(df)
    assert(df.count() == 7 && pinned(id))
    val ref = new WeakReference(df)
    s = null
    df = null
    var polls = 0
    while ((ref.get() != null || pinned(id)) && polls < 60) {
      System.gc()
      Thread.sleep(250)
      polls += 1
    }
    assert(ref.get() == null, "the store still holds a dropped session's layer")
    assert(!pinned(id), "the dropped session's checkpoint blocks are still pinned")
  }

  test("a nested build records its own time") {
    val s = spark.newSession()
    val t0 = System.nanoTime()
    val (built, builds) = Layers.recording(SparkEntry.layers("dedup_clusters")(s, sf()))
    val wall = (System.nanoTime() - t0) / 1e9
    assert(built.isSuccess)
    val byName = builds.map(b => b.name -> b).toMap
    assert(byName("near_pairs").ownS > 0, "the nested near_pairs build recorded no own time")
    val clusters = byName("dedup_clusters").ownS
    assert(clusters > 0 && clusters < wall - byName("near_pairs").ownS,
      s"dedup_clusters' own $clusters s is not net of its nested builds (call: $wall s)")
    // near_pairs is then a hit: nothing builds
    assert(Layers.recording(SparkEntry.layers("near_pairs")(s, sf()))._2.isEmpty)
  }

  test("layer times are their own in either build order") {
    val family = Seq("shingled_docs", "capped_postings", "exact_edges", "near_pairs",
      "dedup_clusters")
    val Seq(forward, backward) = Seq(family, family.reverse).map { order =>
      val (times, failed) = Bench.layerPhase(spark.newSession(), sf(), order)
      assert(failed.isEmpty)
      times.map(b => b.name -> b.ownS).toMap
    }
    Seq(forward, backward).foreach { t =>
      assert(t.keySet == family.toSet)
      assert(t.values.forall(_ > 0), s"a layer reads 0 s: $t")
    }
  }
}
