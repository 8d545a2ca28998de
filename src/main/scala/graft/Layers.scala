package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** THE session layer store: every materialized layer the engine shares
  * across queries (dedup labels, LinUCB models, IVF centroids, PQ code
  * tables, prefix-scan frames) is built, kept, evicted and timed here,
  * keyed by (layer name, key).
  *
  *  - ONE-TO-ONE: the layer names passed to [[frame]] and [[value]] are
  *    exactly the keys of [[SparkEntry.layers]], so the bench builds and
  *    times every store build apart from the queries. A frame only one
  *    query reads is not a layer: it stays that query's own frame.
  *  - [[frame]] localCheckpoints the frame its build returns;
  *    [[value]] keeps anything else (arrays, models, counts, frames that
  *    pin their own checkpoints).
  *  - BUDGET: at most [[PerName]] resident keys per layer name per
  *    session, least-recently-used first out — a long-lived context that
  *    touches many (sfDir, param) variants (test suites, notebook
  *    drivers, multi-lake jobs) evicts cold variants instead of pinning
  *    each one for the context lifetime.
  *  - EVICTION is derived from the value's shape ([[release]]): the
  *    checkpoint blocks of every DataFrame the value is, or holds as a
  *    field, are released eagerly instead of at context end.
  *  - LIFETIME: a session's entries hang off the session itself (no
  *    static map holds a session or a layer), so a dropped session's
  *    layers become garbage with it and the ContextCleaner releases
  *    their blocks; one listener per SparkContext drops every entry
  *    when the context stops. One exception: AQE's stage pools
  *    (`QueryStageCreator`, `ResultQueryStageExecution`,
  *    `shuffle-exchange`) copy the caller's active session into every
  *    thread they create, so a dropped session, and with it its layer
  *    store, stays reachable until those threads idle out, about 60 s
  *    later. That is why `LayersSpec` turns AQE off in its session: it
  *    tests the store's own lifetime alone.
  *
  * CONTRACT: a layer is valid while RESIDENT. Consumers re-enter
  * through the layer getter (e.g. `Dedup.materializedClusters`) — an
  * evicted entry rebuilds transparently on next GETTER access. A
  * DataFrame reference held privately across [[PerName]] later builds
  * under the same name in the same session may lose its blocks to
  * eviction, and a checkpoint-backed frame FAILS if acted on after that
  * (truncated lineage cannot recompute) — hold the getter, not the
  * frame. Keys assume the data under a given key (sfDir, plan) is
  * immutable for the session — an in-place lake refresh mid-session
  * invalidates every layer, the standard warehouse snapshot assumption.
  *
  * Concurrency: hits never block on an in-flight build; builds of the
  * SAME (name, key) are serialized on a per-key latch (a displaced-latch
  * race can rarely build twice — the loser's value is released, the
  * winner's is what every caller sees); other keys build concurrently.
  *
  * Timing: each build records its OWN time — its wall time minus the
  * wall time of the store builds nested inside it on the same thread —
  * so a layer built on the side of another (near pairs under the
  * cluster labels) still reports its own cost ([[recording]]). Its own
  * Janino compiles ([[compiles]]) are netted the same way. */
object Layers {

  /** Resident keys per layer name per session. */
  val PerName = 16

  /** One finished build of layer `name`, its own seconds and its own
    * codegen compiles. */
  final case class Build(name: String, ownS: Double, compiles: Long)

  /** Janino compiles so far in this JVM (Spark's `CodegenMetrics`, one
    * count for all threads of a local context). Spark counts every class it
    * compiles here and none its codegen cache serves, so a delta across
    * a warm query or layer build reads 0. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The layer `name` at `key`, built once per session as the
    * localCheckpoint of `build`. */
  def frame(spark: SparkSession, name: String, key: Any)(build: => DataFrame): DataFrame =
    value(spark, name, key)(build.localCheckpoint())

  /** The layer `name` at `key`, built once per session by `build`. */
  def value[V](spark: SparkSession, name: String, key: Any)(build: => V): V = {
    val store = storeOf(spark)
    val lru = store.resident.computeIfAbsent(name,
      _ => new java.util.LinkedHashMap[Any, Any](8, 0.75f, true)) // access order = LRU
    // fast path: a hit takes the name's lock only briefly (get also
    // refreshes LRU order, so it must run under the lock)
    val hit = lru.synchronized(lru.get(key))
    val v =
      if (hit != null) hit
      else {
        // build OUTSIDE the name's lock so hits and other-key builds
        // never wait; same-key racers serialize on a per-key latch and
        // the loser reuses the winner's value
        val id = (name, key)
        val latch = store.building.computeIfAbsent(id, _ => new Object)
        try latch.synchronized {
          val again = lru.synchronized(lru.get(key))
          if (again != null) again
          else {
            val built: Any = timed(name)(build)
            require(built != null, s"layer $name built null")
            lru.synchronized {
              // displaced-latch race (the builder finished and removed
              // the latch while we were acquiring it, then a newcomer
              // re-created it): keep the resident value and RELEASE
              // ours — a silent put would displace it unreleased
              val existing = lru.get(key)
              if (existing != null) {
                releaseQuietly(spark, built)
                existing
              } else {
                lru.put(key, built)
                while (lru.size > PerName) {
                  val it = lru.entrySet().iterator()
                  val eldest = it.next()
                  it.remove()
                  releaseQuietly(spark, eldest.getValue)
                }
                built
              }
            }
          }
        } finally store.building.remove(id): Unit
      }
    // the context stopped while the build ran (or before it, so the
    // listener will never fire): the entry just put would outlive its
    // blocks — drop the session's entries; the caller keeps its value
    if (spark.sparkContext.isStopped) store.resident.clear()
    v.asInstanceOf[V]
  }

  /** The eviction rule: release the checkpoint blocks behind `v` if it
    * is a DataFrame, or behind each DataFrame field if it is a Product
    * (e.g. a model of two scoring tables). A checkpointed Dataset's
    * plan is a [[org.apache.spark.sql.execution.LogicalRDD]] leaf over
    * the persisted RDD; unpersisting it frees the blocks now. Non-
    * blocking; a no-op on anything else. */
  def release(v: Any): Unit = v match {
    case df: Dataset[_] =>
      df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false): Unit
        case _ => ()
      }
    case p: Product => p.productIterator.foreach {
      case df: Dataset[_] => release(df)
      case _ => ()
    }
    case _ => ()
  }

  /** Runs `body` and returns what it returned (or threw) with every
    * store build that finished on this thread meanwhile, nested ones
    * included, in completion order. */
  def recording[T](body: => T): (scala.util.Try[T], Seq[Build]) = {
    val outer = recorder.get()
    val mine = ArrayBuffer.empty[Build]
    recorder.set(mine)
    val r = try scala.util.Try(body) finally recorder.set(outer)
    if (outer != null) outer ++= mine
    (r, mine.toSeq)
  }

  private val recorder = new ThreadLocal[ArrayBuffer[Build]]
  /** The wall nanos and the compiles of builds nested in the current
    * build, per thread. */
  private val nestedCost = new ThreadLocal[Array[Long]]

  private def timed[V](name: String)(build: => V): V = {
    val outer = nestedCost.get()
    val nested = Array(0L, 0L)
    nestedCost.set(nested)
    val t0 = System.nanoTime()
    val c0 = compiles()
    val v = try build finally nestedCost.set(outer)
    val wall = System.nanoTime() - t0
    val compiled = compiles() - c0
    if (outer != null) { outer(0) += wall; outer(1) += compiled }
    val rec = recorder.get()
    if (rec != null) rec += Build(name, (wall - nested(0)) / 1e9, compiled - nested(1))
    v
  }

  private def releaseQuietly(spark: SparkSession, v: Any): Unit =
    try if (!spark.sparkContext.isStopped) release(v)
    catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        System.err.println(s"[Layers] eviction interrupted: $e")
      case NonFatal(e) =>
        System.err.println(s"[Layers] release failed (blocks may stay pinned): $e")
    }

  /** One session's entries. Spark has no per-session slot for user
    * objects, so the store rides the session's experimental planner
    * strategies as a no-op strategy (it plans nothing): reachable from
    * its session only, never from a static root, it lives and dies
    * with the session. */
  private final class Store(val owner: SparkSession) extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
    val resident = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.LinkedHashMap[Any, Any]]()
    val building = new java.util.concurrent.ConcurrentHashMap[(String, Any), Object]()
  }

  /** Live stores and listened contexts, both held weakly. */
  private val stores = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[Store, java.lang.Boolean]())
  private val contexts = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private def find(spark: SparkSession): Option[Store] =
    spark.experimental.extraStrategies.collectFirst { case s: Store if s.owner eq spark => s }

  private def storeOf(spark: SparkSession): Store =
    find(spark).getOrElse(synchronized {
      find(spark).getOrElse {
        val sc = spark.sparkContext
        // one listener per context, holding no session: when the
        // context stops, every store on it (now stopped) drops its
        // entries — their blocks are gone with the executors
        if (contexts.add(sc)) sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            Layers.synchronized(stores.asScala.toList)
              .filter(_.owner.sparkContext.isStopped).foreach(_.resident.clear())
        })
        val store = new Store(spark)
        stores.add(store)
        val ex = spark.experimental
        // a cloned session inherits its parent's strategies: drop the
        // parent's store so the clone neither reads nor pins it
        ex.extraStrategies = ex.extraStrategies.filterNot(_.isInstanceOf[Store]) :+ store
        store
      }
    })
}
