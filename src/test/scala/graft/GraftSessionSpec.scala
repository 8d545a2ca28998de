package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}

/** The session factory's one codegen cache ([[GraftSession.builder]]):
  * every session on the context runs its tasks under the same class
  * loader, so a fresh session reuses the classes an earlier one compiled.
  * Bench's warmup session and perfbench's session per catalog pass rely
  * on it. */
class GraftSessionSpec extends SparkSpec {

  /** The context class loader of a task `s` runs. */
  private def taskLoader(s: SparkSession): ClassLoader = {
    GraftSessionSpec.seen.clear()
    val record = udf { (x: Long) =>
      GraftSessionSpec.seen.add(Thread.currentThread.getContextClassLoader)
      x
    }
    s.range(0, 1, 1, 1).select(record(col("id"))).collect()
    GraftSessionSpec.seen.peek()
  }

  test("a second session recompiles nothing and runs its tasks under the first one's loader") {
    val Seq(first, second) = Seq.fill(2)(spark.newSession())
    def compiled(s: SparkSession): Long = {
      val c0 = Layers.compiles()
      Bench.time(SparkEntry.queries("q70_corr_stats")(s, sf()))
      Layers.compiles() - c0
    }
    compiled(first)
    val again = compiled(second)
    assert(again == 0, s"the second session compiled $again classes the first one had")
    val loaders = Seq(first, second).map(taskLoader)
    assert(loaders.forall(_ != null), "no task recorded its class loader")
    assert(loaders(0) eq loaders(1), s"the sessions' tasks ran under different loaders: $loaders")
  }
}

object GraftSessionSpec {
  /** Filled by the tasks of [[GraftSessionSpec.taskLoader]]: local mode
    * runs them in this JVM. */
  val seen = new ConcurrentLinkedQueue[ClassLoader]
}
