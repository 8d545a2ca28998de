package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `SparkSessionExtensions` entry point — the standard way a Spark
  * library ships its SQL surface (how Delta/Iceberg register theirs):
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   .getOrCreate()
  * }}}
  *
  * Every custom expression from [[graft.functions.sqlBuilders]] becomes
  * SQL-callable in any session built with the config — no imperative
  * `registerAll` call needed, and the registration survives session
  * cloning. Deliberately the ONLY planner-level hook this engine
  * installs that plans anything: SURVEY.md §4.2 documents that no
  * custom optimizer Rule or Strategy is warranted — Catalyst's
  * built-ins cover every plan shape the reference needs, so the
  * extension surface is functions only. (The layer store, [[Layers]],
  * parks its per-session entries in a strategy that plans nothing.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
}
