package graft.tools

/** Print the DuckDB oracle SQL for the named queries (all with no
  * args; a name may be a comma-separated list) — local iteration aid:
  * pipe the output straight into duckdb against the testdata parquet
  * without running a full Verify dump. The SQL is printed as UTF-8
  * whatever the platform charset, so each oracle comes out byte for
  * byte as the checker runs it. A misspelled name, or a named query
  * with no oracle, exits non-zero. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val names = graft.Bench.select(args.toSeq).map(_._1)
    val oracles = graft.SparkEntry.oracleSql
    val out = new java.io.PrintStream(System.out, true, java.nio.charset.StandardCharsets.UTF_8)
    names.foreach(n => oracles.get(n).foreach(sql => out.println(s"-- ${n}\n$sql\n;")))
    val missing = names.filterNot(oracles.contains)
    if (missing.nonEmpty) {
      System.err.println(s"no oracle for ${missing.mkString(", ")}")
      sys.exit(1)
    }
  }
}
