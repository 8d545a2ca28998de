package graft.tools

/** Dev tool: dump formatted physical plans for the named queries (all
  * if none named; a name may be a comma-separated list) — the
  * `.explain("formatted")` iteration loop. A misspelled name exits
  * non-zero before Spark starts. */
object Plans {
  def main(args: Array[String]): Unit = {
    val selected = graft.Bench.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { case (n, fn) =>
      println(s"\n===== $n =====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
