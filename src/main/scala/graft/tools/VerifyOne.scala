package graft.tools

/** Targeted oracle-parity dump: run only the NAMED queries against an
  * arbitrary lake (e.g. the ScaleBench 10× replica under
  * `target/scale-sf1`) and write the same `outDir/<name>/` parquet +
  * `oracle_sql.json` layout `graft.Verify` produces, restricted to
  * those names — so `tools/parity_check.py` can adjudicate a handful
  * of oracles at a scale the full 132-query dump would make
  * impractically slow (the round-11 10× parity experiment was cut at
  * the recursive-CTE oracle for exactly that reason).
  *
  * Usage: `runMain graft.tools.VerifyOne <sfDir> <outDir> <query>...`
  *
  * CAVEAT: unlike `graft.Verify`, this dump does NOT apply the
  * fixture-pin guards — the corpus-pinned oracles (q117's probe-all
  * kNN, q23's 6-plane SRP geometry, the IVF family's k=16/d=64
  * unroll, the LinUCB replays' 2dp-money premise) are only valid on
  * lakes inside their pins. Above a ceiling (e.g. the 10× lake's 50 k
  * vectors for q117/q23) a mismatch is the DROPPED-oracle condition,
  * not an engine bug.
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifyOne <sfDir> <outDir> <query>...")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      System.err.println(s"[verify-one] wrote $name")
    }
    val oracles = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
    graft.Verify.writeArtifacts(outDir, oracles, names, failed = Nil,
      minRows = Map.empty)
    spark.stop()
  }
}
