package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The curation chain's monitor (q168): its dedup stage bites on the
  * corpus's planted exact duplicates. */
class IngestMonitorSpec extends SparkSpec {

  test("q168 batch surface: dedup removes exactly the corpus's exact-duplicate " +
    "rows vs the undeduped monitor (sf0.1, the SF that plants them)") {
    val qs = graft.SparkEntry.queries
    def totalDocs(name: String): Long =
      qs(name)(spark, sf("0.1")).agg(sum(col("n_docs"))).head().getLong(0)
    val docs = graft.Tables.documents(spark, sf("0.1"))
    val dups = docs.count() - docs.select("text").distinct().count()
    assert(dups > 0, "sf0.1 must plant exact duplicates for this test to bite")
    assert(totalDocs("q140_ingest_monitor") - totalDocs("q168_curated_ingest") == dups)
  }
}
