package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() returns rows; every query name has
  * either a SQL oracle or is a documented rows-only op; oracle SQL
  * references only bare table names the driver registers. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry() produces rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries; rows-only set is the documented one") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o.diff(q)}")
    val rowsOnly = q.diff(o)
    assert(rowsOnly == Set("q37_simhash", "q41_knn_lsh", "q43_knn_ivf",
      "q46_media_frames"),
      s"unexpected rows-only queries: $rowsOnly")
  }

  test("a phrase query after a ranked query on the same documents serves " +
      "the positional sidecar built in between") {
    import spark.implicits._
    // a fresh directory: its own cached index and Searcher
    val dir = TestSpark.tmpDir("graft-entry-phrase")
    (0L until 40L).map(i => (i, "en",
        if (i % 3 == 0) s"table hash join $i" else s"hash join scan $i table"))
      .toDF("doc_id", "lang", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    assert(graft.entry.IndexQueries.bm25(spark, dir, "hash join", 10).count() > 0)
    assert(graft.entry.IndexQueries.phraseBm25(spark, dir, "table hash", 20)
      .count() > 0)
  }

  test("every query runs non-empty at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }
}
