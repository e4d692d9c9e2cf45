package graft

/** Smoke: every queries entry runs at sf0.001 and returns rows; every
  * oracleSql key has a matching query; entry() is non-empty. */
class SparkEntrySpec extends SparkSuite {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("every query runs non-empty at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("the memo shares one build across queries and rebuilds after release") {
    val sf = "/root/testdata/sf0.001"
    def run(q: String): Long = SparkEntry.queries(q)(spark, sf).count()
    def memoized(key: String): AnyRef =
      SparkEntry.memo[AnyRef](spark, key)(fail(s"$key is not memoized"))
    SparkEntry.releaseMemos(spark.sparkContext)

    // q51 after q26 reuses the pair table (q51's cluster build nests the pair memo)
    run("q26_ngram_jaccard")
    val pairs = memoized(s"ngram-pairs:$sf")
    run("q51_dedup_clusters")
    assert(memoized(s"ngram-pairs:$sf") eq pairs)
    memoized(s"ngram-clusters:$sf")

    // q38 after q37 reuses the run-0 cycle (whose build nests the crawl memo)
    run("q37_pipeline_feeds")
    val run0 = memoized("daemon-run0")
    run("q38_recrawl_events")
    assert(memoized("daemon-run0") eq run0)

    // the release the context's listener runs: the next call rebuilds
    SparkEntry.releaseMemos(spark.sparkContext)
    var rebuilt = false
    SparkEntry.memo[AnyRef](spark, s"ngram-pairs:$sf") { rebuilt = true; pairs }
    assert(rebuilt)
    run("q37_pipeline_feeds")
    assert(memoized("daemon-run0") ne run0)
  }

  test("no-oracle queries fingerprint deterministically across independent evaluations") {
    // the tripwire the driver artifact records (fingerprints.json): a
    // seeded crawl / connector query must hash identically when re-run
    val sf = "/root/testdata/sf0.001"
    Seq("q34_crawl_schedule", "q35_crawl_seen", "q46_dsv2_source").foreach { name =>
      val fn = SparkEntry.queries(name)
      val a = Verify.fingerprint(fn(spark, sf))
      val b = Verify.fingerprint(fn(spark, sf))
      assert(a === b, s"$name fingerprint unstable")
      assert(a._2 > 0, s"$name fingerprinted 0 rows")
    }
  }
}
