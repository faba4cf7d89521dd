package graft

import java.nio.file.{Files, Paths}

/** [[Harness]]: the split fixture's file layout and cleanup, and the
  * registry loop's allowlist and per-query isolation.
  */
class HarnessSpec extends SparkSpec {

  test("split fixture sizes files by row count and is deleted after use") {
    // sf0.01 spans all three tiers: lineitem 60,000 rows, orders 15,000,
    // region 5
    val sf = Paths.get(sfDir).resolveSibling("sf0.01").toString
    val cpus = 4
    val dir = Harness.withSplitFixture(spark, sf, cpus, "graft_harness_spec") { d =>
      for (t <- graft.sources.Tables.names) {
        val rows = spark.read.parquet(s"$sf/$t.parquet").count()
        val want = if (rows >= 20000) cpus else if (rows >= 2000) 8 else 1
        val files = new java.io.File(s"$d/$t.parquet").listFiles()
          .count(_.getName.endsWith(".parquet"))
        assert(files == want, s"$t ($rows rows): $files files, want $want")
        assert(spark.read.parquet(s"$d/$t.parquet").count() == rows, t)
      }
      d
    }
    assert(dir != sf, "the split failed and fell back to the source dir")
    assert(!Files.exists(Paths.get(dir)), s"$dir survived the fixture scope")
  }

  test("the query loop honours the allowlist and drains after each query") {
    val only = Set("q_tfidf", "q_lm_xent", "q_coreference", "q_no_such_query")
    val sel = Harness.queries(Some(only))
    assert(sel.map(_._1) == Seq("q_coreference", "q_lm_xent", "q_tfidf"))
    assert(Harness.queries(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    spark.catalog.clearCache() // baseline: other suites' leftovers are not ours
    for ((name, fn) <- sel) {
      Caching.withCached(fn(spark, sfDir).queryExecution.toRdd.count())
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left persisted frames behind")
    }
  }
}
