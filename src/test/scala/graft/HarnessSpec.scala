package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** [[Harness]]: the split fixture's file layout and cleanup, and the
  * registry loop's allowlist and per-query isolation; and the job
  * recorder ([[Jobs.recorded]]) that [[Prof]] reads per query.
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

  test("Jobs.recorded records a streaming query started inside the scope") {
    withTempDir("jobs_stream") { dir =>
      spark.range(10).write.parquet(s"$dir/in")
      val r = Jobs.recorded(spark) {
        val q = spark.readStream.schema(spark.range(1).schema).parquet(s"$dir/in")
          .writeStream.format("noop").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$dir/ckpt").start()
        q.awaitTermination()
        q.runId.toString
      }
      // micro-batch jobs run on the stream's thread, described by its run id
      assert(r.jobs.exists(_.desc.contains(r.value)), r.jobs.map(_.desc))
    }
  }

  test("Jobs.recorded skips a job that a thread started before the scope submits") {
    val go = new java.util.concurrent.CountDownLatch(1)
    @volatile var counted = 0L
    val t = new Thread(() => {
      go.await()
      spark.sparkContext.setJobDescription("started before the scope")
      counted = spark.range(10).count()
    })
    t.start()
    val r = Jobs.recorded(spark) { go.countDown(); t.join(); spark.range(5).collect() }
    assert(counted == 10L && r.value.length == 5)
    assert(r.jobs.nonEmpty && r.jobs.forall(_.desc != "started before the scope"),
      r.jobs.map(_.desc))
  }

  test("a job record read right after Jobs.recorded returns is complete, " +
       "and a plain query drops no stage") {
    // the inner record is read with no sleep; the outer scope fences the
    // bus after the inner one returned and sees the same jobs, plus the
    // inner scope's marker job
    val outer = Jobs.recorded(spark)(Jobs.recorded(spark)(
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect()))
    val inner = outer.value
    assert(inner.value.length == 7 && inner.droppedStages == 0, inner)
    assert(inner.jobs.nonEmpty &&
      inner.jobs.forall(j => j.end >= j.start && j.tasks > 0), inner.jobs)
    assert(outer.jobs.map(_.id).init == inner.jobs.map(_.id), outer.jobs)
  }
}
