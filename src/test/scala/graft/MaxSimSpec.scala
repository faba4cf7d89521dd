package graft

import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.similarity.MaxSim
import graft.sources.Tables

/** G59 late-interaction MaxSim — invariants beyond the oracle: the fused
  * native equals a relational (explode + two-aggregation) replay, the
  * single-token degenerate case reduces to quantized-dot brute force, the
  * null/edge poison device, and the plan shape (three bounded exchanges,
  * query side broadcast, scoring fused into whole-stage codegen).
  */
class MaxSimSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val toks = emb.select(expr("vec_id DIV 5").as("id"),
    expr("vec_id % 5").as("pos"), col("embedding"))
  private lazy val quantToks = toks.select(col("id"), col("pos"),
    expr("transform(embedding, x -> cast(floor(cast(x as double) * 65536.0D) as double))")
      .as("qv"))

  test("maxSimTopK equals the relational explode/aggregate replay") {
    val got = MaxSim.maxSimTopK(toks, toks.filter(col("id") % 20 === 0),
      "id", "pos", "embedding", k = 3)

    val q = quantToks.filter(col("id") % 20 === 0)
    val pm = q.alias("q")
      .join(quantToks.alias("d"), col("q.id") =!= col("d.id"))
      .select(col("q.id").as("query_id"), col("q.pos").as("qpos"),
        col("d.id").as("neighbor_id"),
        Vectors.dot(col("q.qv"), col("d.qv")).as("dp"))
      .groupBy("query_id", "qpos", "neighbor_id").agg(max("dp").as("m"))
    val sc = pm.groupBy("query_id", "neighbor_id")
      .agg(sum("m").cast("long").as("maxsim"))
    val expected = sc
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("maxsim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "rank", "neighbor_id", "maxsim")

    assert(got.count() > 0)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "native MaxSim diverged from the relational replay")
  }

  test("single-token documents reduce MaxSim to quantized-dot ranking") {
    val single = emb.select(col("vec_id").as("id"), lit(0L).as("pos"),
      col("embedding"))
    val got = MaxSim.maxSimTopK(single, single.filter(col("id") < 8),
      "id", "pos", "embedding", k = 3)

    val qv = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 65536.0D) as double))")
        .as("qv"))
    val expected = qv.filter(col("vec_id") < 8).alias("q")
      .join(qv.alias("d"), col("q.vec_id") =!= col("d.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("d.vec_id").as("neighbor_id"),
        Vectors.dot(col("q.qv"), col("d.qv")).cast("long").as("maxsim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("maxsim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "rank", "neighbor_id", "maxsim")

    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "single-token MaxSim diverged from dot-product brute force")
  }

  test("dimension-mismatched documents poison to null and never rank") {
    val docs = Seq(
      (1L, 0L, Array(1.0f, 0.0f)), (1L, 1L, Array(0.0f, 1.0f)),
      (2L, 0L, Array(0.5f, 0.5f)),
      (3L, 0L, Array(1.0f, 0.0f, 0.0f)) // wrong dim — must not rank
    ).toDF("id", "pos", "embedding")
    val qs = Seq((9L, 0L, Array(1.0f, 1.0f))).toDF("id", "pos", "embedding")
    val out = MaxSim.maxSimTopK(docs, qs, "id", "pos", "embedding", k = 10)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L), s"expected mismatched doc 3 dropped, got $out")
  }

  test("an empty query side yields an empty result") {
    val out = MaxSim.maxSimTopK(toks, toks.filter(col("id") < 0),
      "id", "pos", "embedding", k = 3)
    assert(out.isEmpty)
  }

  test("pooled two-stage at mShort >= corpus equals single-stage MaxSim") {
    // the rerank identity (the q_pq_ivf / q_sq_ivf device): a shortlist
    // covering every candidate makes the screen a no-op, so the exact
    // re-rank must reproduce maxSimTopK bit-for-bit
    val queries = toks.filter(col("id") % 20 === 0)
    val full = MaxSim.maxSimTopK(toks, queries, "id", "pos", "embedding", 3)
    val staged = MaxSim.maxSimTopKPooled(toks, queries, "id", "pos",
      "embedding", k = 3, mShort = 200)
    assert(staged.except(full).isEmpty && full.except(staged).isEmpty,
      "exhaustive-shortlist two-stage diverged from single-stage MaxSim")
  }

  test("pooled screen results are a subset of the shortlist's candidates") {
    val queries = toks.filter(col("id") % 20 === 0)
    val staged = MaxSim.maxSimTopKPooled(toks, queries, "id", "pos",
      "embedding", k = 3, mShort = 5)
    // k results per query, every one among that query's candidates by
    // construction; spot-check cardinality and self-exclusion
    val rows = staged.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)),
      "self-pair leaked through the pooled screen")
  }

  test("plan: three bounded exchanges, query side broadcast, fused scoring") {
    val df = MaxSim.maxSimTopK(toks, toks.filter(col("id") % 20 === 0),
      "id", "pos", "embedding", k = 3)
    // two gather aggregations (corpus + query) and the topKTail aggregate —
    // nothing else may shuffle; the query matrices move by broadcast only
    assert(countShufflesExec(df.queryExecution.executedPlan) == 3,
      planString(df))
    // materialize so AQE finalizes — the pre-execution adaptive plan
    // renders no whole-stage-codegen spans to assert on
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    // "*(N)" is toString's whole-stage-codegen span marker: the projection
    // carrying max_sim_score must sit INSIDE a fused span (a
    // CodegenFallback native would render an unstarred Project)
    assert(plan.linesIterator.exists(l =>
        l.contains("max_sim_score") && l.contains("*(")),
      s"MaxSim scoring projection not fused:\n${plan.take(2000)}")
  }

  test("two-stage decomposition law: maxSimTopKPooled ≡ " +
       "rerank(pooledTopK(mShort)) — the hybrid-stack legs compose back") {
    val queries = toks.filter(col("id") % 20 === 0)
    val fusedForm = MaxSim.maxSimTopKPooled(toks, queries, "id", "pos",
      "embedding", k = 3, mShort = 8)
    val candidates = MaxSim.pooledTopK(toks, queries, "id", "pos",
      "embedding", k = 8).select("query_id", "neighbor_id")
    val composed = MaxSim.rerank(candidates, toks, queries, "id", "pos",
      "embedding", k = 3)
    assert(composed.count() > 0)
    assert(composed.except(fusedForm).isEmpty &&
           fusedForm.except(composed).isEmpty,
      "pooledTopK → rerank diverged from the fused two-stage operator")
    // a candidate id with no token vectors silently drops at the re-rank
    // (the documented token-less contract) rather than scoring or failing
    val spiked = candidates.unionByName(
      spark.range(1).select(col("id").as("query_id"),
        lit(999999999L).as("neighbor_id")))
    val withGhost = MaxSim.rerank(spiked, toks, queries, "id", "pos",
      "embedding", k = 3)
    assert(withGhost.filter(col("neighbor_id") === 999999999L).isEmpty,
      "a token-less candidate must never score")
    // a pair proposed twice (two un-deduped fused lists) scores ONCE —
    // duplicates must not occupy two of the k ranks for one neighbor
    val doubled = MaxSim.rerank(candidates.unionByName(candidates),
      toks, queries, "id", "pos", "embedding", k = 3)
    assert(doubled.except(composed).isEmpty && composed.except(doubled).isEmpty,
      "duplicate candidate pairs changed the re-rank")
    // the candidate frame is consumed twice inside rerank (semi-join ids +
    // pair join) — pin the persist device, or the caller's whole
    // candidate-generation stack executes once per consumer
    val p = composed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("InMemoryTableScan"),
      s"rerank's candidate frame is not persisted:\n${p.take(2000)}")
  }

  test("persistent MaxSim index: probe at nprobe = nlist ≡ in-memory " +
       "two-stage, routing prunes partitions, stored scale wins") {
    val queries = toks.filter(col("id") % 20 === 0)
    withTempDir("msidx") { dir =>
      MaxSim.writeIndex(toks, "id", "pos", "embedding", dir, nlist = 8)
      val got = MaxSim.probeIndex(queries, "id", "pos", "embedding", dir,
        k = 3, nprobe = 8, mShort = 8)
      val want = MaxSim.maxSimTopKPooled(toks, queries, "id", "pos",
        "embedding", k = 3, mShort = 8)
      assert(got.count() > 0)
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        "stored-index probe diverged from the in-memory two-stage")
      // nprobe = 1 routing reaches the matrix scan as a PARTITION filter —
      // pruning at file-listing time, the layout's reason to exist
      val pruned = MaxSim.probeIndex(queries, "id", "pos", "embedding", dir,
        k = 3, nprobe = 1, mShort = 8)
      pruned.collect()
      val p = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
        s"expected a cell partition filter in:\n${p.take(3000)}")
      // the quantization scale is part of the MODEL: a probe against an
      // index built at a different scale must use the stored one, matching
      // the in-memory composition AT THAT SCALE (caller passes nothing)
      withTempDir("msidx2") { dir2 =>
        MaxSim.writeIndex(toks, "id", "pos", "embedding", dir2, nlist = 8,
          scale = 1024.0)
        val got2 = MaxSim.probeIndex(queries, "id", "pos", "embedding", dir2,
          k = 3, nprobe = 8, mShort = 8)
        val want2 = MaxSim.maxSimTopKPooled(toks, queries, "id", "pos",
          "embedding", k = 3, mShort = 8, scale = 1024.0)
        assert(got2.except(want2).isEmpty && want2.except(got2).isEmpty,
          "probe ignored the stored quantization scale")
      }
    }
  }

  test("a ragged (null-pool) document stays OUT of the stored layout " +
       "instead of poisoning the build") {
    import spark.implicits._
    // doc 999999 has token vectors of differing lengths → SumVecs pools
    // it to null; previously it could NPE the centroid pick (if its md5
    // sorted into the first nlist rows) or write an unreachable
    // __HIVE_DEFAULT_PARTITION__ matrix
    val ragged = Seq(
      (999999L, 0L, Array.fill(64)(0.5f)),
      (999999L, 1L, Array.fill(3)(0.5f))).toDF("id", "pos", "embedding")
    val spiked = toks.unionByName(ragged)
    withTempDir("msidx_null") { dir =>
      MaxSim.writeIndex(spiked, "id", "pos", "embedding", dir, nlist = 8)
      val stored = graft.streaming.Streams.readIndex(spark, s"$dir/mats")
      assert(stored.filter(col("id") === 999999L).isEmpty,
        "a null-pool document leaked into the stored layout")
      // the index over the clean subset still probes identically
      val queries = toks.filter(col("id") % 20 === 0)
      val got = MaxSim.probeIndex(queries, "id", "pos", "embedding", dir,
        k = 3, nprobe = 8, mShort = 8)
      val want = MaxSim.maxSimTopKPooled(toks, queries, "id", "pos",
        "embedding", k = 3, mShort = 8)
      assert(got.except(want).isEmpty && want.except(got).isEmpty)
      // delta maintenance filters the same way — the layout rule is shared
      val maintained = MaxSim.indexMatsDelta(ragged, "id", "pos", "embedding",
        dir, spark.emptyDataFrame.withColumn("id", lit(0L)).limit(0))
      assert(maintained.filter(col("id") === 999999L).isEmpty,
        "a null-pool admitted doc leaked through maintenance")
    }
  }

  test("MaxSim maintain LOOP: two delta generations through swapWrite ≡ " +
       "one combined generation over a pristine copy (the streaming " +
       "composition law at matrix granularity)") {
    import spark.implicits._
    val stored = toks.filter(col("id") % 4 === 0)
    val a1 = toks.filter(col("id") % 4 === 1)
    val r1 = stored.filter(col("id") % 3 === 0).select(col("id")).distinct()
    val a2 = toks.filter(col("id") % 4 === 2)
    val r2 = toks.filter(col("id") % 4 === 1 && col("id") % 5 === 0)
      .select(col("id")).distinct()
    // two identical deterministic builds — one walks the loop, one takes
    // the combined single generation
    withTempDir("msidx_loopA") { dirA =>
      withTempDir("msidx_loopB") { dirB =>
        Seq(dirA, dirB).foreach(d =>
          MaxSim.writeIndex(stored, "id", "pos", "embedding", d, nlist = 8))
        // loop: gen 1 then gen 2, each swap-written over the live layout
        graft.operators.Sinks.swapWrite(
          MaxSim.indexMatsDelta(a1, "id", "pos", "embedding", dirA, r1),
          s"$dirA/mats", Seq("cell"))
        graft.operators.Sinks.swapWrite(
          MaxSim.indexMatsDelta(a2, "id", "pos", "embedding", dirA, r2),
          s"$dirA/mats", Seq("cell"))
        // combined: one call with retired = r1 ∪ r2, admitted = (a1 − r2) ∪ a2
        graft.operators.Sinks.swapWrite(
          MaxSim.indexMatsDelta(
            a1.join(r2, Seq("id"), "left_anti").unionByName(a2),
            "id", "pos", "embedding", dirB, r1.unionByName(r2)),
          s"$dirB/mats", Seq("cell"))
        def rows(d: String) =
          graft.streaming.Streams.readIndex(spark, s"$d/mats")
          .select(col("id"), col("cell").cast("string"), col("mat"), col("pool"))
          .as[(Long, String, Seq[Seq[Double]], Seq[Double])].collect().toSet
        val (loop, combined) = (rows(dirA), rows(dirB))
        assert(loop == combined && loop.nonEmpty)
      }
    }
  }

  test("MaxSim index maintenance: retired ids leave, admitted ids route " +
       "under the frozen model, kept rows are byte-stable") {
    import spark.implicits._
    withTempDir("msidx_d") { dir =>
      MaxSim.writeIndex(toks.filter(col("id") % 10 =!= 0), "id", "pos",
        "embedding", dir, nlist = 8)
      val admitted = toks.filter(col("id") % 10 === 0)
      val retired = toks.filter(col("id") % 13 === 0).select(col("id"))
      val maintained = MaxSim.indexMatsDelta(admitted, "id", "pos",
        "embedding", dir, retired).cache()
      val ids = maintained.select("id").as[Long].collect().toSet
      val allIds = toks.select("id").distinct().as[Long].collect().toSet
      // retire applies to STORED rows only: an id in both sets (0, 130, …)
      // is REPLACED by its admitted tokens, not dropped
      assert(ids == allIds.filter(i => i % 13 != 0 || i % 10 == 0),
        "maintained membership is not (indexed − retired) ∪ admitted")
      // admitted rows route onto STORED cells only (frozen model: no new
      // centroids appear at maintenance time)
      val centIds = graft.streaming.Streams.readIndex(spark, s"$dir/coarse")
        .select("cent_id").as[String].collect().toSet
      val freshCells = maintained.filter(col("id") % 10 === 0)
        .select("cell").as[String].collect().toSet
      assert(freshCells.nonEmpty && freshCells.subsetOf(centIds),
        s"admitted rows routed off-model: ${freshCells -- centIds}")
      // kept rows pass through byte-identical to the stored layout
      val storedKept = graft.streaming.Streams.readIndex(spark, s"$dir/mats")
        .filter(col("id") % 13 =!= 0).select("id", "cell", "mat", "pool")
      val keptOut = maintained.filter(col("id") % 10 =!= 0)
        .select("id", "cell", "mat", "pool")
      assert(keptOut.except(storedKept).isEmpty &&
             storedKept.except(keptOut).isEmpty,
        "kept rows were rewritten during maintenance")
    }
  }
}
