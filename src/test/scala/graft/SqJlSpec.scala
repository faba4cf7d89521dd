package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Ann, Jl, Pca, Sq}
import graft.sources.Tables

/** G52 scalar quantization + G53 JL projection — invariants beyond the
  * oracle: code-range and reconstruction-error bounds, frozen-scale
  * saturation, the construction identity jlTopK ≡ brute-over-projected,
  * neighborhood retention floors, and the zero-shuffle/broadcast plan
  * shapes.
  */
class SqJlSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val scales = Sq.trainScales(emb, "embedding", dim = 64)

  // planString / countShufflesExec come from SparkSpec (shared, one home)

  test("SQ codes are byte-range and the model is 2·dim longs") {
    assert(scales.dim == 64 && scales.width.forall(_ >= 0L))
    val codes = Sq.encode(emb, "vec_id", "embedding", scales)
    val stats = codes.select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c")).head()
    assert(stats.getInt(0) >= 0 && stats.getInt(1) <= 255)
  }

  test("SQ reconstruction error is bounded by one code step per dimension") {
    // recon_i differs from the quantized value by at most width_i/255 + 1
    // quantized units (one code cell plus the two truncating divisions),
    // so each vector's distance to its OWN code is within the summed bound
    import org.apache.spark.sql.graftglue.{ColumnBridge, SqAdcDist}
    val bound = scales.width.map(w => { val s = w / 255L + 2L; s * s }).sum
    val self = Sq.encode(emb, "vec_id", "embedding", scales)
      .join(emb.select(col("vec_id").as("id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 65536.0D) as double))")
          .as("__qv")), Seq("id"))
      .select(ColumnBridge.column(SqAdcDist(
        ColumnBridge.expression(col("__qv")),
        ColumnBridge.expression(col("codes")),
        scales.lo, scales.width)).as("d"))
    assert(self.agg(max("d")).head().getLong(0) <= bound,
      s"self-distance exceeded the per-dim code-step bound $bound")
  }

  test("frozen-scale delta encode saturates out-of-range values, never nulls") {
    import spark.implicits._
    // scales trained on the corpus; a delta vector far outside the range
    // must clamp to code 0/255 (the SQ saturation contract)
    val far = Seq((999L, Array.fill(64)(100.0f)), (998L, Array.fill(64)(-100.0f)))
      .toDF("vec_id", "embedding")
    val codes = Sq.encode(far, "vec_id", "embedding", scales).collect()
    val hi = codes.find(_.getLong(0) == 999L).get.getSeq[Int](1)
    val lo = codes.find(_.getLong(0) == 998L).get.getSeq[Int](1)
    assert(hi.forall(_ == 255) && lo.forall(_ == 0))
  }

  test("SQ dimension mismatch nulls codes instead of corrupting distances") {
    import spark.implicits._
    val bad = Seq((1L, Array.fill(32)(0.1f))).toDF("vec_id", "embedding")
    assert(Sq.encode(bad, "vec_id", "embedding", scales)
      .filter(col("codes").isNull).count() == 1)
  }

  test("SQ nulls NaN/Infinity vectors instead of encoding them as codes for 0") {
    import spark.implicits._
    // NaN.toLong is 0 — without the guard a NaN dimension would encode as
    // the mid-range code for value 0 and rank as a plausible neighbor
    val weird = Seq(
      (1L, Array.tabulate(64)(i => if (i == 7) Float.NaN else 0.1f)),
      (2L, Array.tabulate(64)(i => if (i == 7) Float.PositiveInfinity else 0.1f)),
      (3L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val codes = Sq.encode(weird, "vec_id", "embedding", scales)
    assert(codes.filter(col("codes").isNull).count() == 2)
    assert(codes.filter(col("id") === 3L && col("codes").isNotNull).count() == 1)
    // the query side of the distance has the same contract
    val d = Sq.sqTopK(weird.filter(col("vec_id") === 1L),
      emb, "vec_id", "embedding", scales, topK = 3)
    assert(d.count() == 0, "a NaN query must rank no neighbors")
  }

  test("SQ top-k tracks the exact-L2 order closely at byte precision") {
    import graft.functions.Vectors
    val queries = emb.filter(col("vec_id") < 8)
    val approx = Sq.sqTopK(queries, emb, "vec_id", "embedding", scales, topK = 3)
    // exact-L2 truth via the same topKTail conventions
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Vectors.fdot(col("qv"), col("qv")) + Vectors.fdot(col("cv"), col("cv"))
          - lit(2.0) * Vectors.fdot(col("qv"), col("cv"))).as("d2"))
    val truth = Ann.topKTail(scored, 3, scoreCol = "d2", ascending = true)
    val hits = approx.join(truth, Seq("query_id", "neighbor_id")).count()
    assert(hits >= 20, s"recall@3 over 8 queries too low: $hits/24")
  }

  test("SQ results are partition-order independent") {
    val queries = emb.filter(col("vec_id") < 8)
    val a = Sq.sqTopK(queries, emb, "vec_id", "embedding", scales, topK = 3)
    val b = Sq.sqTopK(queries.repartition(7), emb.repartition(5),
      "vec_id", "embedding", scales, topK = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("SQ plan: encode is a zero-shuffle projection; scoring broadcasts " +
       "the query side with a single aggregate exchange") {
    val codes = Sq.encode(emb, "vec_id", "embedding", scales)
    codes.count()
    assert(countShufflesExec(codes.queryExecution.executedPlan) == 0,
      planString(codes))
    val p = planString(
      Sq.sqTopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
        scales, topK = 3))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert("- Exchange \\(\\d+\\)".r.findAllIn(p).size == 1, p)
  }

  test("exhaustive IVF-SQ reproduces sqTopK exactly; probed results stay " +
       "score-consistent") {
    val queries = emb.filter(col("vec_id") < 8)
    val full = Sq.sqTopK(queries, emb, "vec_id", "embedding", scales, topK = 3)
    val ivf = Sq.ivfSqTopK(queries, emb, "vec_id", "embedding", scales,
      topK = 3, nlist = 8, nprobe = 8)
    assert(full.exceptAll(ivf).isEmpty && ivf.exceptAll(full).isEmpty)
    // nprobe < nlist: a top-k over fewer candidates — every returned score
    // must match the full scoring of that same pair (routing changes WHICH
    // pairs are scored, never the score), so the probed result joined to
    // the exhaustive per-pair scores on (query, neighbor) agrees on sq2
    val probed = Sq.ivfSqTopK(queries, emb, "vec_id", "embedding", scales,
      topK = 3, nlist = 8, nprobe = 2)
    val allPairs = Sq.sqTopK(queries, emb, "vec_id", "embedding", scales,
      topK = Int.MaxValue / 2)
    assert(probed.count() > 0)
    assert(probed.join(allPairs.withColumnRenamed("sq2", "full_sq2"),
        Seq("query_id", "neighbor_id"))
      .filter(col("sq2") =!= col("full_sq2")).isEmpty)
    // plan: broadcast join on the cell id, single aggregate exchange
    val p = planString(probed)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("- Exchange \\(\\d+\\)".r.findAllIn(p).size == 1, p)
  }

  test("SQ shortlist + exact rerank: pairs come from the shortlist, order " +
       "is exact-L2 within it") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 8)
    val short = Sq.sqTopK(queries, emb, "vec_id", "embedding", scales, topK = 8)
    val rr = graft.similarity.Pq.rerank(short, queries, emb,
      "vec_id", "embedding", topK = 3)
    val shortPairs = short.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val rows = rr.select("query_id", "rank", "neighbor_id", "d2")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty && rows.forall { case (q, _, n, _) => shortPairs((q, n)) })
    // within each query, rank order must agree with d2 order (exact-L2
    // settles the byte-code shortlist)
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.sameElements(byRank.sorted))
    }
  }

  test("persistent IVF-SQ index: probe ≡ in-memory sqTopK, routing prunes " +
       "partitions, delta-maintained ≡ re-encoded under the frozen model") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 4)
    withTempDir("sqidx") { dir =>
      Sq.writeIndex(emb, "vec_id", "embedding", dim = 64, dir = dir, nlist = 8)
      // probe at nprobe = nlist ≡ the exhaustive in-memory scan (training
      // is one deterministic aggregate, so retrained scales = stored)
      val got = Sq.probeIndex(queries, "vec_id", "embedding", dir,
          topK = 3, nprobe = 8)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      val want = Sq.sqTopK(queries, emb, "vec_id", "embedding", scales, topK = 3)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == want && got.nonEmpty)
      // nprobe = 1 routing reaches the scan as a PARTITION filter
      val pruned = Sq.probeIndex(queries, "vec_id", "embedding", dir,
        topK = 3, nprobe = 1)
      pruned.collect()
      val p = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
        s"expected a cell partition filter in:\n${p.take(3000)}")
      // maintenance identity: retire + admit under the stored model ≡
      // re-encoding the maintained membership from scratch (same scales,
      // same cells); admitted rows saturate under the frozen scales
      val admitted = Seq((9001L, Array.fill(64)(50.0f))).toDF("vec_id", "embedding")
      val retired = Seq(3L, 4L).toDF("id")
      val maintained = Sq.indexCodesDelta(admitted, "vec_id", "embedding",
          dir, retired)
        .as[(Long, String, Seq[Int])].collect().toSet
      // rebuild routes with the STORED (trained — the r12 default) cells:
      // the identity is maintenance under the frozen model
      val cents = graft.streaming.Streams.readIndex(spark, s"$dir/coarse")
        .as[(String, Seq[Float])].collect().toSeq.sortBy(_._1)
      val membership = emb.select(col("vec_id"), col("embedding"))
        .filter(!col("vec_id").isin(3L, 4L)).unionByName(admitted)
      val celled = membership.select(col("vec_id"), col("embedding"),
        Ann.nearestCell(cents, col("embedding")).as("cell"))
      val rebuilt = Sq.encode(celled, "vec_id", "embedding", scales,
          carry = Seq("cell"))
        .as[(Long, String, Seq[Int])].collect().toSet
      assert(maintained == rebuilt)
      assert(maintained.exists { case (id, _, codes) =>
        id == 9001L && codes.forall(_ == 255) }) // saturation, not error
    }
  }

  test("Sq maintain LOOP: two delta generations through swapWrite over the " +
       "live layout ≡ one re-encode of the final membership (the streaming " +
       "maintain composition at batch granularity)") {
    import spark.implicits._
    withTempDir("sqidx_loop") { dir =>
      val stored = emb.filter(col("vec_id") % 4 === 0)
      Sq.writeIndex(stored, "vec_id", "embedding", dim = 64, dir = dir, nlist = 8)
      // generation 1: admit the %4==1 slice, retire stored %3==0 ids
      val a1 = emb.filter(col("vec_id") % 4 === 1)
      val r1 = stored.filter(col("vec_id") % 3 === 0).select(col("vec_id").as("id"))
      graft.operators.Sinks.swapWrite(
        Sq.indexCodesDelta(a1, "vec_id", "embedding", dir, r1),
        s"$dir/codes", Seq("cell"))
      // generation 2: admit the %4==2 slice, retire some of gen-1's admits
      val a2 = emb.filter(col("vec_id") % 4 === 2)
      val r2 = emb.filter(col("vec_id") % 4 === 1 && col("vec_id") % 5 === 0)
        .select(col("vec_id").as("id"))
      graft.operators.Sinks.swapWrite(
        Sq.indexCodesDelta(a2, "vec_id", "embedding", dir, r2),
        s"$dir/codes", Seq("cell"))
      val maintained = graft.streaming.Streams.readIndex(spark, s"$dir/codes")
        .select(col("id"), col("cell").cast("string"), col("codes"))
        .as[(Long, String, Seq[Int])].collect().toSet
      // one re-encode of the FINAL membership under the same frozen model
      val membership = emb.select(col("vec_id"), col("embedding")).filter(
        (col("vec_id") % 4 === 0 && col("vec_id") % 3 =!= 0) ||
        (col("vec_id") % 4 === 1 && col("vec_id") % 5 =!= 0) ||
        (col("vec_id") % 4 === 2))
      val cents = graft.streaming.Streams.readIndex(spark, s"$dir/coarse")
        .as[(String, Seq[Float])].collect().toSeq.sortBy(_._1)
      val celled = membership.select(col("vec_id"), col("embedding"),
        Ann.nearestCell(cents, col("embedding")).as("cell"))
      // scales come from the STORED model (trained on the %4==0 generation,
      // NOT the suite's full-corpus fixture) — the frozen-model contract
      val srows = graft.streaming.Streams.readIndex(spark, s"$dir/scales")
        .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
      val storedScales = Sq.Scales(srows.map(_._2), srows.map(_._3), srows.head._4)
      val rebuilt = Sq.encode(celled, "vec_id", "embedding", storedScales,
          carry = Seq("cell"))
        .as[(Long, String, Seq[Int])].collect().toSet
      assert(maintained == rebuilt && maintained.nonEmpty)
    }
  }

  test("JL sign matrix is reproducible, ±1, and roughly balanced") {
    val a = Jl.signMatrix(16, 64)
    val b = Jl.signMatrix(16, 64)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    val flat = a.flatten
    assert(flat.forall(v => v == 1.0 || v == -1.0))
    val plus = flat.count(_ == 1.0).toDouble / flat.length
    assert(plus > 0.4 && plus < 0.6, s"sign balance $plus")
    // a different seed yields a different matrix
    assert(!Jl.signMatrix(16, 64, seed = 7).flatten.sameElements(flat))
  }

  test("JL projection emits outDim floats and rides other columns through") {
    val p = Jl.project(emb, "embedding", dim = 64, outDim = 16)
    assert(p.columns.sameElements(emb.columns))
    assert(p.select(size(col("embedding"))).distinct().head().getInt(0) == 16)
  }

  test("jlTopK is exactly brute force over the projected frames") {
    val r = Jl.signMatrix(16, 64)
    val viaOp = Jl.jlTopK(emb.filter(col("vec_id") < 8), emb,
      "vec_id", "embedding", dim = 64, outDim = 16, k = 3)
    val byHand = Ann.bruteForceTopK(
      Pca.rotateAll(emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")), "embedding", r),
      Pca.rotateAll(emb.select(col("vec_id"), col("embedding")), "embedding", r),
      "vec_id", "embedding", 3)
    assert(viaOp.exceptAll(byHand).isEmpty && byHand.exceptAll(viaOp).isEmpty)
  }

  test("JL satisfies the distance-preservation lemma on every sampled pair") {
    // the actual JL guarantee is DISTORTION, not rank preservation (these
    // synthetic embeddings are near-isotropic noise, so top-3 ranks hang
    // on cosine gaps far below the outDim=16 distortion — recall against
    // the full-space truth is chance-level BY THE GEOMETRY, and recall is
    // measured, not asserted, in plans/ANN.md): for a ±1 sign matrix
    // E[|y|²] = outDim·|x|², so the per-pair ratio
    // |Δy|² / (outDim·|Δx|²) concentrates around 1 at ~sqrt(2/outDim)
    val outDim = 16
    val rows = Jl.project(emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")), "embedding", 64, outDim)
      .join(emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding").as("orig")), Seq("vec_id"))
      .collect()
      .map(r => (r.getSeq[Float](1).toArray, r.getSeq[Float](2).toArray))
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val ratios = for {
      i <- rows.indices; j <- rows.indices if i < j
    } yield d2(rows(i)._1, rows(j)._1) / (outDim * d2(rows(i)._2, rows(j)._2))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.4, s"mean distortion ratio $mean")
    assert(ratios.forall(r => r > 0.05 && r < 5.0),
      s"pair distortion outside [0.05, 5]: min=${ratios.min} max=${ratios.max}")
  }
}
