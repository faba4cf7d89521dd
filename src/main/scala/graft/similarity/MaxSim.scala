package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Late-interaction retrieval — MaxSim over multi-vector documents
  * (Khattab & Zaharia, "ColBERT: Efficient and Effective Passage Search
  * via Contextualized Late Interaction over BERT", SIGIR 2020; SURVEY
  * §2.G59).
  *
  * Single-vector retrieval ([[Ann]]/[[Pq]]/[[Sq]]) collapses a document
  * to one embedding before any query arrives; late interaction keeps one
  * vector PER TOKEN (or chunk) and scores a (query, document) pair as
  * Σ_{query token} max_{doc token} ⟨q, d⟩ — the query token "soft-matches"
  * its best document token, which is what makes ColBERT-family retrievers
  * outrank single-vector ones on precision-sensitive workloads. This is
  * the fourth leg of the retrieval surface: lexical ([[Search.bm25TopK]]),
  * dense single-vector (the ANN families), rank fusion
  * ([[Search.rrfFuse]]), and now multi-vector late interaction.
  *
  * Spark shape: both sides gather their token vectors into ONE
  * matrix row per document (`sort_array(collect_list(struct(pos, vec)))`
  * — for the corpus this is the operator's single corpus-sized exchange,
  * a hash shuffle of QUANTIZED fixed-width vectors; a corpus STORED in
  * the gathered layout — the ColBERT index layout, one matrix column per
  * doc — skips it entirely, the [[Pq.writeIndex]] lesson applied to
  * matrices). The query side broadcasts (|Q| · tokens · dim — queries
  * are short), the cross join stays at DOCUMENT granularity, and the
  * whole token×token interaction for a pair runs inside ONE fused native
  * ([[org.apache.spark.sql.graftglue.MaxSimScore]]) — the relational
  * spelling would explode |corpus tokens| × |query tokens| rows through
  * a shuffle, and the nested-HOF spelling is CodegenFallback and would
  * de-fuse the scoring projection. Ranking is the bounded
  * [[Ann.topKTail]] heap aggregate (no sort, k-sized state).
  *
  * At 100 TB: the corpus never shuffles after (or without) the gather,
  * nothing all-pairs is unguarded — the score scan is |docs| × |Q| like
  * [[Ann.bruteForceTopK]], and when |Q| outgrows the broadcast budget
  * the composition is the standard ColBERT two-stage: per-query-token
  * candidate generation against a stored single-vector index
  * ([[Pq.probeIndex]] over the token vectors) to a shortlist, then this
  * exact MaxSim as the re-rank over shortlist-sized pairs (the
  * [[Pq.rerank]] device at matrix granularity).
  *
  * Determinism: token vectors quantize to integral doubles
  * (floor(x·scale), the [[Clustering]] contract), so every dot, max, and
  * sum inside the native is EXACT integer arithmetic below 2^53 and the
  * emitted BIGINT score hash-matches a SQL replay bit-for-bit — stronger
  * than the cosine families' order-only parity. Self-pairs (same id on
  * both sides) are excluded, mirroring [[Ann.bruteForceTopK]]; disjoint
  * id spaces are unaffected.
  */
object MaxSim {

  /** The exact MaxSim interaction score as a BIGINT column — ONE
    * definition shared by every scoring site (single-stage, two-stage
    * re-rank, stored-index re-rank, candidate [[rerank]]): the family's
    * bit-parity claims hang on all paths sharing one spelling (the
    * [[Search]] bm25Tail principle) — a forked copy drifting in cast or
    * tie-break would silently desync one query's oracle from its
    * siblings'.
    */
  private def maxSimCol(qmat: Column, dmat: Column): Column = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, MaxSimScore}
    ColumnBridge.column(MaxSimScore(ColumnBridge.expression(qmat),
      ColumnBridge.expression(dmat))).cast(LongType)
  }

  /** SUM-pooling of a token matrix (exact integral-double sums). */
  private def pooledCol(m: Column): Column = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, SumVecs}
    ColumnBridge.column(SumVecs(ColumnBridge.expression(m)))
  }

  /** The exact pooled dot as a BIGINT column — the screen's score. */
  private def pooledDotCol(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, DoubleVectorDot}
    ColumnBridge.column(DoubleVectorDot(ColumnBridge.expression(a),
      ColumnBridge.expression(b))).cast(LongType)
  }

  /** Gather (id, pos, vec) rows into one quantized token-matrix row per
    * id: (outId, __mat: array<array<double>>), matrix rows in `pos`
    * order. Exposed for callers that persist the gathered layout.
    */
  def gatherMatrix(vecs: DataFrame, idCol: String, posCol: String,
                   vecCol: String, outId: String, matCol: String,
                   scale: Double = 65536.0): DataFrame =
    vecs.select(col(idCol).as(outId), col(posCol).as("__pos"),
        Clustering.quantize(col(vecCol), scale).as("__qv"))
      .groupBy(outId)
      .agg(sort_array(collect_list(struct(col("__pos"), col("__qv"))))
        .as("__toks"))
      .select(col(outId), transform(col("__toks"), t => t.getField("__qv"))
        .as(matCol))

  /** Top-k documents per query under the MaxSim late-interaction score.
    *
    * Inputs are token-vector frames (`idCol`, `posCol`, `vecCol`:
    * array<float>) for the corpus and the query set; both sides quantize
    * with the same `scale`. Output: (query_id, rank, neighbor_id,
    * maxsim BIGINT) with the (maxsim DESC, neighbor_id ASC) total order.
    * Token-less ids never score (no rows after the gather); rows whose
    * ids collide across sides are excluded as self-pairs.
    */
  def maxSimTopK(docVecs: DataFrame, queryVecs: DataFrame,
                 idCol: String, posCol: String, vecCol: String, k: Int,
                 scale: Double = 65536.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val d = gatherMatrix(docVecs, idCol, posCol, vecCol,
      "neighbor_id", "__dmat", scale)
    val q = gatherMatrix(queryVecs, idCol, posCol, vecCol,
      "query_id", "__qmat", scale)
    val scored = d.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        maxSimCol(col("__qmat"), col("__dmat")).as("maxsim"))
    Ann.topKTail(scored, k, scoreCol = "maxsim")
  }

  /** Two-stage late interaction — the production ColBERT shape: SUM-pooled
    * single vectors screen candidates (dot(Σqᵢ, Σdⱼ) = ΣᵢΣⱼ⟨qᵢ,dⱼ⟩ — one
    * dim-cost dot per pair instead of the tokens²·dim exact interaction),
    * the `mShort` best candidates per query re-rank by exact
    * [[maxSimTopK]] MaxSim. The screening stage is where a stored
    * single-vector ANN index over the pooled vectors slots in at corpus
    * scale ([[Pq.writeIndex]]); here the screen is the brute pooled pass,
    * so the whole composition stays oracled: pooling, both scores, and
    * both rank cuts are exact integer arithmetic on the quantized
    * vectors, replayed bit-for-bit in SQL.
    *
    * The exact-MaxSim pass touches only `mShort` (query, doc) pairs per
    * query — the [[Pq.rerank]] recall lever at matrix granularity: the
    * matrices of non-shortlisted documents are never interacted with.
    *
    * Output: (query_id, rank, neighbor_id, maxsim BIGINT), rank ≤ k.
    */
  def maxSimTopKPooled(docVecs: DataFrame, queryVecs: DataFrame,
                       idCol: String, posCol: String, vecCol: String,
                       k: Int, mShort: Int,
                       scale: Double = 65536.0): DataFrame = {
    import graft.Caching.TrackedSyntax
    require(k > 0, s"k must be positive, got $k")
    require(mShort >= k, s"shortlist mShort=$mShort must be >= k=$k")
    // gathered once, read twice (pooled screen + shortlist re-rank) — the
    // tfIdfKeywords persist device, else Catalyst re-runs the corpus
    // gather aggregate for the second consumer
    val d = gatherMatrix(docVecs, idCol, posCol, vecCol,
      "neighbor_id", "__dmat", scale)
      .withColumn("__dpool", pooledCol(col("__dmat")))
      .trackedPersist()
    val q = gatherMatrix(queryVecs, idCol, posCol, vecCol,
      "query_id", "__qmat", scale)
      .withColumn("__qpool", pooledCol(col("__qmat")))
    // stage 1: pooled screen — matrices stay OUT of the scored rows
    val screened = d.select(col("neighbor_id"), col("__dpool"))
      .crossJoin(broadcast(q.select(col("query_id"), col("__qpool"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pooledDotCol(col("__qpool"), col("__dpool")).as("pooled"))
    val shortlist = Ann.topKTail(screened, mShort, scoreCol = "pooled")
      .select("query_id", "neighbor_id")
    // stage 2: exact MaxSim over shortlist-sized pairs only
    val rescored = shortlist
      .join(d.select(col("neighbor_id"), col("__dmat")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("__qmat"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        maxSimCol(col("__qmat"), col("__dmat")).as("maxsim"))
    Ann.topKTail(rescored, k, scoreCol = "maxsim")
  }

  /** SUM-pooled late-interaction retrieval — [[maxSimTopKPooled]]'s screen
    * stage as a first-class retriever: one pooled vector per document
    * (dot(Σqᵢ, Σdⱼ) = ΣᵢΣⱼ⟨q,d⟩ — every token pair contributes once, at
    * dim-cost per pair), top-k by exact BIGINT pooled dot. The coarse leg
    * of a hybrid stack: fuse with lexical ranking ([[Search.rrfFuse]])
    * and settle the fused candidates with [[rerank]]. Output: (query_id,
    * rank, neighbor_id, pooled BIGINT), self-pairs excluded.
    */
  def pooledTopK(docVecs: DataFrame, queryVecs: DataFrame, idCol: String,
                 posCol: String, vecCol: String, k: Int,
                 scale: Double = 65536.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val d = gatherMatrix(docVecs, idCol, posCol, vecCol,
        "neighbor_id", "__dmat", scale)
      .select(col("neighbor_id"), pooledCol(col("__dmat")).as("__dpool"))
    val q = gatherMatrix(queryVecs, idCol, posCol, vecCol,
        "query_id", "__qmat", scale)
      .select(col("query_id"), pooledCol(col("__qmat")).as("__qpool"))
    val scored = d.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pooledDotCol(col("__qpool"), col("__dpool")).as("pooled"))
    Ann.topKTail(scored, k, scoreCol = "pooled")
  }

  /** Vote-based candidate cut for the stored-candidates composition
    * (q_maxsim_ann_candidates — its DuckDB oracle replays this exact
    * arithmetic, so the recipe must live in ONE place). `docHits` is a
    * (query_id, neighbor_id) frame at DOCUMENT granularity — one row per
    * retained token hit, repeats counting as votes; self-pairs drop and
    * the `topN` most-voted docs per query survive (ties → lower doc id).
    * Hit-set-sized at every corpus size; the per-query window sees
    * ≤ |hits| rows.
    */
  def voteCandidates(docHits: DataFrame, topN: Int): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    import org.apache.spark.sql.expressions.Window
    docHits.select(col("query_id"), col("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id").agg(count(lit(1)).as("__v"))
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__v").desc, col("neighbor_id").asc)))
      .filter(col("__rnk") <= topN).select("query_id", "neighbor_id")
  }

  /** Exact-MaxSim re-rank of a (query_id, neighbor_id) candidate frame —
    * the [[Pq.rerank]] recall lever at matrix granularity, exposed for
    * compositions whose candidates come from elsewhere (RRF hybrid
    * fusion, a stored single-vector index, [[pooledTopK]]). The corpus
    * side SEMI-JOINS to the candidate ids BEFORE the gather, so only
    * shortlisted documents' tokens ever aggregate — candidate-sized work
    * at any corpus size. Candidates without token vectors never score
    * (no rows after the gather — the [[maxSimTopK]] token-less contract);
    * id-colliding pairs are excluded as self-pairs. Output: (query_id,
    * rank, neighbor_id, maxsim BIGINT), rank ≤ k per query.
    */
  def rerank(candidates: DataFrame, docVecs: DataFrame,
             queryVecs: DataFrame, idCol: String, posCol: String,
             vecCol: String, k: Int, scale: Double = 65536.0): DataFrame = {
    import graft.Caching.TrackedSyntax
    require(k > 0, s"k must be positive, got $k")
    // the candidate frame is consumed twice (the semi-join's id set + the
    // pair join) and is candidate-sized by contract — persist it, or
    // Catalyst re-computes the caller's ENTIRE candidate-generation stack
    // (a fused hybrid retrieval, a stored-index probe) once per consumer.
    // distinct(): a pair listed twice (two fused lists both proposing it
    // un-deduped) must score ONCE — duplicate scored rows would occupy
    // two of the k ranks for one neighbor
    val cand = candidates.select("query_id", "neighbor_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .distinct()
      .trackedPersist()
    val candToks = docVecs.join(
      broadcast(cand.select(col("neighbor_id").as(idCol)).distinct()),
      Seq(idCol), "left_semi")
    val d = gatherMatrix(candToks, idCol, posCol, vecCol,
      "neighbor_id", "__dmat", scale)
    val q = gatherMatrix(queryVecs, idCol, posCol, vecCol,
      "query_id", "__qmat", scale)
    val rescored = d.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        maxSimCol(col("__qmat"), col("__dmat")).as("maxsim"))
    Ann.topKTail(rescored, k, scoreCol = "maxsim")
  }

  /** The cell-routing expression over DOUBLE pooled vectors — the
    * [[org.apache.spark.sql.graftglue.ProbeCells]] reference-object form
    * ([[Ann]]'s device) at double width: pooled sums of quantized token
    * components outgrow a float mantissa long before they threaten 2^53,
    * so the centroid matrix stays in the exact-integer regime end to end.
    */
  private def probeCellsD(cents: Seq[(String, Array[Double])], vec: Column,
                          nprobe: Int): Column = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, ProbeCells}
    ColumnBridge.column(ProbeCells(ColumnBridge.expression(vec),
      cents.map(_._1).toArray, cents.map(_._2).toArray, nprobe))
  }

  /** Write a persistent late-interaction index under `dir` — the gathered
    * ColBERT layout (one token matrix per document) with pooled-vector
    * cell routing:
    *
    *   - `model/meta`   — (nlist, scale): the frozen build parameters.
    *     `scale` is PART OF THE MODEL (the r9 [[Pq.writeIndex]] rotation
    *     lesson): matrices quantized at one scale are meaningless for a
    *     probe quantizing at another, so [[probeIndex]] and
    *     [[indexMatsDelta]] read it back rather than trusting the caller
    *     to repeat it.
    *   - `model/coarse` — (cent_id, cent_vec: array<double>): `nlist`
    *     SUM-pooled document vectors picked by md5-order of the doc id
    *     (the [[Ann.coarseCentroids]] contract), driver-collected by
    *     design — config-table sized.
    *   - `mats`         — (id, mat, pool) parquet PARTITIONED BY `cell`.
    *
    * The cell partitioning turns a probe's routing into directory-level
    * partition pruning exactly as [[Pq.writeIndex]] does for codes: a
    * query batch lists and reads ~nprobe/nlist of the matrix files before
    * a byte of interaction work. Pooled vectors are stored alongside the
    * matrices so the screen stage never re-pools the corpus, and the
    * corpus-sized gather exchange is paid ONCE at build time — every
    * probe afterwards starts from the gathered layout (the scaladoc
    * promise at the top of this file made real).
    *
    * `trained = true` (k-means coarse quantizer over the pooled vectors,
    * [[Ann.trainedCentroids]]'s trainer) is the DEFAULT (r12): on real
    * (clustered) embedding distributions the md5-order document pick
    * leaves hot cells that defeat partition pruning — measured in
    * plans/ANN.md r11, and a default IS the product at 100× scale.
    * `trained = false` remains for zero-training builds and cell ids an
    * external SQL replay can re-derive; probes and deltas read whichever
    * centroids the model stores, so the flag is build-time only.
    */
  def writeIndex(docVecs: DataFrame, idCol: String, posCol: String,
                 vecCol: String, dir: String, nlist: Int = 8,
                 scale: Double = 65536.0, trained: Boolean = true): Unit = {
    import graft.Caching.TrackedSyntax
    val spark = docVecs.sparkSession
    import spark.implicits._
    // gathered once, consumed twice (centroid pick + partitioned write).
    // a null pool (ragged/null token vector — the SumVecs poison device)
    // can never screen or score; filtering it OUT of the layout preserves
    // the "null poisons the row, never ranked" contract where keeping it
    // would NPE the centroid pick or write an unreachable
    // __HIVE_DEFAULT_PARTITION__ matrix
    val d = gatherMatrix(docVecs, idCol, posCol, vecCol, "id", "mat", scale)
      .withColumn("pool", pooledCol(col("mat")))
      .filter(col("pool").isNotNull)
      .trackedPersist()
    def picked(n: Int): IndexedSeq[(String, Array[Double])] = {
      val centRows = d
        .select(md5(col("id").cast(StringType)).as("cent_id"), col("pool"))
        .orderBy("cent_id").limit(n).collect()
      require(centRows.nonEmpty, "empty corpus")
      centRows.toIndexedSeq
        .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
    }
    // trained = true: k-means the POOLED vectors ([[Ann.trainedCentroids]]'s
    // rationale — balanced cells under real, clustered distributions; same
    // Gonzalez-seeded trainer). Pools are already exact integral doubles,
    // so training runs directly in the routing space (no re-quantization);
    // empty-cluster slots refill from the md5-order pick (duplicates are
    // harmless — lower cell id wins ties, the loser stays empty).
    val cents: IndexedSeq[(String, Array[Double])] =
      if (!trained) picked(nlist)
      else {
        val means = Ann.trainCentroidsQ(
          d.select(col("id"), col("pool").as("qv")), nlist, rounds = 2)
        val full =
          if (means.size >= nlist) means.take(nlist)
          else means ++ picked(nlist - means.size).map(_._2)
        full.toIndexedSeq.zipWithIndex.map { case (v, i) => (f"t$i%05d", v) }
      }
    Seq((cents.size, scale)).toDF("nlist", "scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model/meta")
    cents.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cent_id", "cent_vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model/coarse")
    d.withColumn("cell", element_at(probeCellsD(cents, col("pool"), 1), 1))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/mats")
  }

  /** The frozen model as plan-side values — a bounded collect by the build
    * contract (nlist centroid rows + one meta row).
    */
  private def readModel(spark: SparkSession, dir: String)
      : (Seq[(String, Array[Double])], Double) = {
    val meta = spark.read.parquet(s"$dir/model/meta").collect().head
    val cents = spark.read.parquet(s"$dir/model/coarse").collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
      .toIndexedSeq.sortBy(_._1)
    (cents, meta.getAs[Double]("scale"))
  }

  /** Probe the stored late-interaction index: route each query's pooled
    * vector to its `nprobe` nearest cells under the STORED centroids, scan
    * ONLY those cells' matrix partitions (the probed-cell union is ≤ nlist
    * values — collected and pushed as a partition filter, so pruning
    * happens at file-listing time), pooled-screen to an `mShort`
    * shortlist, and exact-MaxSim re-rank to top `k`. The quantization
    * scale comes from the model, never the caller.
    *
    * Both stages re-scan the pruned parquet rather than persisting it —
    * the shortlist is broadcast INTO the second scan (mShort·|Q| rows), so
    * nothing corpus-sized shuffles or pins memory at any index size. With
    * `nprobe == nlist` the result is exactly [[maxSimTopKPooled]] over the
    * indexed corpus (the oracle identity, [[Pq.probeIndex]]'s law); at
    * nprobe < nlist recall trades against the pruned-scan fraction, the
    * knob plans/ANN.md measures for the vector families.
    *
    * Output: (query_id, rank, neighbor_id, maxsim BIGINT) under the
    * (maxsim DESC, neighbor_id ASC) total order; self-pairs excluded.
    */
  def probeIndex(queryVecs: DataFrame, idCol: String, posCol: String,
                 vecCol: String, dir: String, k: Int, nprobe: Int,
                 mShort: Int): DataFrame = {
    import graft.Caching.TrackedSyntax
    require(k > 0, s"k must be positive, got $k")
    require(mShort >= k, s"shortlist mShort=$mShort must be >= k=$k")
    val spark = queryVecs.sparkSession
    val (cents, scale) = readModel(spark, dir)
    require(nprobe >= 1 && nprobe <= cents.size,
      s"nprobe ($nprobe) must be in [1, nlist=${cents.size}]")
    // gathered once, consumed three times (routing collect, screen, re-rank)
    val q = gatherMatrix(queryVecs, idCol, posCol, vecCol,
      "query_id", "__qmat", scale)
      .withColumn("__qpool", pooledCol(col("__qmat")))
      .trackedPersist()
    val probed = q.select(col("query_id"), col("__qpool"),
      explode(probeCellsD(cents, col("__qpool"), nprobe)).as("cell"))
    // the probed-cell union across the batch: ≤ nlist ids, a bounded
    // collect that becomes a partition-pruning predicate on the layout
    val cells = probed.select("cell").distinct().collect().map(_.getString(0))
    val mats = graft.streaming.Streams.readIndex(spark, s"$dir/mats", recursive = false)
      .filter(col("cell").isin(cells.toSeq: _*))
    val screened = mats.select(col("id").as("neighbor_id"), col("pool"), col("cell"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pooledDotCol(col("__qpool"), col("pool")).as("pooled"))
    val shortlist = Ann.topKTail(screened, mShort, scoreCol = "pooled")
      .select("query_id", "neighbor_id")
    val rescored = mats.select(col("id").as("neighbor_id"), col("mat"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("__qmat"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        maxSimCol(col("__qmat"), col("mat")).as("maxsim"))
    Ann.topKTail(rescored, k, scoreCol = "maxsim")
  }

  /** Index maintenance under the frozen model ([[Pq.indexCodesDelta]]'s
    * contract): retire `retiredIds` (the shared
    * [[graft.dedup.Dedup.retiredIdFrame]] rule), gather + pool + route the
    * admitted documents with the STORED scale and centroids, and return
    * the maintained (id, cell, mat, pool) set — row-identical to
    * re-gathering the maintained membership from scratch under the same
    * model (gather, pooling, and routing are deterministic projections of
    * the token rows), the identity q_maxsim_index_delta's oracle checks.
    * The caller writes the result back
    * ([[graft.operators.Sinks.swapWrite]] with `partitionBy("cell")` —
    * the atomic-swap writer; an in-place overwrite would delete the input
    * under the job reading it) or appends just the admitted slice. `retiredIds` retires STORED rows only;
    * admitted rows always enter — so retire + admit in one call replaces
    * a changed document (the [[graft.dedup.Dedup.indexDelta]] snapshotDiff
    * contract: retired = removed ∪ changed, admitted = added ∪ changed).
    */
  def indexMatsDelta(admitted: DataFrame, idCol: String, posCol: String,
                     vecCol: String, dir: String,
                     retiredIds: DataFrame): DataFrame = {
    val spark = admitted.sparkSession
    // restart step first: finish any stranded swap before listing mats/
    graft.operators.Sinks.recoverSwap(spark, s"$dir/mats")
    val (cents, scale) = readModel(spark, dir)
    // retired ∪ admitted ids (Dedup.replaceIdFrame): admitted documents
    // replace any stored copy — idempotent under crash replay
    val retire = graft.dedup.Dedup.replaceIdFrame(retiredIds, admitted, idCol)
    val kept = graft.streaming.Streams.readIndex(spark, s"$dir/mats", recursive = false)
      .join(broadcast(retire), Seq("id"), "left_anti")
      .select("id", "cell", "mat", "pool")
    // retire applies to STORED rows only — retire + admit = single-call
    // replace (the Dedup.indexDelta contract; see Pq.indexCodesDelta).
    // null pools filter out exactly as writeIndex does, keeping the
    // maintained ≡ rebuilt identity over the same layout rule
    val fresh = gatherMatrix(admitted, idCol, posCol, vecCol, "id", "mat", scale)
      .withColumn("pool", pooledCol(col("mat")))
      .filter(col("pool").isNotNull)
      .withColumn("cell", element_at(probeCellsD(cents, col("pool"), 1), 1))
      .select("id", "cell", "mat", "pool")
    kept.unionByName(fresh)
  }
}
