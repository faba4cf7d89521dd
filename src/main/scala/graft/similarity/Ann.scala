package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.functions.Vectors

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY §2.G6–G7).
  *
  * Scale posture: [[bruteForceTopK]] broadcasts the query set (queries ×
  * corpus is fine when queries fit in an executor); [[lshTopK]] buckets both
  * sides by random-hyperplane signature so corpus×corpus search shuffles
  * O(n) rows per probe instead of n².
  */
object Ann {

  /** The shared ranking tail: top-k per query over a scored candidate
    * frame (`query_id`, `neighbor_id`, `cosine`), emitted as
    * (query_id, rank, neighbor_id, cosine) with the (cosine desc,
    * neighbor_id asc) total order.
    *
    * Implemented as the bounded [[org.apache.spark.sql.graftglue.TopKStruct]]
    * aggregate, NOT a `row_number()` window: Spark's WindowGroupLimit
    * pushdown bounds the window form's shuffle too, but forces a full
    * map-side SORT of every scored candidate (|Q|·|C| rows for brute
    * force) plus a second sort after the exchange, where the heap
    * aggregate does O(n·log k) updates with no sort at all — measured
    * 2.7× end-to-end on the brute margin decade (plans/SCALE.md r8.4;
    * requires the fallback-threshold conf [[graft.GraftSession.tune]]
    * sets, see [[org.apache.spark.sql.graftglue.TopKStruct]]).
    * Same rows, same order (unique ids per query make the order total), so
    * window-based SQL oracles remain valid bit-for-bit — with one
    * deliberate edge divergence: a NULL score (a null/zero-information
    * candidate, e.g. a null embedding's cosine) is never ranked, where the
    * window form's NULLS LAST padded trailing ranks with such candidates
    * when a query had fewer than k real ones. Ranking a null similarity
    * is meaningless; every oracled corpus has non-null vectors.
    */
  private[graft] def topKTail(scored: DataFrame, k: Int,
                              scoreCol: String = "cosine",
                              ascending: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, TopKStruct}
    // distance metrics (adc2/d2) rank ascending — the aggregate's
    // `smallest` flag flips the keep order without touching the values
    val agg = ColumnBridge.column(
      TopKStruct(ColumnBridge.expression(col(scoreCol)),
        ColumnBridge.expression(col("neighbor_id")), k,
        smallest = ascending).toAggregateExpression())
    scored.groupBy("query_id").agg(agg.as("__nbrs"))
      .select(col("query_id"), posexplode(col("__nbrs")).as(Seq("__p", "__nb")))
      .select(col("query_id"), (col("__p") + 1).cast(LongType).as("rank"),
        col("__nb.neighbor").as("neighbor_id"),
        col("__nb.score").as(scoreCol))
  }

  /** Brute-force cosine top-k: every query row scores every corpus row;
    * by default the QUERY side is broadcast (no corpus shuffle at all),
    * ranking is the bounded [[topKTail]] aggregate. Deterministic
    * tie-break on corpus id.
    *
    * `broadcastCorpus = true` flips the broadcast side — the shape for a
    * delta-sized CORPUS scored against a big query set (the streaming
    * margin-mining backward pass: every stored-corpus row ranks its
    * top-k within the arriving micro-batch, so the batch broadcasts and
    * the corpus streams through untouched). The result is identical
    * either way (a cross join is symmetric; only the build side moves).
    *
    * Output: (query_id, rank, neighbor_id, cosine).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     broadcastCorpus: Boolean = false): DataFrame = {
    // Norms computed once per row BEFORE the pairwise cross join — the join
    // then evaluates exactly one codegen'd dot product per (query, corpus)
    // pair instead of three interpreted HOF folds.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", Vectors.fnorm(col("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", Vectors.fnorm(col("c_vec")))
    val joined = if (broadcastCorpus) q.crossJoin(broadcast(c))
                 else c.crossJoin(broadcast(q))
    val scored = joined
      .withColumn("cosine",
        Vectors.fcosine(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")))
      .filter(col("query_id") =!= col("neighbor_id"))
    topKTail(scored, k)
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * derived from md5(seed:p:j) — reproducible across runs AND engines
    * without RNG state. The 15-hex-digit (60-bit) prefix keeps the integer
    * expressible in any engine's signed 64-bit hex parse (DuckDB:
    * `('0x' || substring(md5(s), 1, 15))::BIGINT`), so an oracle can rebuild
    * the exact same planes: v / 2^59 - 1 ∈ [-1, 1.00000…).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Int = 42): Array[Array[Double]] = {
    Array.tabulate(numPlanes, dim) { (p, j) =>
      md5Prefix60(s"$seed:$p:$j").toDouble / (1L << 59).toDouble - 1.0
    }
  }

  /** The 60-bit md5-prefix integer behind every derived-matrix device
    * ([[hyperplanes]], [[Jl.signMatrix]]): the 15-hex-digit prefix parses
    * in any engine's signed 64-bit hex space, so SQL oracles rebuild the
    * same values. ONE home (the [[Clustering.quantize]] rule): two copies
    * drifting apart would silently desync whichever family kept the
    * stale recipe from its oracle.
    */
  private[graft] def md5Prefix60(key: String): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Coarse-quantizer centroids shared by [[ivfTopK]] and
    * [[Pq.ivfAdcTopK]]: `nlist` corpus vectors picked by md5-order of the
    * row id (a STRING key — a LongType cast would null out non-numeric ids
    * and poison the assignment — doubling as the deterministic selection
    * order). Driver-collected BY DESIGN: centroid sets are config-table
    * sized, and landing them in the plan as literals makes assignment and
    * probing pure projections.
    */
  private[graft] def coarseCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Seq[(String, Seq[Float])] = {
    val centRows = corpus
      .select(md5(col(idCol).cast(StringType)).as("cent_id"), col(vecCol).as("cent_vec"))
      .orderBy("cent_id").limit(nlist)
      .collect()
    val cents: Seq[(String, Seq[Float])] =
      centRows.toIndexedSeq.map(r => (r.getString(0), r.getSeq[Float](1)))
    require(cents.nonEmpty, "empty corpus")
    cents
  }

  /** TRAINED coarse-quantizer centroids: deterministic k-means
    * ([[Clustering.lloydCentroids]] — md5-order seeding, exact integral
    * sums) over an md5 hash-mod sample of the corpus, returned in the
    * [[coarseCentroids]] shape. On near-isotropic synthetic embeddings the
    * md5-order document pick is indistinguishable from a trained
    * quantizer, but on REAL embedding distributions (clustered,
    * anisotropic) random-document centroids produce badly unbalanced
    * cells — one hot cell holds most of the corpus and the stored-index
    * partition-pruning story silently degrades toward a full scan; FAISS
    * k-means-trains coarse quantizers for exactly this reason.
    * plans/ANN.md r11 measures cell balance and recall@k on clustered
    * (non-isotropic) synthetic data for both paths.
    *
    *  - Seeding is farthest-point (Gonzalez) over an md5-order CANDIDATE
    *    set of `8 · nlist` corpus vectors, run on the driver (config-table
    *    sized — the FAISS train-on-a-sample economics): md5-order seeds
    *    alone routinely land two in one cluster, and Lloyd can never
    *    split them apart while another true cluster goes unseeded —
    *    farthest-point guarantees one seed per well-separated cluster
    *    before Lloyd refines the means;
    *  - `rounds` Lloyd passes (2 by default — seed, assign, update),
    *    each one corpus-sample scan + a k·dim-row driver collect;
    *  - `sampleMod` trains on the deterministic 1/sampleMod md5 slice of
    *    the corpus (production corpora train on a sample; the assignment
    *    pass always covers every row). A sampleMod whose hash-mod slice
    *    selects ZERO rows (legal range depends on corpus size) is not an
    *    error: [[trainCentroidsQ]] returns no means and every slot
    *    refills from the md5-order corpus pick below — the caller gets
    *    the untrained selection instead of a misleading "empty corpus"
    *    abort;
    *  - duplicate-heavy candidates or empty Lloyd clusters can leave
    *    fewer than `nlist` centroids: missing slots refill with md5-order
    *    corpus picks so the caller's `nlist` is the cell count actually
    *    stored — probe `require(nprobe <= nlist)` contracts and
    *    plans/ANN.md's pruned-fraction math depend on it. A refill
    *    duplicating a trained mean is harmless: assignment tie-breaks to
    *    the lower cell id and the loser stays empty.
    *
    * Ids are `t%05d` by cluster index — disjoint from the md5-hex ids of
    * the untrained pick and string-sort-stable, so stored models remain
    * self-describing about which path built them.
    */
  private[graft] def trainedCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
      rounds: Int = 2, sampleMod: Int = 1,
      scale: Double = 1048576.0): Seq[(String, Seq[Float])] = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val base = corpus.select(col(idCol).as("__tid"), col(vecCol).as("__tv"))
    val sample =
      if (sampleMod == 1) base
      else base.filter(
        pmod(conv(substring(md5(col("__tid").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType), lit(sampleMod.toLong)) === 0)
    val q = sample.select(col("__tid").as("id"),
      Clustering.quantize(col("__tv"), scale).as("qv"))
    val trained = trainCentroidsQ(q, nlist, rounds)
      .map(_.map(_ / scale).map(_.toFloat).toSeq) // quantized units → raw
    val full =
      if (trained.size >= nlist) trained.take(nlist)
      else trained ++
        coarseCentroids(corpus, idCol, vecCol, nlist - trained.size).map(_._2)
    full.zipWithIndex.map { case (v, i) => (f"t$i%05d", v) }
  }

  /** The shared quantized-space trainer behind [[trainedCentroids]] and
    * [[MaxSim.writeIndex]]'s pooled-vector path: Gonzalez farthest-point
    * seeding over an md5-order candidate set, then
    * [[Clustering.lloydRounds]]. Input `q` is an (id, qv) frame whose
    * vectors are already in the space the centroids should live in
    * (quantized embeddings, or integral pooled sums at scale 1); output
    * means stay in that space and may number FEWER than `nlist`
    * (duplicate-saturated candidates, empty Lloyd clusters) — or NONE at
    * all when `q` is empty (an over-aggressive sampleMod slice) — callers
    * pad from their md5-order pick, which is also where a genuinely empty
    * corpus fails with its own message.
    */
  private[similarity] def trainCentroidsQ(q: DataFrame, nlist: Int,
                                          rounds: Int): Seq[Array[Double]] = {
    // candidate set: 8·nlist vectors in md5-order (deterministic), driver-
    // collected — config-table sized, the scale contract of every centroid
    // device in this file
    val cand = q
      .withColumn("__h", md5(col("id").cast(StringType)))
      .orderBy(col("__h"), col("id")).limit(8 * nlist)
      .select(col("qv")).collect()
      .map(_.getSeq[Double](0).toArray)
    if (cand.isEmpty) return Nil
    // Gonzalez farthest-point over the candidates (driver-side O((8k)²·d)):
    // start from the smallest-md5 candidate, repeatedly take the candidate
    // farthest from the picked set (ties → lowest candidate index); stop
    // early when the farthest remaining distance is 0 — every candidate
    // then coincides with a seed
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val seeds = scala.collection.mutable.ArrayBuffer(cand(0))
    val minD = Array.fill(cand.length)(Double.MaxValue)
    var covered = false
    while (seeds.size < nlist && !covered) {
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < cand.length) {
        minD(i) = math.min(minD(i), d2(cand(i), seeds.last))
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      if (bestD == 0.0) covered = true else seeds += cand(best)
    }
    Clustering.lloydRounds(q, seeds.toSeq.zipWithIndex.map(_.swap), rounds)
      .map(_._2)
  }

  /** The build-time centroid switch shared by every IVF family:
    * [[trainedCentroids]] k-means (`trained = true` — the DEFAULT since
    * r12: on real, clustered embedding distributions the md5 document
    * pick leaves hot cells that defeat routing and partition pruning —
    * 4× scan cost for the same recall, recall capped at 0.79 on skewed
    * regimes where trained reaches 1.0, plans/ANN.md r11 — and a default
    * IS the product at 100× scale) or the md5-order document pick
    * (`trained = false` — zero extra jobs, and cell ids an external SQL
    * replay can re-derive; the oracle-replayable test form).
    */
  private[graft] def centroidsFor(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
      trained: Boolean): Seq[(String, Seq[Float])] =
    if (trained) trainedCentroids(corpus, idCol, vecCol, nlist)
    else coarseCentroids(corpus, idCol, vecCol, nlist)

  /** The centroid set as the native [[org.apache.spark.sql.graftglue
    * .ProbeCells]] expression — ONE reference object holding the whole
    * matrix, so the PLAN is constant size in nlist. The previous
    * formulation (`least()`/`array_sort` over nlist per-centroid struct
    * expressions, each embedding its centroid as a literal) scaled the
    * expression tree with nlist × dim: at nlist = 64 that is 4096 literal
    * doubles and 64 inlined dot expansions per projection, seconds of
    * analysis + Janino time per direction (measured: ivfTopK at
    * nlist = 16 cost 8× brute force on 1M pairs purely in plan overhead),
    * and a hard wall long before a production 4096-cell quantizer.
    */
  private def probeExpr(cents: Seq[(String, Seq[Float])], vec: Column,
                        nprobe: Int): Column = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, ProbeCells}
    ColumnBridge.column(ProbeCells(ColumnBridge.expression(vec),
      cents.map(_._1).toArray,
      cents.map(_._2.map(_.toDouble).toArray).toArray, nprobe))
  }

  /** Nearest-cell id for one row — a codegen'd projection with ZERO
    * shuffle (a crossJoin+groupBy formulation would re-shuffle every
    * corpus vector through an exchange).
    */
  private[graft] def nearestCell(cents: Seq[(String, Seq[Float])],
                                 vec: Column): Column =
    element_at(probeExpr(cents, vec, 1), 1)

  /** The `nprobe` nearest cells for a query row as an exploded column —
    * again a pure projection.
    */
  private[graft] def probeCells(cents: Seq[(String, Seq[Float])],
                                vec: Column, nprobe: Int): Column =
    explode(probeExpr(cents, vec, nprobe))

  /** IVF top-k (G7 scale path): coarse-quantize the corpus onto `nlist`
    * centroids, then search only the `nprobe` nearest cells per query —
    * the inverted-file ANN layout (à la FAISS IVF-Flat), relational:
    *
    *  1. centroids = [[centroidsFor]]'s pick — k-means-TRAINED by default
    *     (r12; `trained = false` falls back to the md5-order document
    *     pick), driver-collected: centroid sets are config-table sized by
    *     design, and landing them in the plan as LITERALS makes steps 2
    *     and 3 pure projections;
    *  2. each corpus row assigns to its nearest centroid via the native
    *     [[org.apache.spark.sql.graftglue.ProbeCells]] expression (the
    *     centroid matrix as ONE reference object — constant plan size in
    *     nlist; see [[probeExpr]]) — a codegen'd projection with ZERO
    *     shuffle (a crossJoin+groupBy formulation would re-shuffle every
    *     corpus vector through the exchange);
    *  3. each query probes its `nprobe` nearest cells — the same
    *     expression at nprobe, again a projection;
    *  4. candidates = bucket contents of the probed cells (one equi-join on
    *     cell id); exact cosine re-ranks.
    *
    * With `nprobe == nlist` this is exhaustive and matches [[bruteForceTopK]].
    * Output shape matches [[bruteForceTopK]]; recall < 1 when nprobe < nlist.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 64, nprobe: Int = 8,
              trained: Boolean = true): DataFrame = {
    val cents = centroidsFor(corpus, idCol, vecCol, nlist, trained)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", Vectors.fnorm(col("c_vec")))
    val assigned = c.withColumn("cell", nearestCell(cents, col("c_vec")))

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", Vectors.fnorm(col("q_vec")))
    val probed = q.withColumn("__pc",
        probeCells(cents, col("q_vec"), nprobe))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        col("__pc").as("cell"))
    // 4. search only the probed cells
    val cand = probed.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Vectors.fcosine(col("q_vec"), col("c_vec"),
        col("q_norm"), col("c_norm")))
    topKTail(cand, k)
  }

  /** LSH-bucketed top-k (G7): bucket corpus and queries by the sign pattern
    * of `numPlanes` random hyperplanes; score only within matching buckets.
    * Recall < 1.0 by construction; probe multiple plane-subsets ("bands") to
    * raise it. Output shape matches [[bruteForceTopK]].
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int, dim: Int,
              numPlanes: Int = 8, bands: Int = 2, seed: Int = 42): DataFrame = {
    // `dim` is caller-supplied (it's a property of the embedding model, not
    // of the data) — probing it with a driver-side .head() at plan time
    // would run a job just to build the plan.
    val planes = hyperplanes(numPlanes, dim, seed)
    val perBand = numPlanes / bands
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame = {
      val sigCol = Vectors.hyperplaneSignature(col(vec), planes)
      val bandKeys = array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", slice(sigCol, b * perBand + 1, perBand)).as("bkey"))
      }: _*)
      df.select(col(id), col(vec), explode(bandKeys).as("bk"))
        .select(col(id), col(vec), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    }
    val q = bucketed(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec")
    val c = bucketed(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      "neighbor_id", "c_vec")
    val cand = q.join(c, Seq("band", "bkey"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "q_vec", "neighbor_id", "c_vec").distinct()
    val scored = cand
      .withColumn("cosine", Vectors.fcosine(col("q_vec"), col("c_vec"),
        Vectors.fnorm(col("q_vec")), Vectors.fnorm(col("c_vec"))))
    topKTail(scored, k)
  }
}
