package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the memory-compression scale path for
  * embedding search that [[Ann]]'s IVF/LSH variants don't cover: at 100 TB
  * a float corpus cannot stay resident, but `m` one-byte codes per vector
  * can. Splits each vector into `m` contiguous subspaces, k-means each
  * subspace ([[Clustering.lloydCentroids]] — md5-seeded, quantized, so
  * training is bit-deterministic cross-engine), stores per-vector code
  * words, and answers queries with asymmetric distance computation (ADC):
  * the query precomputes an m×k distance table; each corpus row costs m
  * map lookups + adds, never a dot product.
  *
  * Scale shape: training collects only k·subdim doubles per subspace
  * (model-sized); encoding is a zero-shuffle projection against broadcast
  * codebook literals; ADC scoring broadcasts the query-side distance
  * tables and the corpus never shuffles — the only exchange is the
  * per-query top-k window, over rows already cut to (id, score).
  *
  * Determinism: subspace distances fold left-to-right over quantized
  * components (≡ DuckDB `list_dot_product`); the ADC sum adds the m
  * subspace distances in fixed subspace order; ranks tie-break by
  * neighbor id.
  */
object Pq {

  // quantization + distance fold are SHARED with Clustering (one home for
  // the cross-engine determinism contract)
  private def quantize(vec: Column, scale: Double): Column =
    Clustering.quantize(vec, scale)
  private def dist2(subv: Column, cv: Array[Double]): Column =
    Clustering.dist2(subv, cv)

  /** Per-subspace codebooks: `m` independent Lloyd runs over the sliced
    * corpus. `dim` is passed, not probed ([[Ann]] lesson — no driver
    * `.head()` at plan time). Returns one (cid, centroid) set per subspace.
    */
  def trainCodebooks(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int, m: Int, k: Int, rounds: Int = 2,
                     scale: Double = 1048576.0): Seq[Seq[(Int, Array[Double])]] = {
    require(m > 0 && dim % m == 0, s"dim ($dim) must divide into m ($m) subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      Clustering.lloydCentroids(
        df.select(col(idCol).as("id"),
          slice(col(vecCol), j * sub + 1, sub).as("subv")),
        "id", "subv", k, rounds, scale)
    }
  }

  /** Encode the corpus: (id, carry…, codes) with one centroid id per
    * subspace — a zero-shuffle projection chain against broadcast codebook
    * literals. `carry` columns of `df` ride through unchanged (e.g. an IVF
    * cell id computed in the same scan — see [[ivfAdcTopK]]).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             codebooks: Seq[Seq[(Int, Array[Double])]],
             scale: Double = 1048576.0,
             carry: Seq[String] = Nil): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head._2.length
    var cur = df.select(col(idCol).as("id") +: carry.map(col) :+
      quantize(col(vecCol), scale).as("__qv"): _*)
    for (j <- 0 until m) {
      cur = Clustering.withCluster(
          cur.withColumn("__sv", slice(col("__qv"), j * sub + 1, sub)),
          "__sv", codebooks(j), scale = 1.0)
        .withColumnRenamed("cluster", s"__c$j")
        .drop("dist2", "__sv")
    }
    cur.select(col("id") +: carry.map(col) :+
      array((0 until m).map(j => col(s"__c$j")): _*).as("codes"): _*)
  }

  /** Add per-subspace query distance tables `__dt0..__dt{m-1}` (cid → d2)
    * to a frame carrying a quantized `__qv` column — computed BEFORE any
    * join with the corpus so each corpus row pays m map lookups, not m×k
    * folds. Shared by [[adcTopK]] and [[ivfAdcTopK]].
    */
  private def withDistTables(q: DataFrame,
                             codebooks: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    // constant plan size in k: each subspace's (cid, center) codebook rides
    // as reference objects inside the native DistMap (map values identical
    // to the per-center SqDistLit values it replaced — its scaladoc has the
    // contract); the r8 form was m×k dim-length literals with inlined
    // distance expansions PLUS a k-element cid literal per subspace in one
    // projection (2048+ literals at a production m=8, k=256 — the
    // ProbeCells/NearestCenter plan-size pathology)
    import org.apache.spark.sql.graftglue.{ColumnBridge, DistMap}
    val sub = codebooks.head.head._2.length
    codebooks.zipWithIndex.foldLeft(q) { case (acc, (cbRaw, j)) =>
      val cb = cbRaw.sortBy(_._1)
      val subv = slice(col("__qv"), j * sub + 1, sub)
      acc.withColumn(s"__dt$j",
        ColumnBridge.column(DistMap(ColumnBridge.expression(subv),
          cb.map(_._1).toArray, cb.map(_._2).toArray)))
    }
  }

  /** ADC top-k: for each query, the `topK` nearest corpus codes by summed
    * per-subspace quantized squared L2 to the query's exact subvectors.
    * Self-pairs are excluded (the [[Ann.bruteForceTopK]] convention).
    * Output: (query_id, rank, neighbor_id, adc2).
    */
  def adcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, codebooks: Seq[Seq[(Int, Array[Double])]],
              topK: Int, scale: Double = 1048576.0): DataFrame = {
    val m = codebooks.length
    val q = withDistTables(queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol), scale).as("__qv")), codebooks)
    val codes = encode(corpus, idCol, vecCol, codebooks, scale)
    val scored = codes.crossJoin(broadcast(q.drop("__qv")))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), adcSum(m).as("adc2"))
    rankTopK(scored, topK)
  }

  /** Sum of the m per-subspace table lookups for one (query, code) pair. */
  private def adcSum(m: Int): Column =
    (0 until m).map(j =>
      element_at(col(s"__dt$j"), element_at(col("codes"), j + 1))).reduce(_ + _)

  /** (adc2 asc, neighbor asc) top-k via the bounded [[Ann.topKTail]]
    * aggregate — candidate rows partial-aggregate map-side instead of all
    * flowing through a per-query window exchange (see topKTail's note).
    */
  private def rankTopK(scored: DataFrame, topK: Int): DataFrame =
    Ann.topKTail(scored, topK, scoreCol = "adc2", ascending = true)

  /** Exact re-rank of an ADC shortlist — the production recall lever
    * named in plans/ANN.md ("recall tuned by re-ranking an ADC shortlist
    * with exact dots"): ADC's quantization error reorders CLOSE
    * neighbors, so search wide with compressed codes (topK = m shortlist
    * from [[adcTopK]]/[[ivfAdcTopK]]) and settle the final order with
    * |Q|·m exact distances — never |Q|·|C|.
    *
    * Plan shape: the shortlist joins the (broadcast) query vectors, then
    * hash-joins the corpus on neighbor_id — the corpus contributes ONLY
    * the shortlisted rows (AQE broadcasts the |Q|·m side), and the exact
    * d² = (q·q + c·c) − 2·q·c is three codegen'd [[Vectors.fdot]] calls
    * per shortlist row. Output: (query_id, rank, neighbor_id, d2), the
    * per-query exact-L2 top-k of the shortlist.
    */
  def rerank(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, topK: Int): DataFrame = {
    import graft.functions.Vectors
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = shortlist.select("query_id", "neighbor_id")
      .join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (Vectors.fdot(col("__qv"), col("__qv"))
          + Vectors.fdot(col("__cv"), col("__cv"))
          - lit(2.0) * Vectors.fdot(col("__qv"), col("__cv"))).as("d2"))
    Ann.topKTail(scored, topK, scoreCol = "d2", ascending = true)
  }

  /** IVF-routed ADC — the production composition of [[Ann.ivfTopK]]'s
    * coarse routing with [[adcTopK]]'s compressed scoring (FAISS
    * "IVFPQ"): [[adcTopK]] alone scans EVERY code per query (the right
    * form factor when the whole code table is RAM-resident and queries
    * are few); at corpus scale the scan itself is the bill, so route
    * through `nlist` coarse cells and score only the `nprobe` cells
    * nearest each query — the scanned fraction drops to ~nprobe/nlist.
    *
    * Plan shape: cell assignment rides the SAME zero-shuffle projection
    * scan that encodes the corpus (centroids are literals — see
    * [[Ann.coarseCentroids]]); the probed query side (queries × nprobe
    * rows, carrying the m distance tables) broadcasts into one hash join
    * on the cell id, so the corpus never shuffles and never pays a
    * cartesian. The only exchange is the per-query top-k window over
    * already-cut (id, score) rows — identical to [[adcTopK]]'s tail.
    *
    * With `nprobe == nlist` every cell is probed and the result is
    * EXACTLY [[adcTopK]] (same scores, same id tie-break — q_pq_ivf's
    * oracle identity); recall < 1 when nprobe < nlist, the standard IVF
    * trade measured in plans/ANN.md.
    */
  // -------------------------------------------------------------------
  // Persistent index (G47): the ANN twin of the LSH / winnow stored
  // indexes — build once, probe deltas daily, maintain by delta.
  // -------------------------------------------------------------------

  /** Write a persistent IVFPQ index under `dir`, a generation-pointer
    * dir: ONE [[graft.operators.Sinks.swapGeneration]] writes the model
    * and the codes into a fresh `dir/gen-N/` and flips `_CURRENT` once, so
    * no reader or crash ever pairs one build's model with another's codes:
    *
    *   - `coarse`    — (cent_id, cent_vec): the nlist coarse cells
    *   - `codebooks` — (subspace, cid, centroid): PQ codebooks
    *   - `rotation`  — (i, row): the OPQ rotation, when one is used (an
    *     unrotated rebuild's generation simply has none)
    *   - `codes`     — (id, codes) parquet PARTITIONED BY `cell`
    *
    * `rotation` (typically [[Pca.rotation]] — the OPQ whitening step) is
    * applied to every corpus vector BEFORE coarse assignment, codebook
    * training, and encoding, and is PERSISTED AS PART OF THE MODEL:
    * [[probeIndex]] and [[indexCodesDelta]] read it back and apply it to
    * queries/deltas automatically, so build-time and probe-time rotation
    * can never drift apart (previously the caller had to rotate
    * consistently on both sides by hand, with nothing enforcing it —
    * codes under a rotated model are meaningless for unrotated queries).
    *
    * The cell partitioning is the point: a probe's nprobe-cell routing
    * becomes directory-level partition pruning — the scan lists and reads
    * ~nprobe/nlist of the code files before a byte of ADC work
    * (plans/ANN.md measures the pruned fraction). The MODEL is frozen at
    * build time and deliberately tiny (centroids are config-table-sized
    * by the [[Ann.coarseCentroids]] contract): codes are meaningless
    * under a retrained model, so daily generations [[indexCodesDelta]]
    * against the stored model and only a deliberate re-train rewrites the
    * index — the same economics as [[graft.dedup.Dedup.indexDelta]] /
    * `winnowIndexDelta`, extended to the vector side of the crawl loop.
    *
    * `trained = true` (k-means coarse quantizer, [[Ann.trainedCentroids]])
    * is the DEFAULT (r12): on real (clustered) embedding distributions
    * the md5-order document pick leaves hot cells that defeat partition
    * pruning — measured 4× scan cost at equal recall in plans/ANN.md
    * r11, and a default IS the product at 100× scale. `trained = false`
    * remains for zero-training builds and for cell ids an external SQL
    * replay can re-derive; probes and deltas read whichever centroids
    * the model stores, so the flag is build-time only.
    */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 dim: Int, m: Int, k: Int, dir: String,
                 nlist: Int = 64, rounds: Int = 2,
                 scale: Double = 1048576.0,
                 rotation: Option[Array[Array[Double]]] = None,
                 trained: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    // rotate ONCE in the corpus projection; training, cell assignment and
    // encoding all see the rotated space (zero-shuffle MatVecMul)
    val corpusR = rotation.fold(corpus)(r =>
      Pca.rotateAll(corpus.select(col(idCol), col(vecCol)), vecCol, r))
    val cbs = trainCodebooks(corpusR, idCol, vecCol, dim, m, k, rounds, scale)
    val cents = Ann.centroidsFor(corpusR, idCol, vecCol, nlist, trained)
    val celled = corpusR.select(col(idCol), col(vecCol),
      Ann.nearestCell(cents, col(vecCol)).as("cell"))
    import spark.implicits._
    graft.operators.Sinks.swapGeneration(spark, dir) { gen =>
      Ann.writeCoarse(spark, cents, gen)
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.map { case (cid, cv) => (j, cid, cv.toSeq) }
      }.toDF("subspace", "cid", "centroid")
        .coalesce(1).write.parquet(s"$gen/codebooks")
      rotation.foreach(r => r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }
        .toSeq.toDF("i", "row").coalesce(1).write.parquet(s"$gen/rotation"))
      encode(celled, idCol, vecCol, cbs, scale, carry = Seq("cell"))
        .write.partitionBy("cell").parquet(s"$gen/codes")
    }
  }

  /** The live generation of index `dir` and its frozen model as plan
    * literals (model-sized collects by the build contract — nlist cells,
    * m·k codebook rows, d² rotation doubles when the index was built
    * rotated).
    */
  private def readModel(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (String, Seq[(String, Seq[Float])], Seq[Seq[(Int, Array[Double])]],
         Option[Array[Array[Double]]]) = {
    val gen = Ann.liveGeneration(spark, dir)
    val cbs = spark.read.parquet(s"$gen/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._2, t._3)).sortBy(_._1).toSeq)
    val rotPath = new org.apache.hadoop.fs.Path(s"$gen/rotation")
    val rot = Option.when(rotPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(rotPath))(spark.read.parquet(rotPath.toString).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2))
    (gen, Ann.readCoarse(spark, gen), cbs, rot)
  }

  /** Probe the stored index: route each query to its `nprobe` nearest
    * cells under the STORED coarse centroids, scan ONLY those cells'
    * code partitions (the probed-cell set is ≤ nlist values — collected
    * and pushed as a partition filter, so pruning happens at file-listing
    * time), and ADC-score with the STORED codebooks. A rotation stored in
    * the model ([[writeIndex]]'s OPQ option) is applied to the queries
    * automatically — the caller never rotates by hand. Output and
    * conventions match [[ivfAdcTopK]] — with `nprobe == nlist` the result
    * is exactly [[adcTopK]] over the indexed (rotated) corpus (the oracle
    * identity).
    */
  def probeIndex(queries: DataFrame, idCol: String, vecCol: String,
                 dir: String, topK: Int, nprobe: Int,
                 scale: Double = 1048576.0): DataFrame = {
    val spark = queries.sparkSession
    val (gen, cents, cbs, rot) = readModel(spark, dir)
    require(nprobe >= 1 && nprobe <= cents.size,
      s"nprobe ($nprobe) must be in [1, nlist=${cents.size}]")
    val m = cbs.length
    val qvec = rot.fold(col(vecCol))(r => Pca.rotate(col(vecCol), r))
    val q = withDistTables(queries.select(col(idCol).as("query_id"),
      qvec.as("__v"), quantize(qvec, scale).as("__qv")), cbs)
    val probed = q.withColumn("__pc",
        Ann.probeCells(cents, col("__v"), nprobe))
      .select(col("query_id") +: (0 until m).map(j => col(s"__dt$j")) :+
        col("__pc").as("cell"): _*)
    val scored = Ann.probedPartitions(s"$gen/codes", probed).join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), adcSum(m).as("adc2"))
    rankTopK(scored, topK)
  }

  /** Index maintenance under the frozen model: retire `retiredIds`, encode
    * `admitted` with the STORED codebooks/cells, return the maintained
    * (id, cell, codes) set — row-identical to re-encoding the maintained
    * membership from scratch under the same model (encoding is a
    * deterministic per-row projection), which is the maintenance identity
    * q_ann_index_delta's oracle checks. The model and the stored codes
    * are read from ONE live generation. Same contract as
    * [[graft.dedup.Dedup.indexDelta]]: the caller writes the result back
    * with `Sinks.swapWrite(result, s"$dir/codes", Seq("cell"))`, which
    * makes one new generation of `dir` holding these codes beside a byte
    * copy of the frozen model ([[graft.operators.Sinks.swapWrite]]'s
    * carry rule). `retiredIds` retires STORED rows only while admitted
    * rows always enter — retire + admit in one call replaces a changed
    * document (retired = removed ∪ changed, admitted = added ∪ changed).
    */
  def indexCodesDelta(admitted: DataFrame, idCol: String, vecCol: String,
                      dir: String, retiredIds: DataFrame,
                      scale: Double = 1048576.0): DataFrame = {
    val spark = admitted.sparkSession
    val (gen, cents, cbs, rot) = readModel(spark, dir)
    val kept = Ann.keptRows(s"$gen/codes", retiredIds, admitted, idCol).select("id", "cell", "codes")
    // a stored rotation applies to the DELTA too — frozen-model encoding
    // means frozen rotation as well
    val admittedR = rot.fold(admitted.select(col(idCol), col(vecCol)))(r =>
      Pca.rotateAll(admitted.select(col(idCol), col(vecCol)), vecCol, r))
    val celled = admittedR.select(col(idCol), col(vecCol),
      Ann.nearestCell(cents, col(vecCol)).as("cell"))
    // NO retire filter on the fresh side: retiredIds retires STORED rows
    // only, admitted rows always enter — so retire + admit in ONE call
    // re-encodes a changed document (the canonical Dedup.indexDelta
    // snapshotDiff recipe: retired = removed ∪ changed, admitted =
    // added ∪ changed). Anti-joining fresh too would silently DELETE
    // every changed document.
    val fresh = encode(celled, idCol, vecCol, cbs, scale, carry = Seq("cell"))
      .select("id", "cell", "codes")
    kept.unionByName(fresh)
  }

  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, codebooks: Seq[Seq[(Int, Array[Double])]],
                 topK: Int, nlist: Int = 64, nprobe: Int = 8,
                 scale: Double = 1048576.0,
                 trained: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe ($nprobe) must be in [1, nlist=$nlist]")
    import graft.functions.Vectors
    val m = codebooks.length
    val cents = Ann.centroidsFor(corpus, idCol, vecCol, nlist, trained)
    // cell + codes in ONE corpus projection (no second scan, no shuffle)
    val celled = corpus.select(col(idCol), col(vecCol),
      Ann.nearestCell(cents, col(vecCol)).as("__cell"))
    val codes = encode(celled, idCol, vecCol, codebooks, scale, carry = Seq("__cell"))
    val q = withDistTables(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__v"), quantize(col(vecCol), scale).as("__qv")), codebooks)
    val probed = q.withColumn("__pc",
        Ann.probeCells(cents, col("__v"), nprobe))
      .select(col("query_id") +: (0 until m).map(j => col(s"__dt$j")) :+
        col("__pc").as("__cell"): _*)
    val scored = codes.join(broadcast(probed), Seq("__cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), adcSum(m).as("adc2"))
    rankTopK(scored, topK)
  }
}
